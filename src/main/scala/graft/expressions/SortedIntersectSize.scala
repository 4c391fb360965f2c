package graft.expressions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}
import org.apache.spark.sql.SparkSession

/** |A ∩ B| for two ASCENDING-SORTED, DISTINCT int arrays, as one linear
  * merge — a native Catalyst expression with codegen.
  *
  * Why custom: the built-in `array_intersect` builds a hash set per
  * invocation and, being a higher-order-capable collection op, is
  * evaluated interpreted; on the dedup verify path it runs once per
  * candidate pair (hundreds of thousands of calls at bench scale,
  * billions at 100 TB), which made it the single hottest expression in
  * the engine. A merge over pre-sorted arrays is branch-cheap, allocates
  * nothing, and participates in whole-stage codegen via [[doGenCode]].
  *
  * Contract: both inputs sorted ascending with no duplicates (callers
  * produce them via `array_sort(array_distinct(...))` once per row —
  * sorting is amortized over all pairs the row participates in).
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<int> arguments, got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_size"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    val na = a.numElements(); val nb = b.numElements()
    while (i < na && j < nb) {
      val x = a.getInt(i); val y = b.getInt(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $i = 0, $j = 0, $c = 0;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  int $x = $a.getInt($i), $y = $b.getInt($j);
         |  if ($x == $y) { $c++; $i++; $j++; }
         |  else if ($x < $y) $i++;
         |  else $j++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

/** Graft's native expressions. Every graft session installs [[all]]
  * through `spark.sql.extensions=graft.plans.GraftExtensions`
  * ([[graft.GraftSession]]); operators never register them. The
  * idempotent [[GraftFunctions.register]] is for a session built
  * without the extension, and [[graft.SparkEntry.queries]] is its one
  * caller. */
object GraftFunctions {
  type Registration = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  val sortedIntersectSize: Registration = (
    FunctionIdentifier("sorted_intersect_size"),
    new ExpressionInfo(classOf[SortedIntersectSize].getName, "sorted_intersect_size"),
    (children: Seq[Expression]) => SortedIntersectSize(children(0), children(1)))

  val minhashSignature: Registration = (
    FunctionIdentifier("minhash_signature"),
    new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
    (children: Seq[Expression]) => MinHashSignature(children.head,
      graft.operators.TextDedup.NumHashes))

  val hashedShingleSet: Registration = (
    FunctionIdentifier("hashed_shingle_set"),
    new ExpressionInfo(classOf[HashedShingleSet].getName, "hashed_shingle_set"),
    (children: Seq[Expression]) => {
      val n = children(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"hashed_shingle_set: n must be an int literal, got $other")
      }
      HashedShingleSet(children.head, n)
    })

  val cosineSim: Registration = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
    (children: Seq[Expression]) => CosineSim(children(0), children(1)))

  val simhash16: Registration = (
    FunctionIdentifier("simhash16"),
    new ExpressionInfo(classOf[SimHash16].getName, "simhash16"),
    (children: Seq[Expression]) => SimHash16(children.head))

  val tokenProfile: Registration = (
    FunctionIdentifier("token_profile"),
    new ExpressionInfo(classOf[TokenProfile].getName, "token_profile"),
    (children: Seq[Expression]) => TokenProfile(children(0), children(1)))

  val rollingFingerprint: Registration = (
    FunctionIdentifier("rolling_fingerprint"),
    new ExpressionInfo(classOf[RollingFingerprint].getName, "rolling_fingerprint"),
    (children: Seq[Expression]) => RollingFingerprint(children.head))

  val shinglePosHashes: Registration = (
    FunctionIdentifier("shingle_pos_hashes"),
    new ExpressionInfo(classOf[ShinglePosHashes].getName, "shingle_pos_hashes"),
    (children: Seq[Expression]) => {
      val n = children(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"shingle_pos_hashes: n must be an int literal, got $other")
      }
      ShinglePosHashes(children.head, n)
    })

  val simhash60: Registration = (
    FunctionIdentifier("simhash60"),
    new ExpressionInfo(classOf[SimHash60].getName, "simhash60"),
    (children: Seq[Expression]) => SimHash60(children.head))

  val deflateRatio: Registration = (
    FunctionIdentifier("deflate_ratio"),
    new ExpressionInfo(classOf[DeflateRatio].getName, "deflate_ratio"),
    (children: Seq[Expression]) => DeflateRatio(children.head))

  val misraGries: Registration = (
    FunctionIdentifier("misra_gries"),
    new ExpressionInfo(classOf[MisraGriesTokens].getName, "misra_gries"),
    (children: Seq[Expression]) => {
      if (children.length != 2)
        throw new IllegalArgumentException(
          s"misra_gries: expected misra_gries(array<string>, int_literal), " +
            s"got ${children.length} argument(s)")
      val cap = children(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _)
          if v.isValidInt => v.toInt
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Short, _) =>
          v.toInt
        case other => throw new IllegalArgumentException(
          s"misra_gries: expected misra_gries(array<string>, int_literal); " +
            s"capacity must be an integral literal, got $other")
      }
      MisraGriesTokens(children.head, cap)
    })

  val rpProject: Registration = (
    FunctionIdentifier("rp_project"),
    new ExpressionInfo(classOf[RpProject].getName, "rp_project"),
    (children: Seq[Expression]) => {
      if (children.length != 3)
        throw new IllegalArgumentException(
          s"rp_project: expected rp_project(array<float>, in_lit, out_lit), " +
            s"got ${children.length} argument(s)")
      def intLit(e: Expression, what: String): Int = e match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"rp_project: $what must be an int literal, got $other")
      }
      RpProject(children.head, intLit(children(1), "in_dims"),
        intLit(children(2), "out_dims"))
    })

  val trigramCounts: Registration = (
    FunctionIdentifier("trigram_counts"),
    new ExpressionInfo(classOf[TrigramCounts].getName, "trigram_counts"),
    (children: Seq[Expression]) => {
      if (children.length != 1)
        throw new IllegalArgumentException(
          s"trigram_counts: expected trigram_counts(string), " +
            s"got ${children.length} argument(s)")
      TrigramCounts(children.head)
    })

  val pqEncode: Registration = (
    FunctionIdentifier("pq_encode"),
    new ExpressionInfo(classOf[PqEncode].getName, "pq_encode"),
    (children: Seq[Expression]) => {
      if (children.length != 6)
        throw new IllegalArgumentException(
          "pq_encode: expected pq_encode(array<float>, flat_codebook_lit, " +
            s"lens_lit, m_lit, k_lit, subdim_lit), got ${children.length} argument(s)")
      val flat = children(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(
            arr: org.apache.spark.sql.catalyst.util.ArrayData,
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.LongType, _)) => arr.toLongArray()
        case other => throw new IllegalArgumentException(
          s"pq_encode: flat codebook must be an array<long> literal, got $other")
      }
      val lens = children(2) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(
            arr: org.apache.spark.sql.catalyst.util.ArrayData,
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.IntegerType, _)) => arr.toIntArray()
        case other => throw new IllegalArgumentException(
          s"pq_encode: lens must be an array<int> literal, got $other")
      }
      def intLit(e: Expression, what: String): Int = e match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"pq_encode: $what must be an int literal, got $other")
      }
      PqEncode(children.head, flat, lens, intLit(children(3), "m"),
        intLit(children(4), "k"), intLit(children(5), "subdim"))
    })

  val kmeansTopCells: Registration = (
    FunctionIdentifier("kmeans_top_cells"),
    new ExpressionInfo(classOf[KmeansTopCells].getName, "kmeans_top_cells"),
    (children: Seq[Expression]) => {
      if (children.length != 3)
        throw new IllegalArgumentException(
          "kmeans_top_cells: expected kmeans_top_cells(array<float|double>, " +
            s"cents, n_lit), got ${children.length} argument(s)")
      val n = children(2) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"kmeans_top_cells: n must be an int literal, got $other")
      }
      KmeansTopCells(children(0), children(1), n)
    })

  val cosTopCells: Registration = (
    FunctionIdentifier("cos_top_cells"),
    new ExpressionInfo(classOf[CosTopCells].getName, "cos_top_cells"),
    (children: Seq[Expression]) => {
      if (children.length != 3)
        throw new IllegalArgumentException(
          "cos_top_cells: expected cos_top_cells(array<float>, " +
            s"cents, n_lit), got ${children.length} argument(s)")
      val n = children(2) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"cos_top_cells: n must be an int literal, got $other")
      }
      CosTopCells(children(0), children(1), n)
    })

  val adcLookup: Registration = (
    FunctionIdentifier("adc_lookup"),
    new ExpressionInfo(classOf[AdcLookup].getName, "adc_lookup"),
    (children: Seq[Expression]) => {
      if (children.length != 3)
        throw new IllegalArgumentException(
          "adc_lookup: expected adc_lookup(array<bigint>, lut, k_lit), " +
            s"got ${children.length} argument(s)")
      val k = children(2) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"adc_lookup: k must be an int literal, got $other")
      }
      AdcLookup(children(0), children(1), k)
    })

  val adcTable: Registration = (
    FunctionIdentifier("adc_table"),
    new ExpressionInfo(classOf[AdcTable].getName, "adc_table"),
    (children: Seq[Expression]) => {
      if (children.length != 6)
        throw new IllegalArgumentException(
          "adc_table: expected adc_table(q, cv, cb, k_lit, m_lit, " +
            s"sub_dim_lit), got ${children.length} argument(s)")
      val Seq(k, m, subDim) = children.drop(3).map {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"adc_table: k, m and sub_dim must be int literals, got $other")
      }
      AdcTable(children(0), children(1), children(2), k, m, subDim)
    })

  val all: Seq[Registration] =
    Seq(sortedIntersectSize, minhashSignature, hashedShingleSet, cosineSim,
      simhash16, tokenProfile, rollingFingerprint, shinglePosHashes, simhash60,
      deflateRatio, misraGries, rpProject, trigramCounts, pqEncode,
      kmeansTopCells, cosTopCells, adcLookup, adcTable)

  def register(spark: SparkSession): Unit = all.foreach { r =>
    spark.sessionState.functionRegistry.registerFunction(r._1, r._2, r._3)
  }
}
