package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The dense ADC lookup table of one (query, probed cell) pair — the
  * table [[AdcLookup]] reads — and the query's squared micro norm:
  * `struct<lut: array<struct<dot:bigint, n:bigint>>, qn2:bigint>`.
  *
  * Inputs: the query `q` and the cell centre `cv` (`array<float>` or
  * `array<double>`), and the codebook as `cb`, `array<struct<cw:
  * array<bigint>>>` of M·`k` slots (slot `m·k + j` holds codeword `j`
  * of subspace `m`; a NULL slot is a codebook row that does not exist).
  * For slot `(m, j)`, with `qq`/`cs` the micro-quantized subspace-`m`
  * slices of `q`/`cv` (floor(x·10⁶ + ½), `subDim` components) and the
  * effective codeword `e = cs + cw`, the table holds `dot = Σ qq·e` and
  * `n = Σ e²`; an absent slot stays NULL. `qn2` is `Σ qq²` over the
  * first `m` subspaces.
  *
  * Why custom: the composed spelling was a `transform` over the M·K
  * slots whose lambda nested `slice`/`zip_with`/`aggregate` lambdas —
  * a few hundred expression nodes to analyze and optimize in every
  * probe plan, for a value one loop computes from the row and the one
  * broadcast codebook row.
  *
  * Parity contract with the composed form (ExpressionsSpec pins it):
  * `zip_with` pads the SHORTER side with NULL, and a NULL element or
  * a NULL side makes a sum NULL (`aggregate`'s `acc + x` carries the
  * NULL), while an empty slice sums to 0 — so a short vector's late
  * subspaces are empty, a `cw` longer than its centre slice gives NULL
  * terms, and a NULL `q` (`cv`, `cw`) nulls every `dot` (every `dot`
  * and `n`, that slot's `dot` and `n`). `qn2` skips NULL subspace sums
  * as SQL `SUM` does and is NULL when all are NULL. A NULL `cb` gives a
  * NULL `lut`. Integer arithmetic is exact (`Math.*Exact`): an overflow
  * fails, as the ANSI operators do. */
case class AdcTable(q: Expression, cv: Expression, cb: Expression,
                    k: Int, m: Int, subDim: Int)
    extends TernaryExpression with CodegenFallback {

  require(k > 0 && m > 0 && subDim > 0,
    s"adc_table: k, m and subDim must be positive, got ($k, $m, $subDim)")

  override def first: Expression = q
  override def second: Expression = cv
  override def third: Expression = cb

  private def isVector(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val cbOk = cb.dataType match {
      case ArrayType(StructType(Array(f)), _) =>
        f.dataType.isInstanceOf[ArrayType] &&
          f.dataType.asInstanceOf[ArrayType].elementType == LongType
      case _ => false
    }
    if (isVector(q.dataType) && isVector(cv.dataType) && cbOk)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float|double>, array<float|double>, " +
        "array<struct<cw: array<bigint>>>), got " +
        Seq(q, cv, cb).map(_.dataType.catalogString).mkString(" / "))
  }

  override def dataType: DataType = AdcTable.ResultType
  override def nullable: Boolean = false
  override def prettyName: String = "adc_table"

  private lazy val qIsDouble = elementIsDouble(q)
  private lazy val cvIsDouble = elementIsDouble(cv)

  private def elementIsDouble(v: Expression): Boolean =
    v.dataType.asInstanceOf[ArrayType].elementType == DoubleType

  /** The micro-quantized `[from, from + subDim)` slice of `v`, clipped
    * to its length (empty past the end); a NULL element is `None`, a
    * NULL `v` gives NULL. */
  private def micro(v: ArrayData, isDouble: Boolean,
                    from: Int): Array[Option[Long]] =
    if (v == null) null
    else Array.tabulate(math.max(0, math.min(v.numElements() - from, subDim))) { d =>
      val i = from + d
      if (v.isNullAt(i)) None
      else Some(math.floor((if (isDouble) v.getDouble(i)
        else v.getFloat(i).toDouble) * 1e6 + 0.5).toLong)
    }

  /** `aggregate(xs, 0L, (acc, x) => acc + f(x))`: NULL for a NULL `xs`
    * or once any term is NULL, 0 when empty. */
  private def sum0(xs: Array[Option[Long]], f: Long => Long): java.lang.Long = {
    if (xs == null) return null
    var acc = 0L
    var i = 0
    while (i < xs.length) {
      xs(i) match {
        case Some(x) => acc = Math.addExact(acc, f(x))
        case None => return null
      }
      i += 1
    }
    acc
  }

  /** `zip_with(a, b, op)`: NULL-padded to the longer side; NULL if
    * either side is NULL. */
  private def zip(a: Array[Option[Long]], b: Array[Option[Long]],
                  op: (Long, Long) => Long): Array[Option[Long]] =
    if (a == null || b == null) null
    else Array.tabulate(math.max(a.length, b.length)) { i =>
      for (x <- if (i < a.length) a(i) else None;
           y <- if (i < b.length) b(i) else None) yield op(x, y)
    }

  override def eval(input: InternalRow): Any = {
    val qa = q.eval(input).asInstanceOf[ArrayData]
    val ca = cv.eval(input).asInstanceOf[ArrayData]
    val slots = cb.eval(input).asInstanceOf[ArrayData]
    val subspaces = math.max(m,
      if (slots == null) 0 else (slots.numElements() + k - 1) / k)
    val qSubs = Array.tabulate(subspaces)(mi => micro(qa, qIsDouble, mi * subDim))
    val lut = if (slots == null) null else {
      val cs = new Array[Array[Option[Long]]](qSubs.length)
      val out = new Array[Any](slots.numElements())
      var i = 0
      while (i < out.length) {
        if (!slots.isNullAt(i)) {
          val mi = i / k
          if (cs(mi) == null && ca != null) cs(mi) = micro(ca, cvIsDouble, mi * subDim)
          val cwArr = slots.getStruct(i, 1)
          val cw = if (cwArr.isNullAt(0)) null else {
            val a = cwArr.getArray(0)
            Array.tabulate(a.numElements())(d =>
              if (a.isNullAt(d)) None else Some(a.getLong(d)))
          }
          val eff = zip(cs(mi), cw, Math.addExact)
          val dot = sum0(zip(qSubs(mi), eff, Math.multiplyExact), identity)
          val n = sum0(eff, e => Math.multiplyExact(e, e))
          out(i) = new GenericInternalRow(Array[Any](dot, n))
        }
        i += 1
      }
      new GenericArrayData(out)
    }
    var qn2: java.lang.Long = null
    var mi = 0
    while (mi < m) {
      val s = sum0(qSubs(mi), x => Math.multiplyExact(x, x))
      if (s != null) qn2 = Math.addExact(if (qn2 == null) 0L else qn2.longValue, s)
      mi += 1
    }
    new GenericInternalRow(Array[Any](lut, qn2))
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): AdcTable =
    copy(q = newFirst, cv = newSecond, cb = newThird)
}

object AdcTable {
  val ResultType: StructType = StructType(Seq(
    StructField("lut", ArrayType(AdcLookup.SlotType)),
    StructField("qn2", LongType)))
}
