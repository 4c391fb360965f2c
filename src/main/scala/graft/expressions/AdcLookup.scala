package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Asymmetric-distance (ADC) sums of one PQ-coded candidate against
  * one query's lookup table for the candidate's cell: M table lookups,
  * `struct<num:bigint, nsq:bigint>`.
  *
  * `lut` is the dense table of one (query, probed cell) pair,
  * `array<struct<dot:bigint, n:bigint>>` of length M·`k`: slot
  * `m·k + j` holds the (query · codeword, codeword²) integer terms of
  * code `j` in subspace `m`, and a NULL slot means the table has no row
  * for `(m, j)` (a codebook slot that was never trained). For each
  * position `m` of `codes` whose code `j` names a present slot, `num`
  * adds the slot's `dot` and `nsq` its `n`.
  *
  * Why custom: the composed spelling exploded every candidate ×M
  * (`posexplode`), joined the exploded rows to the table on
  * (query, cell, m, j) and summed them back per (query, vec) — a
  * clustering exchange of the candidates and an aggregate to compute a
  * value that depends only on the candidate's row and one broadcast
  * row. This makes it one projection over the probed-cell join: no
  * exchange, no aggregate. Per-row interpreted eval (CodegenFallback)
  * is amortized over the M lookups, the [[PqEncode]] reasoning.
  *
  * Parity contract with the composed form (ExpressionsSpec pins it):
  * the sums skip NULL terms as SQL `SUM` does — `num` (`nsq`) is NULL
  * when no matched slot carries a non-null `dot` (`n`); a code that is
  * NULL, out of `[0, k)`, at a position `m ≥ M`, or names an absent slot
  * matches no table row and adds nothing; and when NO position matches
  * a row the result is NULL — the composed aggregate had no group for
  * the pair, so the caller drops it. A NULL `codes` or `lut` matches
  * nothing. Sums are exact (`Math.addExact`): an overflow fails, as the
  * ANSI `SUM` does. */
case class AdcLookup(codes: Expression, lut: Expression, k: Int)
    extends BinaryExpression with CodegenFallback {

  require(k > 0, s"adc_lookup: k must be positive, got $k")

  override def left: Expression = codes
  override def right: Expression = lut

  override def checkInputDataTypes(): TypeCheckResult = {
    val codesOk = codes.dataType == ArrayType(LongType, containsNull = true) ||
      codes.dataType == ArrayType(LongType, containsNull = false)
    val lutOk = lut.dataType match {
      case ArrayType(StructType(Array(a, b)), _) =>
        a.dataType == LongType && b.dataType == LongType
      case _ => false
    }
    if (codesOk && lutOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint>, " +
        "array<struct<dot:bigint, n:bigint>>), got " +
        s"${codes.dataType.catalogString} / ${lut.dataType.catalogString}")
  }

  override def dataType: DataType = AdcLookup.ResultType
  override def nullable: Boolean = true
  override def prettyName: String = "adc_lookup"

  override protected def nullSafeEval(c: Any, l: Any): Any = {
    val ca = c.asInstanceOf[ArrayData]
    val la = l.asInstanceOf[ArrayData]
    val m = la.numElements() / k
    val positions = math.min(ca.numElements(), m)
    var matched = false
    var num = 0L
    var numSeen = false
    var nsq = 0L
    var nsqSeen = false
    var p = 0
    while (p < positions) {
      if (!ca.isNullAt(p)) {
        val j = ca.getLong(p)
        if (j >= 0 && j < k) {
          val slot = p * k + j.toInt
          if (!la.isNullAt(slot)) {
            matched = true
            val s = la.getStruct(slot, 2)
            if (!s.isNullAt(0)) { num = Math.addExact(num, s.getLong(0)); numSeen = true }
            if (!s.isNullAt(1)) { nsq = Math.addExact(nsq, s.getLong(1)); nsqSeen = true }
          }
        }
      }
      p += 1
    }
    if (!matched) null
    else new GenericInternalRow(Array[Any](
      if (numSeen) num else null, if (nsqSeen) nsq else null))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcLookup =
    copy(codes = newLeft, lut = newRight)
}

object AdcLookup {
  val ResultType: StructType = StructType(Seq(
    StructField("num", LongType), StructField("nsq", LongType)))

  /** One table slot, as [[AdcTable]] builds it. */
  val SlotType: StructType = StructType(Seq(
    StructField("dot", LongType), StructField("n", LongType)))
}
