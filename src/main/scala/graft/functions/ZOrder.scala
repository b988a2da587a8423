package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, LongType}

/** Z-order (Morton) interleave of two dimensions — THE data-layout
  * primitive for multi-dimensional pruning at 100 TB: sort (or
  * `sortWithinPartitions` + `bucketBy`) a fact table by
  * `zorder(dim1, dim2)` and parquet row-group min/max statistics become
  * selective for BOX predicates on BOTH dimensions simultaneously, where
  * a lexicographic sort only prunes its leading column. Range-partition
  * by the same value and partition pruning composes on top. (Same design
  * as Delta/Iceberg Z-ordering — here as a first-class codegen
  * expression any write path can use.)
  *
  * Each input is masked to its low 31 bits (documented contract — callers
  * bucket or clamp real-valued dimensions first), spread to even bit
  * positions with the classic mask-shift chain, and interleaved:
  * `z = spread(a) | (spread(b) << 1)`. The result occupies bits 0..61,
  * so it is always a non-negative long — safe in any engine's signed
  * 64-bit arithmetic, which is what makes the DuckDB oracle exact.
  */
case class ZOrder(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (bigint, bigint), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = LongType
  override def prettyName: String = "zorder"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ZOrder.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ZOrder.interleave($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ZOrder {

  /** Spread the low 31 bits of `v` to even bit positions (0, 2, …, 60). */
  def spread(v: Long): Long = {
    var x = v & 0x7fffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** Morton code of (a, b), each masked to 31 bits; bits of `a` land at
    * even positions, `b` at odd. Always ≥ 0 (bits 0..61 only). */
  def interleave(a: Long, b: Long): Long =
    spread(a) | (spread(b) << 1)

  /** DuckDB twin of [[spread]] over SQL expression `x` (must already be
    * BIGINT ≥ 0): the identical mask-shift chain — BIGINT casts keep
    * DuckDB's overflow-checked `<<` in 64-bit the whole way. */
  def oracleSpreadSql(x: String): String = {
    var s = s"(CAST($x AS BIGINT) & 2147483647)"
    val steps = Seq(
      (16, "281470681808895"),     // 0x0000FFFF0000FFFF
      (8, "71777214294589695"),    // 0x00FF00FF00FF00FF
      (4, "1085102592571150095"),  // 0x0F0F0F0F0F0F0F0F
      (2, "3689348814741910323"),  // 0x3333333333333333
      (1, "6148914691236517205"))  // 0x5555555555555555
    for ((sh, m) <- steps) s = s"(($s | ($s << $sh)) & $m)"
    s
  }

  /** DuckDB twin of [[interleave]]. */
  def oracleInterleaveSql(a: String, b: String): String =
    s"(${oracleSpreadSql(a)} | (${oracleSpreadSql(b)} << 1))"
}
