package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** HyperLogLog-style distinct-count sketch as a custom Catalyst
  * `TypedImperativeAggregate` — the mergeable-sketch aggregate shape
  * (partial buffers merge associatively, so map-side combine and
  * multi-level aggregation work like any built-in agg).
  *
  * Unlike `approx_count_distinct` (whose HLL++ registers are
  * implementation-defined), every ingredient here is deterministic AND
  * portable: values hash through md5 (first 15 hex chars → 60 bits),
  * 64 registers keep the max leading-zero rank, and the harmonic sum is
  * computed over exact integers (Σ 2^(55-rank) as a long), so an
  * independent SQL engine reproduces the estimate bit-for-bit — see the
  * `q_hll_distinct` DuckDB oracle. Standard HLL bias correction for m=64:
  * α=0.709, linear counting below 2.5·m with empty registers.
  *
  * Scale: the aggregation state is 64 bytes per group regardless of
  * cardinality — the whole point of sketching a 100 TB corpus.
  */
case class HllDistinct(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[Array[Byte]] {

  import HllDistinct._

  override def children: Seq[Expression] = Seq(child)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case LongType | IntegerType | StringType =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires long/int/string input, got $other")
    }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "hll_distinct"

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](M)

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      // Portable rendering: integers as decimal strings, matching the
      // oracle's CAST(x AS VARCHAR).
      val s = v match {
        case u: UTF8String => u.toString
        case other         => other.toString
      }
      val h = hash60(s)
      val reg = (h & (M - 1)).toInt
      val w = h >>> RegBits // 54-bit window
      val rank = (MaxRank - bitLen(w)).toByte
      if (rank > buffer(reg)) buffer(reg) = rank
    }
    buffer
  }

  override def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < M) {
      if (b2(i) > b1(i)) b1(i) = b2(i)
      i += 1
    }
    b1
  }

  override def eval(buffer: Array[Byte]): Any = estimate(buffer)

  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(storage: Array[Byte]): Array[Byte] = storage

  override def withNewMutableAggBufferOffset(newOffset: Int): HllDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllDistinct =
    copy(inputAggBufferOffset = newOffset)
}

object HllDistinct {
  /** 64 registers (6 index bits), rank in the remaining 54 hash bits. */
  val M = 64
  val RegBits = 6
  val MaxRank = 55 // 54-bit window: rank = 55 - bitlength, 55 when zero
  val Alpha = 0.709 // standard HLL alpha for m=64

  def bitLen(w: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(w)

  /** First 15 hex chars of md5 as a 60-bit long — identical to the SQL
    * `CAST('0x' || substr(md5(x),1,15) AS BIGINT)` the oracle uses and to
    * [[graft.dedup.Dedup.hash60]] (kept local: an Expression cannot
    * depend on the DataFrame-level Column helpers). */
  def hash60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    // First 15 hex chars = 7.5 bytes: 7 full bytes + the high nibble of
    // the 8th.
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** The estimate, from exact-integer register arithmetic: the harmonic
    * denominator Σ 2^-rank is carried as Σ 2^(55-rank) (a long — max
    * 64·2^55 < 2^62), so no float-summation order exists to diverge. */
  def estimate(registers: Array[Byte]): Double = {
    var s = 0L
    var zeros = 0
    var i = 0
    while (i < M) {
      s += 1L << (MaxRank - registers(i))
      if (registers(i) == 0) zeros += 1
      i += 1
    }
    val pow55 = math.pow(2.0, MaxRank.toDouble) // exact
    val raw = Alpha * M * M * pow55 / s
    if (raw <= 2.5 * M && zeros > 0) M * math.log(M.toDouble / zeros)
    else raw
  }

  /** Register `hll_distinct(col)` (idempotent). The bare AggregateFunction
    * is returned; the analyzer wraps it in an AggregateExpression. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    SessionFunctions.register(spark, "hll_distinct")(
      exprs => HllDistinct(exprs.head))
}
