package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** All `numHashes` MinHash signature slots in ONE aggregation buffer —
  * the aggregate-level rewrite of the wide per-slot form
  * `min(md5Slice60(concat('<i/2>:', shingle), i % 2)) AS sig_i`
  * (round-16 VERDICT #6: the wide form's per-row cost was measured
  * ~30 µs at one task; a projection-level rewrite was tried there and
  * measured SLOWER — the win is at the aggregate level, in native
  * digest arithmetic).
  *
  * BIT-IDENTICAL VALUES by construction, per slot:
  *   md5Slice60(s, part) = conv(substring(md5_hex(s), 1 + 15·part, 15),
  *   16, 10) — i.e. hex chars 1–15 (= top 60 bits of the digest's
  *   big-endian first 8 bytes, shifted right a nibble) for part 0, and
  *   hex chars 16–30 (= the low nibble of byte 7 followed by bytes
  *   8–14) for part 1. The seeded input is `"<i/2>:" ++ shingle long's
  *   decimal digits` — exactly `concat(lit("<s>:"), col.cast("string"))`
  *   for a LongType column. MinhashSigSpec pins slot-for-slot equality
  *   against the expression form on the fixture corpus.
  *
  * What it saves per (row, slot-pair) vs the expression form: the
  * 32-char hex string materialization of Spark's `md5`, the
  * `substring`, and the 15-char base-16 `conv` re-parse — the digest
  * goes straight from 16 bytes to two longs. The min-fold and the
  * partial/merge shape (elementwise min — map-side combinable,
  * shuffle carries numHashes longs per group) are unchanged.
  *
  * min() over a multiset equals min() over its set, so the aggregate
  * serves both the per-doc signature (grouped by id over DISTINCT
  * shingles) and the corpus-overlap bottom-1 sketch (global, RAW
  * multiset stream). A slot never updated by any row evaluates to
  * null, matching `min` over an empty input. */
case class MinhashSigAgg(
    child: Expression,
    numHashes: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(numHashes >= 1, s"need numHashes >= 1, got $numHashes")

  override def children: Seq[Expression] = child :: Nil
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BIGINT shingle column, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_minhash_sig"

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numHashes)(Long.MaxValue)

  // One digest instance per aggregate-function instance per task; the
  // seed prefixes ("0:", "1:", …) are constant bytes.
  @transient private lazy val md =
    java.security.MessageDigest.getInstance("MD5")
  @transient private lazy val seedBytes: Array[Array[Byte]] =
    Array.tabulate((numHashes + 1) / 2)(s =>
      (s.toString + ":").getBytes(StandardCharsets.US_ASCII))

  private def beLong(b: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (b(off + i) & 0xffL); i += 1 }
    v
  }

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val digits = java.lang.Long.toString(v.asInstanceOf[Long])
        .getBytes(StandardCharsets.US_ASCII)
      val nSeeds = (numHashes + 1) / 2
      var s = 0
      while (s < nSeeds) {
        md.reset()
        md.update(seedBytes(s))
        md.update(digits)
        val d = md.digest()
        val hi = beLong(d, 0)
        val lo = beLong(d, 8)
        val i0 = 2 * s
        val p0 = hi >>> 4 // hex chars 1..15
        if (p0 < buf(i0)) buf(i0) = p0
        val i1 = i0 + 1
        if (i1 < numHashes) {
          val p1 = ((hi & 0xfL) << 56) | (lo >>> 8) // hex chars 16..30
          if (p1 < buf(i1)) buf(i1) = p1
        }
        s += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) {
      if (b2(i) < b1(i)) b1(i) = b2(i)
      i += 1
    }
    b1
  }

  override def eval(buf: Array[Long]): Any =
    // A never-updated slot is `min` over no rows — null. (A real slice
    // value is < 2^60, so Long.MaxValue can only mean "never updated".)
    new GenericArrayData(buf.map(v =>
      if (v == Long.MaxValue) null else java.lang.Long.valueOf(v)))

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * numHashes)
    buffer.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(storageFormat: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(storageFormat)
    Array.fill(numHashes)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinhashSigAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinhashSigAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinhashSigAgg =
    copy(child = newChildren.head)
}

object MinhashSigAgg {
  /** Register `graft_minhash_sig(shingle, numHashes)` (idempotent);
    * `numHashes` must be an integer literal. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    SessionFunctions.register(spark, "graft_minhash_sig")(
      exprs => {
        if (exprs.length != 2) throw new IllegalArgumentException(
          "graft_minhash_sig(shingle, numHashes) takes 2 arguments, got " +
            exprs.length)
        val n = exprs(1) match {
          case Literal(v: Int, IntegerType) => v
          case Literal(v: Long, LongType) => v.toInt
          case other => throw new IllegalArgumentException(
            s"graft_minhash_sig: numHashes must be an integer literal, got $other")
        }
        MinhashSigAgg(exprs.head, n)
      })
}
