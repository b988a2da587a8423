package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, IntegerType, LongType}

/** Bloom-filter semi-join pruning — the classic 100 TB shuffle-avoidance
  * move. Two pieces:
  *
  *   1. [[BloomBuildAgg]] (`bloom_agg`): a `TypedImperativeAggregate` whose
  *      buffer is the filter's bit array. Partial buffers OR-merge, so the
  *      filter is built DISTRIBUTED with map-side combine — each executor
  *      contributes one fixed-size (default 128 KiB) buffer regardless of
  *      row count, and the driver receives a single merged array.
  *   2. [[BloomMightContain]] (`bloom_might_contain`): a codegen'd probe
  *      expression over that serialized filter. Applied to the FACT side
  *      BEFORE its shuffle, it discards the (typically vast) majority of
  *      rows in the scan stage; the real semi-join afterwards removes the
  *      false positives, so results stay exact while the shuffle carries
  *      only near-matches.
  *
  * Spark's own runtime-filter injection (`InjectRuntimeFilter`) does this
  * opportunistically; this surface makes it an explicit, composable engine
  * operator (see `Relational.bloomPrune` / `q_bloom_prune`).
  *
  * Hashing is splitmix64 double-hashing (h1 + i·h2 over a power-of-two bit
  * space) — no portability constraint, because correctness never depends on
  * the filter's contents (superset property only).
  */
object Bloom {
  /** 2^20 bits = 128 KiB. At 1M distinct keys and k=5 this is ~10% FPR;
    * at the broadcastable-dimension cardinalities the pattern targets
    * (≤100k keys) it is <0.1%. */
  val DefaultNumBits: Int = 1 << 20
  val DefaultNumHashes: Int = 5

  /** splitmix64 finalizer — full-avalanche mix of a long key. */
  def mix(x: Long): Long = {
    var h = x * 0x9E3779B97F4A7C15L
    h ^= (h >>> 30); h *= 0xBF58476D1CE4E5B9L
    h ^= (h >>> 27); h *= 0x94D049BB133111EBL
    h ^= (h >>> 31)
    h
  }

  def add(bits: Array[Long], key: Long, k: Int): Unit = {
    val m = bits.length << 6 // 64 bits per long; power of two
    val h1 = mix(key)
    val h2 = mix(key + 0x9E3779B97F4A7C15L) | 1L
    var i = 0
    while (i < k) {
      val idx = ((h1 + i * h2) & Long.MaxValue) & (m - 1)
      bits((idx >>> 6).toInt) |= 1L << (idx & 63)
      i += 1
    }
  }

  def mightContain(bits: Array[Long], key: Long, k: Int): Boolean = {
    val m = bits.length << 6
    val h1 = mix(key)
    val h2 = mix(key + 0x9E3779B97F4A7C15L) | 1L
    var i = 0
    while (i < k) {
      val idx = ((h1 + i * h2) & Long.MaxValue) & (m - 1)
      if ((bits((idx >>> 6).toInt) & (1L << (idx & 63))) == 0L) return false
      i += 1
    }
    true
  }

  def serialize(bits: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
    bits.foreach(bb.putLong)
    bb.array()
  }

  def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }
}

/** Distributed Bloom-filter build: buffer = the bit array itself; update
  * sets k bits per key; merge ORs buffers (associative/commutative, so
  * map-side partial aggregation applies). Output is the serialized filter
  * (fixed `numBits/8` bytes — the only data that ever reaches the driver).
  */
case class BloomBuildAgg(
    child: Expression,
    numBits: Int = Bloom.DefaultNumBits,
    numHashes: Int = Bloom.DefaultNumHashes,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[Array[Long]] {

  require((numBits & (numBits - 1)) == 0, "numBits must be a power of two")

  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case LongType | IntegerType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a long/int key, got $other")
    }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_agg"

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](numBits >>> 6)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v match {
        case i: java.lang.Integer => i.longValue()
        case l: java.lang.Long    => l.longValue()
      }
      Bloom.add(buffer, key, numHashes)
    }
    buffer
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) |= b2(i); i += 1 }
    b1
  }

  override def eval(buffer: Array[Long]): Any = Bloom.serialize(buffer)
  override def serialize(buffer: Array[Long]): Array[Byte] =
    Bloom.serialize(buffer)
  override def deserialize(storage: Array[Byte]): Array[Long] =
    Bloom.deserialize(storage)

  override def withNewMutableAggBufferOffset(n: Int): BloomBuildAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): BloomBuildAgg =
    copy(inputAggBufferOffset = n)
}

/** `bloom_might_contain(key, filterBytes)` — probe expression. The filter
  * argument must be a foldable binary (a `lit(bytes)` of the built filter);
  * it is decoded ONCE per executor (transient lazy / codegen reference
  * object), so the per-row cost is k masked loads inside whole-stage
  * codegen — cheap enough to sit in the scan stage of a 100 TB table.
  */
case class BloomMightContain(
    left: Expression,
    right: Expression,
    numHashes: Int = Bloom.DefaultNumHashes
) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != LongType && left.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a long/int key, got ${left.dataType}")
    else if (right.dataType != BinaryType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable binary filter argument")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = left.nullable
  override def prettyName: String = "bloom_might_contain"

  @transient private lazy val bits: Array[Long] =
    Bloom.deserialize(right.eval(null).asInstanceOf[Array[Byte]])

  override def eval(input: InternalRow): Any = {
    val v = left.eval(input)
    if (v == null) null
    else {
      val key = v match {
        case i: java.lang.Integer => i.longValue()
        case l: java.lang.Long    => l.longValue()
      }
      java.lang.Boolean.valueOf(Bloom.mightContain(bits, key, numHashes))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bitsRef = ctx.addReferenceObj("bloomBits", bits, "long[]")
    val leftGen = left.genCode(ctx)
    val code =
      code"""
        |${leftGen.code}
        |boolean ${ev.isNull} = ${leftGen.isNull};
        |boolean ${ev.value} = false;
        |if (!${ev.isNull}) {
        |  ${ev.value} = graft.functions.Bloom.mightContain(
        |    $bitsRef, (long) ${leftGen.value}, $numHashes);
        |}
      """.stripMargin
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
