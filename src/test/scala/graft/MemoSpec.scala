package graft

import org.apache.spark.sql.DataFrame

/** [[Memo]]: the one get-or-build path behind the session-scoped memo
  * families, and the hit/release-point lifecycle Bench and Verify take
  * from it. */
class MemoSpec extends SparkSuite {

  private val Frames = Memo.frames("memo_spec_frames", Set("q_spec_a", "q_spec_b"))

  private def ckpt(n: Long): DataFrame =
    spark.range(n).toDF("id").localCheckpoint(true)

  private def ids(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  /** Persisted RDD ids right now (no GC wait: an explicit release drops
    * the id at once). */
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a hit returns the same instance") {
    val a = Memo.get(Frames, spark, "hit")(ckpt(5))
    val b = Memo.get(Frames, spark, "hit")(fail("a hit must not rebuild"))
    assert(a eq b)
    Memo.release(Frames, spark, "hit")
  }

  test("another session or another key misses") {
    var builds = 0
    def build() = { builds += 1; ckpt(3) }
    val other = spark.newSession()
    val a = Memo.get(Frames, spark, "miss")(build())
    val b = Memo.get(Frames, other, "miss")(build())
    val c = Memo.get(Frames, spark, "miss-2")(build())
    assert(builds == 3)
    assert(!(a eq b) && !(a eq c) && !(b eq c))
    Memo.release(Frames, spark, "miss")
    Memo.release(Frames, other, "miss")
    Memo.release(Frames, spark, "miss-2")
  }

  test("releasing the blocks under a cached frame makes the next get rebuild equal rows") {
    val a = Memo.get(Frames, spark, "stale")(ckpt(7))
    val want = ids(a)
    Ckpt.release(a) // the blocks are gone; the entry still points at them
    var rebuilt = false
    val b = Memo.get(Frames, spark, "stale") { rebuilt = true; ckpt(7) }
    assert(rebuilt, "a stale frame must be evicted and rebuilt")
    assert(!(a eq b))
    assert(ids(b) == want)
    Memo.release(Frames, spark, "stale")
  }

  test("release brings the persisted-RDD count back down") {
    val before = persisted
    Memo.get(Frames, spark, "free")(ckpt(4))
    assert((persisted -- before).size == 1, "the build checkpoints one RDD")
    Memo.release(Frames, spark, "free")
    assert((persisted -- before).isEmpty, "release must unpersist the blocks")
  }

  test("primed follows the lifecycle; a failed build leaves no entry") {
    assert(!Memo.primed(Frames, spark, "life"))
    intercept[IllegalStateException](
      Memo.get(Frames, spark, "life")(throw new IllegalStateException("boom")))
    assert(!Memo.primed(Frames, spark, "life"))
    Memo.get(Frames, spark, "life")(ckpt(2))
    assert(Memo.primed(Frames, spark, "life"))
    Memo.release(Frames, spark, "life")
    assert(!Memo.primed(Frames, spark, "life"))
  }

  test("hit and the release point come from the declared consumers") {
    val freed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val fam = Memo.family[String]("memo_spec_values", Set("q_spec_c"))(
      freed.add(_))
    val order = Seq("q_spec_a", "q_spec_c", "q_spec_b", "q_other")
    assert(!Memo.hit("q_spec_c", spark, "rp"))
    Memo.get(fam, spark, "rp")("v")
    Memo.get(Frames, spark, "rp")(ckpt(1))
    assert(Memo.hit("q_spec_c", spark, "rp"))
    assert(Memo.hit("q_spec_b", spark, "rp"))
    assert(!Memo.hit("q_other", spark, "rp"), "not a declared consumer")
    Memo.releaseAfter(order, 0, spark, "rp")
    assert(Memo.primed(Frames, spark, "rp") && Memo.primed(fam, spark, "rp"))
    Memo.releaseAfter(order, 1, spark, "rp") // q_spec_c: fam's last consumer
    assert(!Memo.primed(fam, spark, "rp") && freed.contains("v"))
    assert(Memo.primed(Frames, spark, "rp"))
    Memo.releaseAfter(order, 2, spark, "rp") // q_spec_b: Frames' last
    assert(!Memo.primed(Frames, spark, "rp"))
  }
}
