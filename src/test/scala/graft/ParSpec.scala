package graft

import org.apache.spark.TaskContext

/** [[Par]]'s Spark-attribution contract (round-13 ADVICE): fan-out
  * threads are spawned fresh BY THE SUBMITTING THREAD, so the
  * SparkContext local properties the submitter carries (job group,
  * scheduler pool, execution id) propagate into every fan-out job via
  * the InheritableThreadLocal capture at thread creation — and NOTHING
  * is cached: a property cleared before the next [[Par.all]] call must
  * not leak from an earlier call's threads (the shared cached pool
  * failed both: it froze whatever the thread-creating caller carried
  * and served it to every later submitter, so an unrelated
  * cancelJobGroup could kill another store's in-flight writes). */
class ParSpec extends SparkSuite {

  private val Key = "graft.test.par.prop"

  /** The value of `Key` as the TASKS of a job submitted inside a Par
    * fan-out observe it. */
  private def taskSees(): Seq[String] = {
    val key = Key // local copy — the task closure must not capture the suite
    val out = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def probe(): Unit =
      out.add(String.valueOf(spark.sparkContext
        .parallelize(Seq(1), 1)
        .map(_ => String.valueOf(TaskContext.get().getLocalProperty(key)))
        .collect()
        .head))
    Par.all(() => probe(), () => probe())
    import scala.jdk.CollectionConverters._
    out.asScala.toSeq
  }

  test("fan-out jobs inherit the SUBMITTING thread's local properties") {
    spark.sparkContext.setLocalProperty(Key, "round14")
    try assert(taskSees() == Seq("round14", "round14"),
      "a property set by the submitter must reach the fan-out tasks")
    finally spark.sparkContext.setLocalProperty(Key, null)
  }

  test("no stale capture: a property cleared before the next call does not leak") {
    // Prime a first fan-out WITH the property set — under a cached
    // pool this is where threads would capture it forever.
    spark.sparkContext.setLocalProperty(Key, "stale")
    taskSees()
    spark.sparkContext.setLocalProperty(Key, null)
    assert(taskSees() == Seq("null", "null"),
      "fan-out tasks must run under the CURRENT submitter properties, " +
        "not ones captured at some earlier thread creation")
  }

  test("the barrier holds: a failing task's siblings complete, first failure rethrows") {
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[RuntimeException](Par.all(
      () => throw new RuntimeException("graft par boom"),
      () => { Thread.sleep(50); done.set(true) }))
    assert(e.getMessage == "graft par boom")
    assert(done.get(), "sibling task must have completed before rethrow")
  }

  test("checkpointAll returns the frames in argument order") {
    val fs = Par.checkpointAll(
      () => spark.range(1).toDF("id").localCheckpoint(true),
      () => spark.range(2).toDF("id").localCheckpoint(true),
      () => spark.range(3).toDF("id").localCheckpoint(true))
    try assert(fs.map(_.count()) == Seq(1L, 2L, 3L))
    finally Ckpt.release(fs: _*)
  }

  test("checkpointAll: a failing thunk's checkpointed siblings are released, failure rethrows") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val checkpointed = new java.util.concurrent.CountDownLatch(2)
    def sibling() = {
      val f = spark.range(10).toDF("id").localCheckpoint(true)
      checkpointed.countDown()
      f
    }
    val e = intercept[RuntimeException](Par.checkpointAll(
      () => sibling(),
      () => { checkpointed.await(); throw new RuntimeException("graft ckpt boom") },
      () => sibling()))
    assert(e.getMessage == "graft ckpt boom")
    assert(checkpointed.getCount == 0, "both siblings checkpointed first")
    val leaked = sc.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }
}
