package graft

import org.apache.spark.sql.DataFrame

/** Concurrent INDEPENDENT Spark actions — the stores' write fan-out.
  *
  * A fold/deploy/compaction writes up to ten per-table parquet outputs
  * that share no dependency: run sequentially, each is one small job
  * that leaves most of the cluster idle and pays a full scheduler
  * round-trip (driver-side planning, task launch, commit protocol) in
  * series. Submitting them from separate threads lets Spark schedule
  * the jobs concurrently — the standard multi-job pattern
  * (SparkSession and SparkContext are thread-safe for job submission).
  *
  * Threads are spawned FRESH per call BY THE SUBMITTING THREAD — never
  * drawn from a shared cached pool. SparkContext propagates its local
  * properties (job group, scheduler pool, spark.sql.execution.id) to
  * child threads via an InheritableThreadLocal captured at thread
  * CREATION time: a shared pool's threads would freeze whatever
  * properties the thread-creating caller happened to carry and serve
  * them to every later store/session — so an unrelated
  * `cancelJobGroup` (e.g. a streaming query stop) could kill another
  * store's in-flight compaction, and the actual submitter's own
  * group/pool would never apply (round-13 ADVICE). Per-call threads
  * inherit the submitter's properties exactly and die at the barrier;
  * the creation cost is noise against the multi-second Spark jobs each
  * one runs.
  *
  * Semantics preserved for the journal discipline: [[all]] is an
  * UNINTERRUPTIBLE BARRIER — it returns only after every task has
  * finished (success or failure), catching ALL task throwables and
  * re-asserting the caller's interrupt flag afterwards. That matters
  * for the deterministic-path writers (deploy/compact target
  * `corpus-g<N>` dirs): if the barrier could be broken by an interrupt
  * while siblings were still writing, a retried compaction would race
  * its own stale tasks on the same destination dirs. A failed task's
  * siblings complete too; their output is unmarked garbage, invisible
  * to reads and vacuumable. Threads are daemon and per-call — nested
  * use cannot deadlock on pool starvation, and nothing outlives the
  * barrier. */
private[graft] object Par {

  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run the tasks concurrently; await ALL (uninterruptibly, success
    * or failure); rethrow the first failure after the barrier. One
    * task runs inline. */
  def all(tasks: (() => Unit)*): Unit = {
    if (tasks.lengthCompare(2) < 0) { tasks.foreach(_()); return }
    val errs = new Array[Option[Throwable]](tasks.length)
    val threads = tasks.zipWithIndex.map { case (t, i) =>
      errs(i) = None
      val th = new Thread(
        () => try t() catch { case e: Throwable => errs(i) = Some(e) },
        s"graft-par-${seq.getAndIncrement()}")
      th.setDaemon(true)
      th.start()
      th
    }
    var interrupted = false
    threads.foreach { th =>
      var done = false
      while (!done)
        try { th.join(); done = true }
        catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    errs.flatten.headOption.foreach(e => throw e)
  }

  /** [[all]] over tasks that each return a checkpointed frame: the
    * frames in argument order. If any task fails, the frames the others
    * completed are released ([[Ckpt.release]]) before the first failure
    * rethrows — siblings finish inside the barrier, and their eager
    * checkpoints would otherwise stay persisted with no consumer. A
    * task may return a frame its caller already materialized, so that
    * a failure releases it too. */
  def checkpointAll(tasks: (() => DataFrame)*): IndexedSeq[DataFrame] = {
    val out = new Array[DataFrame](tasks.length)
    try all(tasks.zipWithIndex.map { case (t, i) => () => out(i) = t() }: _*)
    catch {
      case e: Throwable =>
        out.foreach(f =>
          try Ckpt.release(f)
          catch { case scala.util.control.NonFatal(_) => () })
        throw e
    }
    out.toIndexedSeq
  }
}
