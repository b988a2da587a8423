package graft

import org.apache.spark.sql.DataFrame

/** Explicit, immediate release of eagerly-localCheckpointed frames.
  *
  * `df.localCheckpoint(true)` persists the materialized blocks under an
  * internal RDD that the returned Dataset's `LogicalRDD` plan node
  * references. When the Dataset becomes unreachable those blocks are
  * reclaimed only by GC + the async ContextCleaner — in a long-lived
  * session (the 264-query bench JVM, a multi-delivery streaming fold, a
  * power-iteration loop) that lag accumulates into real executor-memory
  * pressure (round-14 VERDICT: untouched-plan queries regressed 3–5× in
  * the driver bench record, coherent with shared-JVM block pressure).
  * [[release]] unpersists the blocks NOW.
  *
  * SAFETY: a localCheckpoint TRUNCATES lineage — once released, the frame
  * (and anything lazily derived from it) can never be recomputed. Release
  * a frame only after its LAST materialization: after the marker commit
  * that consumed it, after the next loop iteration's checkpoint
  * materialized, after the memo's last declared consumer ran. */
object Ckpt {

  /** Unpersist the checkpoint blocks behind each frame (non-blocking).
    * No-op for frames that are not checkpoint/RDD-backed — safe to call
    * on anything, so callers never need to track which branch
    * checkpointed. Spark logs one WARN per release ("was locally
    * checkpointed, its lineage has been truncated…") from
    * `RDD.unpersist` itself — expected; it is the unrecoverability
    * heads-up for exactly the discipline this object documents. */
  def release(dfs: DataFrame*): Unit = dfs.foreach { df =>
    if (df != null) df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }

  /** [[release]] for every checkpoint `df`'s plan reads — for a frame
    * DERIVED from checkpoints (a projection of one, a union of several),
    * which [[release]] itself leaves alone. */
  def releaseInputs(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** LEAK CANARY — the count of RDDs still registered as persisted
    * once GC + the async ContextCleaner have settled. The release
    * discipline this object documents is call-site manual; nothing
    * structural stops a future query from leaking a localCheckpoint
    * frame for the session lifetime (the round-14 bench record's
    * mechanism). This counter makes the discipline CHECKABLE: Bench
    * emits it in the per-round JSON (pinned ≈0), and CkptCanarySpec
    * fails if a store/query sequence leaves blocks behind. Unreferenced
    * frames that were never explicitly released need the cleaner to
    * notice their GC first, so the count is polled until stable or
    * `deadlineMs` passes — a true leak (strongly-referenced blocks)
    * never drops, which is exactly the signal. */
  def settledPersistentCount(
      sc: org.apache.spark.SparkContext,
      deadlineMs: Long = 15000L): Int = {
    val t0 = System.currentTimeMillis()
    var n = sc.getPersistentRDDs.size
    while (n > 0 && System.currentTimeMillis() - t0 < deadlineMs) {
      System.gc() // enqueue unreachable RDD weak refs for the cleaner
      Thread.sleep(250L)
      n = sc.getPersistentRDDs.size
    }
    n
  }
}
