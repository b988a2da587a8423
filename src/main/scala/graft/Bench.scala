package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._

/** Driver-run benchmark: every SparkEntry query, fully materialized (noop
  * sink — `.count()` would let Catalyst prune the projections away and
  * time a row count instead of the actual work). One JSON line on stdout.
  *
  * Regression guard: `tools/bench_budgets.json` pins a per-query budget
  * (3× the round-3 medians at sf0.1). Budgets apply only to sf0.1 runs
  * (other SFs have no calibrated numbers); breaches are always printed
  * loudly and listed in the JSON, and fail the process (exit 2) when
  * `SPARK_GRAFT_BENCH_ENFORCE=1` — round 2 shipped a silent 3× regression,
  * this makes the next one impossible to miss.
  *
  * Output contract: the FULL result line (per-query map) is printed first;
  * a COMPACT summary line (total + worst-5) is the LAST stdout line, so a
  * tail-truncated capture still ends in a parseable headline.
  *
  * Beside the per-query seconds (`queries`, what the budgets and
  * `tools/make_budgets.py` read) the full line carries each query's cost
  * profile (`profile`, see [[Profile]]) and a scaling `ladder` (see
  * [[ladder]]), neither of which counts towards `value`.
  */
object Bench {

  /** One query's cost profile: its wall seconds, the planning seconds of
    * the SQL executions it ran (the `QueryExecution.tracker` phases), the
    * executor run time summed over its tasks, its job, executed-stage and
    * task counts, its shuffle read plus write and its disk spill in MiB,
    * and the streaming micro-batches that ran a job. */
  final case class Profile(
      wall: Double,
      planS: Double,
      taskS: Double,
      jobs: Int,
      stages: Int,
      tasks: Int,
      shuffleMb: Double,
      spillMb: Double,
      batches: Int) {
    def json: String = {
      def r(x: Double) = math.rint(x * 1000) / 1000
      s"""{"wall":${r(wall)},"plan_s":${r(planS)},"task_s":${r(taskS)},"jobs":$jobs,"stages":$stages,"tasks":$tasks,"shuffle_mb":${r(shuffleMb)},"spill_mb":${r(spillMb)},"batches":$batches}"""
    }
  }

  private val TagPrefix = "graft-bench:"

  /** Runs `body` with the job tag of query `name` on this thread, so the
    * [[Recorder]] attributes every job it starts to `name`. A tag, not a
    * job group: a stream's execution thread replaces the job group with
    * its run id but keeps the tags it inherited, as do `graft.Par`'s
    * fan-out threads. */
  private[graft] def tagged[A](spark: SparkSession, name: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.addJobTag(TagPrefix + name)
    try body finally sc.removeJobTag(TagPrefix + name)
  }

  /** Scheduler and SQL-execution listener that sums each tagged query's
    * costs as the events arrive, keyed by the query's tag rather than by
    * a window of time, so no query waits for the asynchronous listener
    * bus. Read [[profile]] once the bus has delivered the run's events:
    * `SparkContext.stop` drains it. */
  private[graft] final class Recorder extends SparkListener {
    private final class Acc {
      var planMs, taskMs, shuffleBytes, spillBytes = 0L
      var jobs, stages, tasks = 0
      val batches = mutable.Set.empty[String]
    }
    private val accs = mutable.HashMap.empty[String, Acc]
    private val stageQuery = mutable.HashMap.empty[Int, String]
    private val execQuery = mutable.HashMap.empty[Long, String]

    private def queryOf(tags: Iterable[String]): Option[String] =
      tags.collectFirst { case t if t.startsWith(TagPrefix) => t.drop(TagPrefix.length) }
    private def acc(q: String): Acc = accs.getOrElseUpdate(q, new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
      for (q <- queryOf(tags.toSeq.flatMap(_.split(",")))) {
        val a = acc(q)
        a.jobs += 1
        e.stageIds.foreach(stageQuery(_) = q)
        for (p <- props; b <- Option(p.getProperty("streaming.sql.batchId")))
          a.batches += p.getProperty("sql.streaming.runId") + "/" + b
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stageQuery.get(e.stageInfo.stageId).foreach(acc(_).stages += 1) }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (q <- stageQuery.get(e.stageId)) {
        val a = acc(q)
        a.tasks += 1
        for (m <- Option(e.taskMetrics)) {
          a.taskMs += m.executorRunTime
          a.shuffleBytes +=
            m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.diskBytesSpilled
        }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized { queryOf(s.jobTags).foreach(execQuery(s.executionId) = _) }
      case x: SparkListenerSQLExecutionEnd =>
        synchronized {
          for (q <- execQuery.remove(x.executionId); ms <- GraftSqlBridge.planningMs(x))
            acc(q).planMs += ms
        }
      case _ => ()
    }

    /** `name`'s profile from the events delivered so far, with `wall`
      * as measured by the caller. */
    def profile(name: String, wall: Double): Profile = synchronized {
      val a = accs.getOrElse(name, new Acc)
      Profile(wall, a.planMs / 1e3, a.taskMs / 1e3, a.jobs, a.stages, a.tasks,
        a.shuffleBytes / 1048576.0, a.spillBytes / 1048576.0, a.batches.size)
    }
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The scaling ladder: four corpus-proportional steps, each timed over
    * one and over two replicas of the documents table, so the record
    * shows whether a step's cost grows linearly with the corpus. Replica
    * `r > 0` of a document shifts its id by `r × 10^7` and appends the
    * token `replica<r>`, which makes it a near-duplicate of its source,
    * the workload the dedup operators are built for. The steps are
    * `Dedup.exactGroups`, `Dedup.minhashDuplicates`,
    * `Dedup.simhashDuplicates`, and a `TableCommit` deploy of the corpus
    * without its `doc_id % 10 == 0` slice followed by one `foldBatch` of
    * that slice of the unreplicated table (a fixed batch, so the fold
    * should stay flat while the deploy grows). Returns each step's
    * seconds at 1× and 2×, None where the step failed. */
  private def ladder(
      spark: SparkSession, sfDir: String): Seq[(String, Seq[Option[Double]])] = {
    val base = graft.queries.Tables.documents(spark, sfDir)
    val batch = base.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("id"), col("text"))
    val steps: Seq[(String, DataFrame => Unit)] = Seq(
      "exact_groups" -> (c => noop(graft.dedup.Dedup.exactGroups(c, "doc_id", "text"))),
      "minhash_duplicates" -> (c =>
        noop(graft.dedup.Dedup.minhashDuplicates(c, "doc_id", "text", 8, 4, 0.5))),
      "simhash_duplicates" -> (c =>
        noop(graft.dedup.Dedup.simhashDuplicates(c, "doc_id", "text", 3, 4))),
      "table_commit_fold" -> { c =>
        val dir = java.nio.file.Files.createTempDirectory("graft_bench_tc_")
        try new graft.dedup.TableCommit(spark, dir.toString, 8, 4, 8)
          .deploy(c.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
          .foldBatch(batch, 0L)
        finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
      })
    val secs = Seq(1, 2).map { replicas =>
      val corpus = base
        .crossJoin(spark.range(replicas).select(col("id").as("rep")))
        .select(
          (col("doc_id") + col("rep") * 10000000L).as("doc_id"),
          when(col("rep") === 0, col("text"))
            .otherwise(concat(col("text"), lit(" replica"), col("rep")))
            .as("text"),
          col("lang"),
          col("source"))
        .persist()
      corpus.count()
      try steps.map { case (name, step) =>
        val t0 = System.nanoTime()
        try { step(corpus); Some((System.nanoTime() - t0) / 1e9) }
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] ladder $name x$replicas failed: ${e.getMessage}")
          None
        }
      } finally corpus.unpersist(blocking = true)
    }
    steps.map(_._1).zip(secs.transpose)
  }

  /** Minimal flat-JSON number-map parser for the budgets file — the
    * file is {"q_name": seconds, …}, written by tools/make_budgets.py;
    * no JSON library ships with Spark's unmanaged classpath guarantees
    * beyond Jackson, and a 10-line parser beats a Jackson ObjectMapper
    * dependency on exact shading. */
  private[graft] def parseBudgets(text: String): Map[String, Double] =
    "\"([^\"]+)\"\\s*:\\s*([0-9.eE+-]+)".r
      .findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toDouble)
      .toMap

  /** One timed query: its wall seconds, whether it succeeded, whether
    * it replayed a memo an earlier query built, and the post-GC used heap
    * after it. */
  private[graft] final case class Run(
      name: String, wall: Double, ok: Boolean, memoHit: Boolean, heapMb: Long)

  /** The full result line and the compact summary line of a run, and
    * the number of budget breaches. Every key of `queries` has a
    * `profile` row; `ladder` maps each step to its seconds at 1× and 2×. */
  private[graft] def record(
      results: Seq[Run],
      profile: Run => Profile,
      ladder: Seq[(String, Seq[Option[Double]])],
      budgets: Map[String, Double],
      liveRdds: Int,
      sfDir: String): (String, String, Int) = {
    val ok = results.filter(_.ok)
    val breaches = ok.collect {
      case r if budgets.get(r.name).exists(r.wall > _) =>
        System.err.println(
          f"[bench] BUDGET BREACH: ${r.name} took ${r.wall}%.2f s, budget ${budgets(r.name)}%.2f s")
        (r.name, r.wall, budgets(r.name))
    }
    val unbudgeted =
      if (budgets.isEmpty) Seq.empty
      else results.map(_.name).filterNot(budgets.contains)
    if (unbudgeted.nonEmpty)
      System.err.println(
        s"[bench] no budget for: ${unbudgeted.mkString(", ")} — " +
          "regenerate tools/bench_budgets.json (tools/make_budgets.py)")
    def q(k: String) = "\"" + k + "\""
    // Failed queries are excluded from the per-query map AND the total,
    // and listed explicitly — a fail-fast timing must not read as a fast
    // success, and the map's values always sum to `value`.
    val qs = ok.map(r => q(r.name) + ":" + r.wall).mkString("{", ",", "}")
    val profiles = ok.map(r => q(r.name) + ":" + profile(r).json)
      .mkString("{", ",", "}")
    val failed = results.filterNot(_.ok).map(r => q(r.name)).mkString("[", ",", "]")
    // Queries whose timed window replayed a memoized value (built by an
    // earlier query in this run) — their numbers are not standalone
    // costs; budget re-baselines must keep the run order.
    val memoHits = results.filter(_.memoHit).map(r => q(r.name))
      .mkString("[", ",", "]")
    val breachJson = breaches
      .map { case (k, v, b) => q(k) + ":{\"sec\":" + v + ",\"budget\":" + b + "}" }
      .mkString("{", ",", "}")
    val ladderJson = ladder
      .map { case (step, secs) =>
        q(step) + ":{" + secs.zipWithIndex
          .map { case (v, i) => q(s"x${i + 1}") + ":" + v.fold("null")(_.toString) }
          .mkString(",") + "}"
      }
      .mkString("{", ",", "}")
    val total = ok.map(_.wall).sum
    // Post-GC heap per run third, as (median, max) — the flatness
    // evidence for the memo/checkpoint lifecycle: a LEAK ratchets the
    // MEDIAN across thirds (every query sits on the accumulated base),
    // while a family-local spike (streaming state stores awaiting their
    // maintenance-interval unload) moves only the max.
    val heaps = results.map(_.heapMb)
    def med(xs: Seq[Long]): Long =
      if (xs.isEmpty) 0L else xs.sorted.apply(xs.size / 2)
    val heapThirds =
      if (heaps.isEmpty) Seq.fill(3)((0L, 0L))
      else heaps.grouped(math.max(1, (heaps.size + 2) / 3)).toSeq
        .map(t => (med(t), t.max)).padTo(3, (0L, 0L)).take(3)
    val heapJson = heapThirds
      .map { case (m, x) => s"[$m,$x]" }.mkString("[", ",", "]")
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"profile":$profiles,"ladder":$ladderJson,"failed":$failed,"breaches":$breachJson,"memo_hits":$memoHits,"heap_highwater_mb_thirds":$heapJson,"live_persisted_rdds":$liveRdds,"sf":"$sfDir"}"""
    val worst5 = ok.map(r => (r.name, r.wall)).sortBy(-_._2).take(5)
      // math.rint + Double.toString, NOT printf %.3f: printf is
      // locale-sensitive (comma decimals under de_DE etc.) and would
      // emit unparseable JSON in exactly the line meant to stay parseable.
      .map { case (k, v) => q(k) + ":" + (math.rint(v * 1000) / 1000) }
      .mkString("{", ",", "}")
    // Distinct metric name: a consumer keying on "total" must never see two
    // records per run (the full line is the "total" contract; this
    // headline is the truncation-proof summary).
    val summary =
      s"""{"metric":"summary","value":$total,"unit":"sec","n_queries":${ok.size},"worst5":$worst5,"failed":$failed,"n_breaches":${breaches.size},"heap_highwater_mb_thirds":$heapJson,"live_persisted_rdds":$liveRdds,"memo_hits":$memoHits,"sf":"$sfDir"}"""
    (fullJson, summary, breaches.size)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the session (codegen, shuffle machinery, parquet reader) so the
    // first timed query doesn't absorb JVM start-up.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case _: Throwable => () }
    // Dev aid: SPARK_GRAFT_BENCH_ONLY="q_a,q_b" times a subset (the driver
    // never sets it, so driver runs always time the full surface).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // MEMO LIFECYCLE (round-14 VERDICT #2): the (session, dir)-keyed
    // memos hold localCheckpoint blocks via strong references, so the
    // per-query clearCache/GC below never reclaims them — across a
    // 264-query run they tax every query scheduled after their build.
    // Bench owns the run order, so graft.Memo releases each family right
    // AFTER its last consumer runs (outside the timed window); Verify
    // takes the same release points from the same registry.
    val selectedNames = selected.map(_._1)
    val recorder = new Recorder
    spark.sparkContext.addSparkListener(recorder)
    val results = selected.zipWithIndex.map { case ((name, fn), qIdx) =>
      // Memo disclosure: a memo family's consumers are run-order
      // dependent — whichever runs first pays the build, the others
      // replay the memoized value. Record which ones hit so per-query
      // numbers (and budget re-baselines) stay interpretable.
      val usedMemo = Memo.hit(name, spark, sfDir)
      val t0 = System.nanoTime()
      val ok = tagged(spark, name) {
        try { noop(fn(spark, sfDir)); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // Isolation between queries: one query's persisted frames must not
      // tax the next (round-2 bench showed a leaked dedup cache slowing a
      // trivial DISTINCT 28×). clearCache drops CacheManager entries;
      // System.gc() lets the ContextCleaner reclaim now-unreferenced
      // localCheckpoint blocks immediately instead of at the next
      // periodic-GC tick. Both run OUTSIDE the timed window, as does the
      // memo-family release after each family's LAST consumer.
      Memo.releaseAfter(selectedNames, qIdx, spark, sfDir)
      spark.catalog.clearCache()
      // Streaming state-store providers are unloaded only by their
      // periodic maintenance task, so each q_stream_* query's loaded
      // providers linger as heap highwater long after the query
      // finishes (round-15 driver record: last-third max 929 MB vs
      // 455 first-third). Unload them NOW, the way memo families are
      // evicted — StateStore.get restarts maintenance lazily, so the
      // next streaming query is unaffected. No-op (one map check) for
      // non-streaming queries; never let the unload fail the bench.
      try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      catch { case scala.util.control.NonFatal(_) => () }
      System.gc()
      // Post-GC used heap — the session-accumulation signal the memo/
      // checkpoint lifecycle exists to flatten: if blocks leak, this
      // ratchets with query index instead of staying flat.
      val rt = Runtime.getRuntime
      val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
      Run(name, elapsed, ok, usedMemo, heapMb)
    }
    // The ladder runs after every query, outside `value`.
    val ladderSecs = ladder(spark, sfDir)
    // LEAK CANARY (round-15 VERDICT #5): the Ckpt/memo release
    // discipline is call-site manual — one future query that forgets
    // its release point re-creates the round-14 accumulation record.
    // Count the RDDs still persisted after the whole run's releases
    // and GC settled; the per-round bench JSON pins it ≈0, so a leak
    // shows up as a number, not as mysterious slowdowns a round later.
    val liveRdds = Ckpt.settledPersistentCount(spark.sparkContext)
    // Stopping drains the listener bus, so the recorder has every event.
    spark.stop()
    // Budget check (sf0.1 only — the budgets were calibrated there). A
    // query missing from the budgets file is NOT a breach (new queries
    // land before their budgets do) but is listed so the file stays
    // complete round over round.
    val budgetsPath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_BUDGETS", "tools/bench_budgets.json")
    // Exact final-path-segment match: a substring test would also match
    // sf0.15 / sf0.125 / any path merely containing "sf0.1" and apply
    // sf0.1-calibrated budgets to a different scale factor.
    val budgets: Map[String, Double] =
      if (new java.io.File(sfDir).getName == "sf0.1" &&
          new java.io.File(budgetsPath).isFile)
        parseBudgets(new String(
          java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(budgetsPath)), "UTF-8"))
      else Map.empty
    val (fullJson, summary, nBreaches) = record(
      results, r => recorder.profile(r.name, r.wall), ladderSecs, budgets,
      liveRdds, sfDir)
    println(fullJson)
    // The driver's stdout capture keeps only a ~2000-char tail, which
    // truncates the per-query map once the surface passes ~50 queries —
    // persist the complete result so per-query comparisons across rounds
    // never depend on capture length. Best-effort: a read-only checkout
    // must not fail the bench.
    val outPath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_OUT", "tools/bench_last_run.json")
    try {
      val p = java.nio.file.Paths.get(outPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, fullJson.getBytes("UTF-8"))
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // Compact headline LAST: short enough to survive a tail-truncated
    // stdout capture whole (the full line above lost 33 of 97 query keys
    // to truncation in round 3's driver capture).
    println(summary)
    if (nBreaches > 0 && sys.env.get("SPARK_GRAFT_BENCH_ENFORCE").contains("1"))
      sys.exit(2)
  }
}
