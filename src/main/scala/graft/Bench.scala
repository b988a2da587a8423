package graft

import org.apache.spark.sql.SparkSession

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
  */
object Bench {

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
    val results = selected.zipWithIndex.map { case ((name, fn), qIdx) =>
      // Memo disclosure: a memo family's consumers are run-order
      // dependent — whichever runs first pays the build, the others
      // replay the memoized value. Record which ones hit so per-query
      // numbers (and budget re-baselines) stay interpretable.
      val usedMemo = Memo.hit(name, spark, sfDir)
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
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
      (name, elapsed, ok, usedMemo, heapMb)
    }
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
    val breaches = results.collect {
      case (k, v, true, _, _) if budgets.get(k).exists(v > _) =>
        System.err.println(
          f"[bench] BUDGET BREACH: $k took $v%.2f s, budget ${budgets(k)}%.2f s")
        (k, v, budgets(k))
    }
    val unbudgeted =
      if (budgets.isEmpty) Seq.empty
      else results.collect { case (k, _, _, _, _) if !budgets.contains(k) => k }
    if (unbudgeted.nonEmpty)
      System.err.println(
        s"[bench] no budget for: ${unbudgeted.mkString(", ")} — " +
          "regenerate tools/bench_budgets.json (tools/make_budgets.py)")
    // Failed queries are excluded from the per-query map AND the total,
    // and listed explicitly — a fail-fast timing must not read as a fast
    // success, and the map's values always sum to `value`.
    val qs = results.collect { case (k, v, true, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false, _, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // Queries whose timed window replayed a memoized value (built by an
    // earlier query in this run) — their numbers are not standalone
    // costs; budget re-baselines must keep the run order.
    val memoHits = results.collect { case (k, _, _, true, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val breachJson = breaches
      .map { case (k, v, b) => "\"" + k + "\":{\"sec\":" + v + ",\"budget\":" + b + "}" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, true, _, _) => v }.sum
    // Post-GC heap per run third, as (median, max) — the flatness
    // evidence for the memo/checkpoint lifecycle: a LEAK ratchets the
    // MEDIAN across thirds (every query sits on the accumulated base),
    // while a family-local spike (streaming state stores awaiting their
    // maintenance-interval unload) moves only the max.
    val heaps = results.map(_._5)
    def med(xs: Seq[Long]): Long =
      if (xs.isEmpty) 0L else xs.sorted.apply(xs.size / 2)
    val heapThirds =
      if (heaps.isEmpty) Seq.fill(3)((0L, 0L))
      else heaps.grouped(math.max(1, (heaps.size + 2) / 3)).toSeq
        .map(t => (med(t), t.max)).padTo(3, (0L, 0L)).take(3)
    val heapJson = heapThirds
      .map { case (m, x) => s"[$m,$x]" }.mkString("[", ",", "]")
    // LEAK CANARY (round-15 VERDICT #5): the Ckpt/memo release
    // discipline is call-site manual — one future query that forgets
    // its release point re-creates the round-14 accumulation record.
    // Count the RDDs still persisted after the whole run's releases
    // and GC settled; the per-round bench JSON pins it ≈0, so a leak
    // shows up as a number, not as mysterious slowdowns a round later.
    val liveRdds = Ckpt.settledPersistentCount(spark.sparkContext)
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"breaches":$breachJson,"memo_hits":$memoHits,"heap_highwater_mb_thirds":$heapJson,"live_persisted_rdds":$liveRdds,"sf":"$sfDir"}"""
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
    val worst5 = results.collect { case (k, v, true, _, _) => (k, v) }
      .sortBy(-_._2).take(5)
      // math.rint + Double.toString, NOT printf %.3f: printf is
      // locale-sensitive (comma decimals under de_DE etc.) and would
      // emit unparseable JSON in exactly the line meant to stay parseable.
      .map { case (k, v) => "\"" + k + "\":" + (math.rint(v * 1000) / 1000) }
      .mkString("{", ",", "}")
    val nOk = results.count(_._3)
    // Distinct metric name: a consumer keying on "total" must never see two
    // records per run (the full line above is the "total" contract; this
    // headline is the truncation-proof summary).
    println(s"""{"metric":"summary","value":$total,"unit":"sec","n_queries":$nOk,"worst5":$worst5,"failed":$failed,"n_breaches":${breaches.size},"heap_highwater_mb_thirds":$heapJson,"live_persisted_rdds":$liveRdds,"memo_hits":$memoHits,"sf":"$sfDir"}""")
    spark.stop()
    if (breaches.nonEmpty && sys.env.get("SPARK_GRAFT_BENCH_ENFORCE").contains("1"))
      sys.exit(2)
  }
}
