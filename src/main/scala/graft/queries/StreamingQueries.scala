package graft.queries

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.streaming.StreamingOps

/** The streaming runtime as a CHECKABLE surface: each query here starts a
  * real Structured Streaming query (file source → stateful ops → sink),
  * drains it with `Trigger.AvailableNow`, and returns the sink contents as
  * a batch frame the driver hash-compares against a DuckDB oracle. This
  * exercises the actual streaming engine (micro-batch planner, state
  * store, watermark bookkeeping) — not the batch twin.
  *
  * Determinism discipline — a streaming result is only oracle-checkable
  * if it cannot depend on micro-batch boundaries:
  *   - the hourly aggregate runs in COMPLETE mode, so its final table is
  *     the full-history aggregation no matter how the file source splits
  *     batches (watermark still flows; complete mode just never drops
  *     output rows);
  *   - the dedup stream's RETAINED ROW for a key depends on arrival
  *     order, so the query projects the retained KEY SET (distinct), which
  *     is batching-invariant.
  *
  * The memory sink collects to the driver — it is the verification
  * harness, sized for the test SFs. Production streams write
  * parquet/Kafka sinks (same plans, different `format`).
  */
object StreamingQueries {
  import Tables.documents

  /** The file-stream source needs a DEDICATED directory (a mixed-table
    * directory yields null columns), so the single per-table parquet file
    * is copied to a per-(sfDir, table) temp dir once. */
  private def tableStreamDir(sfDir: String, table: String): String = {
    // Key the cache dir by a 128-bit digest of the FULL path
    // (collision-safe, unlike the old 32-bit hash; fixed-length, unlike
    // URL-encoding, which can blow past NAME_MAX on long paths), and
    // refresh the copy whenever the source's size or mtime differs —
    // regenerated test data at the same path must never be read stale.
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val dir = Paths.get(
      sys.props("java.io.tmpdir"), s"graft-stream-$tag", table)
    Files.createDirectories(dir)
    val src = Paths.get(s"$sfDir/$table.parquet")
    val dst = dir.resolve(s"$table.parquet")
    // Millisecond-truncated mtime comparison: tmp filesystems may keep a
    // coarser timestamp granularity than the source FS, so COPY_ATTRIBUTES
    // truncates the nanos and an exact FileTime equality would be
    // permanently false — re-copying the parquet on every call.
    val fresh = Files.exists(dst) &&
      Files.size(dst) == Files.size(src) &&
      Files.getLastModifiedTime(dst).toMillis ==
        Files.getLastModifiedTime(src).toMillis
    if (!fresh)
      // COPY_ATTRIBUTES carries the source mtime so the check above is
      // a pure source-vs-copy comparison, not copy-time bookkeeping.
      Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.COPY_ATTRIBUTES)
    dir.toString
  }

  private def eventsStreamDir(sfDir: String): String =
    tableStreamDir(sfDir, "events")

  private def embeddingsStreamDir(sfDir: String): String =
    tableStreamDir(sfDir, "embeddings")

  private def docsStreamDir(sfDir: String): String =
    tableStreamDir(sfDir, "documents")

  private val runSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Start `stream` against a memory sink, drain all available input, and
    * return the sink table. AvailableNow processes everything then stops —
    * the batch-job face of the streaming runtime.
    *
    * Stateful operators keep one state-store instance PER shuffle
    * partition, each with its own commit/snapshot bookkeeping per
    * micro-batch — a fixed per-partition tax that dominates small runs
    * (and is why production streams size state partitions to throughput,
    * not to the batch default). The session's shuffle-partition setting is
    * lowered for the duration of the run (fresh checkpoint each run, so
    * the state partitioning is free to differ per query) and restored
    * after. */
  private val StreamShufflePartitions = "8"

  private def runToMemory(
      spark: SparkSession,
      stream: DataFrame,
      mode: OutputMode,
      name: String
  ): DataFrame = {
    // Unique per run: memory-sink query names must be unique among active
    // queries, and a stale same-name temp view must never be read back.
    val qn = s"${name}_${runSeq.incrementAndGet()}"
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, StreamShufflePartitions)
    try {
      val q = stream.writeStream
        .format("memory")
        .queryName(qn)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set(key, prev)
    spark.table(qn)
  }

  /** A3 through the streaming engine: 1-hour tumbling windows per event
    * type ([[StreamingOps.tumblingCounts]]), complete mode. Hour identity
    * is projected to an epoch-hour long for cross-engine hash parity. */
  def streamHourly(s: SparkSession, d: String): DataFrame = {
    val agg = StreamingOps.tumblingCounts(
      StreamingOps.readEvents(s, eventsStreamDir(d)))
    runToMemory(s, agg, OutputMode.Complete(), "graft_stream_hourly")
      .select(
        // window() starts are exact hour multiples, so the exact
        // integer floorDiv is a plain division here.
        graft.queries.EventQueries
          .floorDiv(unix_millis(col("window_start")), 3600000L)
          .as("hour_id"),
        col("event_type"),
        col("n_events"),
        col("value_cents"))
      .orderBy("hour_id", "event_type")
  }

  def streamHourlyOracle: String =
    s"""SELECT ${graft.queries.EventQueries.HourBucketSql} AS hour_id,
      | event_type, count(*) AS n_events,
      | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events GROUP BY 1, 2 ORDER BY hour_id, event_type""".stripMargin

  /** Streaming exact dedup ([[StreamingOps.dedupStream]], watermark-bounded
    * state) — projected to the retained key set, which is invariant to
    * micro-batch boundaries (see class doc). */
  def streamDedupKeys(s: SparkSession, d: String): DataFrame = {
    val kept = StreamingOps.dedupStream(
      StreamingOps.readEvents(s, eventsStreamDir(d)))
    runToMemory(s, kept, OutputMode.Append(), "graft_stream_dedup")
      .select("user_id", "event_type")
      .distinct()
      .orderBy("user_id", "event_type")
  }

  def streamDedupKeysOracle: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** Watermarked stream-stream interval join through the real runtime
    * ([[StreamingOps.clickViewJoin]]): clicks joined to same-user views
    * within the trailing hour. Batching-invariant for an inner interval
    * join: Spark evicts join state only once a row is provably
    * unmatchable under the time-bound condition, so micro-batch
    * boundaries change when a pair is emitted, never whether. Timestamps
    * are projected to epoch millis for cross-engine parity. */
  def streamJoin(s: SparkSession, d: String): DataFrame = {
    val joined = StreamingOps.clickViewJoin(
      StreamingOps.readEvents(s, eventsStreamDir(d)))
    runToMemory(s, joined, OutputMode.Append(), "graft_stream_join")
      .select(
        col("click_event_id"), col("click_user_id"), col("view_event_id"),
        unix_millis(col("click_ts")).as("click_ms"),
        unix_millis(col("view_ts")).as("view_ms"))
      .orderBy("click_event_id", "view_event_id")
  }

  def streamJoinOracle: String =
    """WITH v AS (SELECT event_id AS view_event_id, user_id,
      |  CAST(epoch_ms(ts) AS BIGINT) AS view_ms FROM events WHERE event_type = 'view'),
      |c AS (SELECT event_id AS click_event_id, user_id,
      |  CAST(epoch_ms(ts) AS BIGINT) AS click_ms FROM events WHERE event_type = 'click')
      |SELECT click_event_id, c.user_id AS click_user_id, view_event_id, click_ms, view_ms
      |FROM c JOIN v ON c.user_id = v.user_id
      |  AND view_ms <= click_ms AND view_ms >= click_ms - 3600000
      |ORDER BY click_event_id, view_event_id""".stripMargin

  /** Sliding (hopping) windows through the real runtime
    * ([[StreamingOps.slidingCounts]]): 1-hour windows every 30 minutes,
    * complete mode (batching-invariant like [[streamHourly]]). Window
    * identity projects to an epoch-half-hour hop id; the DuckDB twin
    * expands each event into its len/hop = 2 member windows with a
    * 2-row offset join — exactly the expansion the streaming planner
    * does before the keyed aggregation. */
  def streamSliding(s: SparkSession, d: String): DataFrame = {
    val agg = StreamingOps.slidingCounts(
      StreamingOps.readEvents(s, eventsStreamDir(d)))
    runToMemory(s, agg, OutputMode.Complete(), "graft_stream_sliding")
      .select(
        (unix_millis(col("window_start")) / lit(1800000L)).cast("long")
          .as("hop_id"),
        col("event_type"),
        col("n_events"),
        col("value_cents"))
      .orderBy("hop_id", "event_type")
  }

  def streamSlidingOracle: String =
    """WITH offs AS (SELECT * FROM (VALUES (0), (1)) AS t(o)),
      |e AS (SELECT CAST(floor(epoch_ms(ts)/1800000) AS BIGINT) AS hop,
      |        event_type, CAST(round(value*100,0) AS BIGINT) AS cents
      |      FROM events)
      |SELECT e.hop - o AS hop_id, event_type, count(*) AS n_events,
      |  CAST(sum(cents) AS BIGINT) AS value_cents
      |FROM e, offs GROUP BY 1, 2 ORDER BY hop_id, event_type""".stripMargin

  /** LEFT OUTER stream-stream join through the real runtime
    * ([[StreamingOps.clickViewJoinOuter]]): every click row appears,
    * matched or null-extended. A null row only exists once the
    * watermark PROVES no matching view can arrive, so the result is
    * restricted to the resolved horizon — clicks more than
    * (watermark delay + join bound) below the final watermark floor
    * `min(max view ts, max click ts)` — where matched-vs-unmatched
    * status is final regardless of micro-batch boundaries (the same
    * watermark-restriction discipline as [[streamSessionsOoo]]).
    * Unmatched view columns project to -1 sentinels: a nullable BIGINT
    * round-trips as float in the compare harnesses, a sentinel stays
    * exact. */
  def streamJoinOuter(s: SparkSession, d: String): DataFrame = {
    val joined = StreamingOps.clickViewJoinOuter(
      StreamingOps.readEvents(s, eventsStreamDir(d)))
    val out = runToMemory(
      s, joined, OutputMode.Append(), "graft_stream_join_outer")
    val mm = graft.queries.Tables.events(s, d)
      .select(unix_millis(col("ts")).as("ms"), col("event_type"))
      .groupBy()
      .agg(
        max(when(col("event_type") === "click", col("ms"))).as("mc"),
        max(when(col("event_type") === "view", col("ms"))).as("mv"))
      .head()
    // 30-min watermark delay + 1-hour join bound below the final
    // watermark floor: everything here is provably resolved AND evicted
    // (emitted) by the final no-data flush batch.
    val horizon = math.min(mm.getLong(0), mm.getLong(1)) -
      1800000L - 3600000L
    out
      .select(
        col("click_event_id"), col("click_user_id"),
        coalesce(col("view_event_id"), lit(-1L)).as("view_event_id"),
        unix_millis(col("click_ts")).as("click_ms"),
        coalesce(unix_millis(col("view_ts")), lit(-1L)).as("view_ms"))
      .filter(col("click_ms") < horizon)
      .orderBy("click_event_id", "view_event_id")
  }

  def streamJoinOuterOracle: String =
    """WITH v AS (SELECT event_id AS view_event_id, user_id,
      |  CAST(epoch_ms(ts) AS BIGINT) AS view_ms FROM events WHERE event_type = 'view'),
      |c AS (SELECT event_id AS click_event_id, user_id AS click_user_id,
      |  CAST(epoch_ms(ts) AS BIGINT) AS click_ms FROM events WHERE event_type = 'click'),
      |wm AS (SELECT least((SELECT max(view_ms) FROM v),
      |                    (SELECT max(click_ms) FROM c)) - 1800000 - 3600000 AS h)
      |SELECT click_event_id, click_user_id,
      |  coalesce(view_event_id, -1) AS view_event_id, click_ms,
      |  coalesce(view_ms, -1) AS view_ms
      |FROM c LEFT JOIN v ON c.click_user_id = v.user_id
      |  AND view_ms <= click_ms AND view_ms >= click_ms - 3600000
      |WHERE click_ms < (SELECT h FROM wm)
      |ORDER BY click_event_id, view_event_id""".stripMargin

  /** Custom keyed state through the real streaming runtime:
    * `flatMapGroupsWithState` gap sessionization
    * ([[StreamingOps.gapSessions]]), drained with AvailableNow. Emits
    * CLOSED sessions only — batching-invariant (see the op's doc) — so
    * the DuckDB oracle is the batch gap/cumsum sessionizer minus each
    * user's final session. */
  def streamSessions(s: SparkSession, d: String): DataFrame = {
    val sess = StreamingOps.gapSessions(
      s, StreamingOps.readEvents(s, eventsStreamDir(d)))
    runToMemory(s, sess.toDF(), OutputMode.Append(), "graft_stream_sessions")
      .orderBy("user_id", "session_idx")
  }

  def streamSessionsOracle: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
      |g AS (SELECT user_id, ms,
      |  CASE WHEN lag(ms) OVER w IS NULL
      |         OR ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
      |s AS (SELECT user_id, ms,
      |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ms
      |    ROWS UNBOUNDED PRECEDING) AS session_idx FROM g),
      |agg AS (SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
      |  count(*) AS n_events, min(ms) AS start_ms, max(ms) AS end_ms
      |  FROM s GROUP BY 1, 2)
      |SELECT user_id, session_idx, n_events, start_ms, end_ms FROM agg a
      |WHERE session_idx < (SELECT max(session_idx) FROM agg b
      |                     WHERE b.user_id = a.user_id)
      |ORDER BY user_id, session_idx""".stripMargin

  /** Out-of-order-tolerant sessionization through the real runtime
    * ([[StreamingOps.gapSessionsBuffered]]): per-user event times buffer
    * in state until the watermark passes them, then fold time-sorted;
    * sessions close on a later complete event OR on watermark certainty
    * (EventTimeTimeout). Emits exactly the sessions the FINAL watermark
    * certifies — `end + gap < wm_final` — which the DuckDB oracle
    * reproduces as a filter on the batch gap/cumsum sessionizer
    * (`wm_final = max(ms) - 30min`; a fold-closed session's closing
    * event t' is itself below wm_final and t' > end + gap, so both
    * emission paths land in the same restriction). */
  def streamSessionsOoo(s: SparkSession, d: String): DataFrame = {
    val sess = StreamingOps.gapSessionsBuffered(
      s, StreamingOps.readEvents(s, eventsStreamDir(d)))
    runToMemory(
      s, sess.toDF(), OutputMode.Append(), "graft_stream_sessions_ooo")
      .orderBy("user_id", "session_idx")
  }

  def streamSessionsOooOracle: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
      |wm AS (SELECT max(ms) - 1800000 AS w FROM e),
      |g AS (SELECT user_id, ms,
      |  CASE WHEN lag(ms) OVER w IS NULL
      |         OR ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
      |s AS (SELECT user_id, ms,
      |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ms
      |    ROWS UNBOUNDED PRECEDING) AS session_idx FROM g),
      |agg AS (SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
      |  count(*) AS n_events, min(ms) AS start_ms, max(ms) AS end_ms
      |  FROM s GROUP BY 1, 2)
      |SELECT user_id, session_idx, n_events, start_ms, end_ms
      |FROM agg, wm WHERE end_ms + 1800000 < w
      |ORDER BY user_id, session_idx""".stripMargin

  /** Stateful run detection through the real runtime
    * ([[StreamingOps.runDetection]]): per-user consecutive event-type
    * runs via mapGroupsWithState — one row per run CHANGE, state carries
    * the last type and time across batches (cross-batch time regressions
    * refuse loudly, same contract as gapSessions). Batching-invariant on
    * a time-ordered source; the events fixture has unique per-user
    * millisecond timestamps (verified at every SF), so the within-batch
    * getTime sort is total and the run numbering deterministic. */
  def streamRuns(s: SparkSession, d: String): DataFrame = {
    val runs = StreamingOps.runDetection(
      s, StreamingOps.readEvents(s, eventsStreamDir(d)))
    runToMemory(s, runs.toDF(), OutputMode.Append(), "graft_stream_runs")
      .select(
        col("userId").as("user_id"),
        col("runIndex").as("run_index"),
        col("eventType").as("event_type"))
      .orderBy("user_id", "run_index")
  }

  def streamRunsOracle: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_type FROM events),
      |g AS (SELECT user_id, ms, event_type,
      |  CASE WHEN lag(event_type) OVER w IS NULL
      |         OR event_type <> lag(event_type) OVER w THEN 1 ELSE 0 END AS chg
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
      |r AS (SELECT user_id, event_type, chg,
      |  sum(chg) OVER (PARTITION BY user_id ORDER BY ms
      |    ROWS UNBOUNDED PRECEDING) AS run_index FROM g)
      |SELECT user_id, CAST(run_index AS BIGINT) AS run_index, event_type
      |FROM r WHERE chg = 1 ORDER BY user_id, run_index""".stripMargin

  /** Stream-static enrichment through the real runtime
    * ([[StreamingOps.staticEnrich]]): the events stream joined per batch
    * to the static nation dimension (user_id % 25 → nationkey), complete
    * mode — the stateless streaming join every enrichment pipeline
    * starts with. */
  def streamStaticEnrich(s: SparkSession, d: String): DataFrame = {
    val dim = s.read.parquet(s"$d/nation.parquet")
      .select("n_nationkey", "n_name")
    val agg = StreamingOps.staticEnrich(
      StreamingOps.readEvents(s, eventsStreamDir(d)), dim)
    runToMemory(s, agg, OutputMode.Complete(), "graft_stream_enrich")
      .orderBy("nation")
  }

  def streamStaticEnrichOracle: String =
    """SELECT n.n_name AS nation, count(*) AS n_events,
      | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
      |GROUP BY 1 ORDER BY nation""".stripMargin

  /** Streaming split: doc_id % 3 == 0 arrives on the stream; the rest is
    * the already-ingested static corpus. */
  val DocStreamMod = 3

  /** STREAMING incremental dedup against a static corpus
    * ([[StreamingOps.corpusDedupStream]] through the real runtime): the
    * documents drop directory streams in, each arrival is fingerprinted
    * by the canonical prefix key (`md5(substr(text,1,50))` — the same key
    * as `q_dedup_exact`, chosen because the fixture has genuine prefix
    * collisions, so BOTH verdict branches fire), stream-static joined to
    * the corpus fingerprint set, and aggregated per fingerprint in
    * complete mode. Batching-invariant by construction: counts, min-id
    * keeper and the corpus flag do not depend on micro-batch boundaries. */
  def streamDedupCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val corpusFps = docs
      .filter(col("doc_id") % DocStreamMod =!= 0)
      .select(md5(substring(col("text"), 1, 50)).as("fingerprint"))
      .distinct()
      .withColumn("in_corpus", lit(1))
    val arrivals = StreamingOps
      .readDocuments(s, docsStreamDir(d))
      .filter(col("doc_id") % DocStreamMod === 0)
      .select(
        col("doc_id"),
        md5(substring(col("text"), 1, 50)).as("fingerprint"))
    val verdicts = StreamingOps.corpusDedupStream(arrivals, corpusFps)
    runToMemory(s, verdicts, OutputMode.Complete(), "graft_stream_dedup_corpus")
      .orderBy("fingerprint")
  }

  /** STREAMING near-dup ingest gate ([[StreamingOps.nearDupGateStream]]
    * through the real runtime) — the fourth and final cleaning stage of
    * the ingest path (after [[streamQuality]], [[streamDedupCorpus]],
    * [[streamDecontam]]): the [[PipelineQueries.MinhashIncMod]] batch
    * residue arrives on the documents drop stream and is flagged
    * against the FROZEN corpus MinHash artifacts (band table +
    * shingle-set arrays, computed once at deploy from the static corpus
    * split — exactly [[graft.dedup.Dedup.minhashIncremental]]'s
    * batch-vs-corpus discipline as a stream face). Shares the batch
    * oracle verbatim; StreamNearDupSpec pins stream == batch across
    * micro-batches. */
  def streamNearDup(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.{
      MinhashIncMod, MinhashHashes, MinhashBands, MinhashThreshold}
    val docs = documents(s, d)
    val corpus = docs.filter(col("doc_id") % MinhashIncMod =!= 0)
    val cBands = graft.dedup.Dedup
      .bandTable(corpus, "doc_id", "text", MinhashHashes, MinhashBands)
      .localCheckpoint(true)
    val cSets = graft.dedup.Dedup
      .shingleSetTable(corpus, "doc_id", "text")
      .localCheckpoint(true)
    val arrivals = StreamingOps
      .readDocuments(s, docsStreamDir(d))
      .filter(col("doc_id") % MinhashIncMod === 0)
    val verdicts = StreamingOps.nearDupGateStream(
      arrivals, cBands, cSets, MinhashHashes, MinhashBands, MinhashThreshold)
    runToMemory(s, verdicts, OutputMode.Append(), "graft_stream_neardup")
      .orderBy("id_a", "id_b")
  }

  /** The batch incremental MinHash oracle IS the streaming oracle. */
  def streamNearDupOracle: String = PipelineQueries.minhashIncrementalOracle

  /** STREAMING cell-occupancy drift ([[StreamingOps.cellOccupancyStream]]
    * through the real runtime): the [[PipelineQueries.SemIncMod]] batch
    * residue arrives on the embeddings drop stream, assigns map-side
    * against the FROZEN corpus-trained centroids (embedded in the plan as
    * a literal — stateless, ≤K rows of aggregation state), and the
    * complete-mode counts feed the SAME drift arithmetic as the batch
    * [[PipelineQueries.cellDrift]] — so q_stream_cell_drift and
    * q_cell_drift share ONE oracle and can never drift apart. The K-row
    * centroid collect is the frozen-artifact handoff a production
    * monitor does once at deploy. */
  def streamCellDrift(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.{SemIncMod, SemIncResidue, IvfCentroidIds, KmeansIters}
    val emb = Tables.embeddings(s, d)
    val corpus = emb.filter(col("vec_id") % SemIncMod =!= SemIncResidue)
    val (cent, _) =
      graft.similarity.Ivf.lloydIntTrain(corpus, IvfCentroidIds, KmeansIters)
    val centRows = cent.orderBy("cell").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSeq
    val arrivals = StreamingOps
      .readEmbeddings(s, embeddingsStreamDir(d))
      .filter(col("vec_id") % SemIncMod === SemIncResidue)
    val nb = runToMemory(
      s,
      StreamingOps.cellOccupancyStream(arrivals, centRows),
      OutputMode.Complete(), "graft_stream_cell_drift")
    graft.similarity.Ivf.driftReadout(
      cent,
      graft.similarity.Ivf.occupancyAgainst(corpus, cent, "n_corpus"),
      nb)
  }

  /** Same readout, same split, same training — the batch oracle IS the
    * streaming oracle. */
  def streamCellDriftOracle: String = PipelineQueries.cellDriftOracle

  /** STREAMING quality gate — the ingest-time face of the C4/Gopher
    * battery: arriving documents are scored by the SAME
    * [[graft.textanalysis.TextAnalysis.gopherFilters]] + quality blend
    * as the batch [[PipelineQueries.gopherFiltersQ]], as a STATELESS
    * per-row map in append mode (no state store, no watermark — a row's
    * verdict depends on that row alone, so the operator is trivially
    * batching-invariant and the stream filters data BEFORE it lands in
    * the corpus). Shares the batch oracle verbatim: the two faces can
    * never drift. */
  def streamQuality(s: SparkSession, d: String): DataFrame = {
    val arrivals = StreamingOps.readDocuments(s, docsStreamDir(d))
    val verdicts = graft.textanalysis.TextAnalysis
      .gopherFilters(
        arrivals, "doc_id", "text",
        extra = Seq(graft.textanalysis.TextAnalysis.qualityScore(col("text"))
          .as("quality")))
      .withColumn("keep", col("pass_gopher") && col("quality") >= 0.7)
    runToMemory(s, verdicts, OutputMode.Append(), "graft_stream_quality")
      .orderBy("doc_id")
  }

  /** The batch battery oracle IS the streaming oracle. */
  def streamQualityOracle: String = PipelineQueries.gopherFiltersOracle

  /** STREAMING quality-distribution drift — the ingest-time face of
    * [[PipelineQueries.qualityDrift]]: arrivals score row-local (the
    * same blend the batch face uses), fold into a per-level count in
    * COMPLETE mode (state bounded by the ~dozen discrete quality
    * levels, not the stream), and the final histogram feeds the SAME
    * [[PipelineQueries.qualityDriftReadout]] against the FROZEN corpus
    * baseline histogram — the deploy-time artifact a production monitor
    * computes once. Counts fold additively, so the result is
    * batching-invariant by construction; the batch oracle is shared
    * verbatim. */
  def streamQualityDrift(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.IncrementalMod
    val ta = graft.textanalysis.TextAnalysis
    val corpusHist = documents(s, d)
      .filter(col("doc_id") % IncrementalMod =!= 0)
      .select(ta.qualityScore(col("text")).as("quality"))
      .groupBy("quality").agg(count(lit(1)).as("corpus_n"))
      .localCheckpoint(true)
    val arrivals = StreamingOps.readDocuments(s, docsStreamDir(d))
      .filter(col("doc_id") % IncrementalMod === 0)
      .select(ta.qualityScore(col("text")).as("quality"))
    val bh = runToMemory(
      s,
      arrivals.groupBy("quality").agg(count(lit(1)).as("batch_n")),
      OutputMode.Complete(), "graft_stream_quality_drift")
    PipelineQueries.qualityDriftReadout(corpusHist, bh)
  }

  /** Same readout, same split — the batch drift oracle IS the streaming
    * oracle. */
  def streamQualityDriftOracle: String = PipelineQueries.qualityDriftOracle

  /** STREAMING source-mix drift — [[streamQualityDrift]]'s shape on the
    * `source` column: arrivals fold per-source counts in complete mode
    * (state bounded by the source count) into the same shared readout
    * against the frozen corpus baseline. */
  def streamSourceDrift(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.IncrementalMod
    val corpusHist = documents(s, d)
      .filter(col("doc_id") % IncrementalMod =!= 0)
      .groupBy("source").agg(count(lit(1)).as("corpus_n"))
      .localCheckpoint(true)
    val arrivals = StreamingOps.readDocuments(s, docsStreamDir(d))
      .filter(col("doc_id") % IncrementalMod === 0)
    val bh = runToMemory(
      s,
      arrivals.groupBy("source").agg(count(lit(1)).as("batch_n")),
      OutputMode.Complete(), "graft_stream_source_drift")
    PipelineQueries.qualityDriftReadout(corpusHist, bh, "source")
  }

  def streamSourceDriftOracle: String = PipelineQueries.sourceDriftOracle

  /** Upper bound on holdout rows embedded as a plan literal by
    * [[decontamGateStream]] — generous for any eval suite, far below
    * anything corpus-shaped. */
  private val MaxHoldoutLiteralRows = 100000

  /** Frozen-artifact literal shapes for [[streamDecontam]]. */
  private case class CentLit(cell: Long, cemb: Seq[Double])
  private case class HoldLit(
      h_id: Long, cell: Long, h_emb: Seq[Double], h_nrm: Double)

  /** STREAMING semantic decontamination — the third ingest gate (after
    * [[streamQuality]] and [[streamDedupCorpus]]), and the streaming
    * face of [[PipelineQueries.semanticDecontam]]: arriving corpus
    * documents are flagged against the held-out benchmark at embedding
    * cosine BEFORE they land. Fully STATELESS per-row append map — the
    * two frozen artifacts ride the plan as literals, the deploy-time
    * handoff a production gate does once: the K-row centroid table
    * (same frozen-literal discipline as [[streamCellDrift]]) and the
    * holdout's per-cell assignments (EVAL-SUITE sized — MBs against the
    * corpus's TBs, which is the entire reason decontamination ships to
    * executors rather than shuffling). Per arrival: probe nProbe cells
    * map-side (the shared [[graft.similarity.Ivf.cellStructsDblSql]]
    * arithmetic, so stream and batch can never drift), score only the
    * same-cell holdout docs inside row-local higher-order functions,
    * emit the flag row. No state store, no watermark, no shuffle —
    * trivially batching-invariant; shares the batch oracle verbatim.
    * (At a holdout too large for a literal, the same plan becomes a
    * stream-static broadcast cell join — the operator's documented
    * growth path.) */
  def streamDecontam(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.{DecontamMod, SemDecontamCentroidIds}
    val ivf = graft.similarity.Ivf
    val emb = Tables.embeddings(s, d)
    val cent = ivf.fixedCentroidsDouble(
      emb.filter(col("vec_id") % DecontamMod =!= 0), SemDecontamCentroidIds)
      .localCheckpoint(true)
    val arrivals = StreamingOps
      .readEmbeddings(s, embeddingsStreamDir(d))
      .filter(col("vec_id") % DecontamMod =!= 0)
    val verdicts = decontamGateStream(
      arrivals, cent, emb.filter(col("vec_id") % DecontamMod === 0))
    runToMemory(s, verdicts, OutputMode.Append(), "graft_stream_decontam")
      .orderBy("vec_id")
  }

  /** [[streamDecontam]]'s gate over any arrivals frame (streaming or
    * batch), frozen centroid table and holdout frame. Collects the two
    * deploy-time artifacts and returns
    * the per-row verdict transform. */
  private[graft] def decontamGateStream(
      arrivals: DataFrame,
      cent: DataFrame,
      holdout: DataFrame): DataFrame = {
    import PipelineQueries.{SemDedupThreshold, SemDecontamNProbe}
    val ivf = graft.similarity.Ivf
    val s = cent.sparkSession
    val centLits = cent.collect()
      .map(r => CentLit(r.getLong(0), r.getSeq[Double](1)))
      .toSeq
    val holdRows = ivf.holdoutAssignments(holdout, cent).collect()
    // The holdout rides the plan as a literal — correct only while it is
    // eval-suite sized. A corpus-sized frame passed by mistake would blow
    // up driver memory and plan size; fail loudly and point at the
    // documented growth path (the stream-static broadcast cell join).
    require(
      holdRows.length <= MaxHoldoutLiteralRows,
      s"decontam holdout has ${holdRows.length} rows; the frozen-literal " +
        s"gate is bounded at $MaxHoldoutLiteralRows — use a stream-static " +
        "broadcast join on the cell column for larger holdouts")
    val holdLits = holdRows
      .map(r => HoldLit(
        r.getLong(0), r.getLong(1), r.getSeq[Double](2), r.getDouble(3)))
      .toSeq
    val probedSql =
      s"transform(slice(array_sort(${ivf.cellStructsDblSql("emb")}), " +
        s"1, $SemDecontamNProbe), p -> p.cell)"
    arrivals
      .withColumn("emb", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("nrm", expr("sqrt(graft_dot(emb, emb))"))
      .withColumn("cents", typedLit(centLits))
      .withColumn("hold", typedLit(holdLits))
      .withColumn("probed", expr(probedSql))
      // Loop order is load-bearing, not style: `probed` must be the
      // OUTER transform's argument (evaluated once per row) — the first
      // cut filtered `hold` with `array_contains(probed, h.cell)`, and
      // after CollapseProject inlined the `probed` alias into that
      // per-element lambda, the whole 8-centroid sort re-ran for EVERY
      // holdout element (measured 16.5 s vs 0.9 s per micro-batch on
      // the sf0.1 fixture). Iterating probed outside and equi-matching
      // h.cell = p inside visits the identical pair set (a holdout doc
      // owns exactly one cell, so flatten introduces no duplicates) and
      // keeps every row-invariant subtree out of the hot lambda.
      .withColumn(
        "hits",
        expr(
          s"""filter(
             |  flatten(transform(probed, p ->
             |    transform(filter(hold, h -> h.cell = p),
             |      h -> round(graft_dot(emb, h.h_emb) / (nrm * h.h_nrm), 6)))),
             |  sc -> sc >= CAST($SemDedupThreshold AS DOUBLE))""".stripMargin))
      .filter(size(col("hits")) > 0)
      .select(
        col("vec_id"),
        size(col("hits")).cast("long").as("n_holdout_hits"),
        array_max(col("hits")).as("max_score"))
  }

  /** The batch decontamination oracle IS the streaming oracle. */
  def streamDecontamOracle: String = PipelineQueries.semanticDecontamOracle

  /** STREAMING n-gram Jaccard gate ([[StreamingOps.ngramGateStream]]
    * through the real runtime) — the exact-candidate shingle gate next
    * to [[streamNearDup]]'s probabilistic MinHash bands: the
    * [[PipelineQueries.NgramIncMod]] batch residue arrives on the
    * documents drop stream, shingles row-local, and pairs against the
    * FROZEN df-capped posting artifact; the verify shares the
    * full-shingle-set discipline. Shares the batch incremental oracle
    * verbatim (the fixture's deliveries never exceed the df cap, where
    * the two faces provably coincide — spec-pinned); a spec pins
    * stream == batch. */
  def streamNgram(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.{NgramIncMod, NgramDfCap, JaccardThreshold}
    // The shingle pass (the dominant artifact-build cost) replays the
    // (session, dir)-keyed memo shared with q_stream_attribution —
    // disclosed in the bench record like the CC build's. The artifacts
    // themselves checkpoint too: a stream-static join re-executes its
    // static side EVERY micro-batch otherwise (the same frozen-artifact
    // discipline as the minhash gate's cBands/cSets).
    val corpusRows = PipelineQueries.docShingleRows(s, d)
      .filter(col("id") % NgramIncMod =!= 0)
    val (p0, s0) = graft.dedup.Dedup
      .ngramArtifactsFromRows(corpusRows, NgramDfCap)
    val postings = p0.localCheckpoint(true)
    val cSets = s0.localCheckpoint(true)
    val arrivals = StreamingOps
      .readDocuments(s, docsStreamDir(d))
      .filter(col("doc_id") % NgramIncMod === 0)
    val verdicts = StreamingOps.ngramGateStream(
      arrivals, postings, cSets, col("lang"), JaccardThreshold)
    runToMemory(s, verdicts, OutputMode.Append(), "graft_stream_ngram")
      .orderBy("id_a", "id_b")
  }

  /** The batch incremental n-gram oracle IS the streaming oracle. */
  def streamNgramOracle: String =
    PipelineQueries.ngramJaccardIncrementalOracle

  /** STREAMING novelty scoring — the ingest face of q_ngram_novelty:
    * each arriving document shingles ROW-LOCAL inside its micro-batch,
    * left-joins the FROZEN corpus distinct-shingle artifact (the
    * checkpointed table the commit family maintains in production) and
    * rolls up to its one (n_shingles, n_seen, novelty_micros) row. The
    * rollup is ARRIVAL-LOCAL — all of a document's shingles travel in
    * its one arriving row — so the per-micro-batch aggregation is exact
    * and the fold batching-invariant; the oracle IS the batch
    * q_ngram_novelty oracle. Corpus side rides the shared shingle memo. */
  def streamNovelty(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.NgramIncMod
    val corpusSet = PipelineQueries.docShingleRows(s, d)
      .filter(col("id") % NgramIncMod =!= 0)
      .select("shingle").distinct()
      .localCheckpoint(true)
    val arrivals = StreamingOps
      .readDocuments(s, docsStreamDir(d))
      .filter(col("doc_id") % NgramIncMod === 0)
    val acc =
      new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
    def score(b: DataFrame): DataFrame = graft.dedup.Dedup
      .ngramNoveltyFromRows(
        corpusSet,
        graft.dedup.Dedup.shingleRows(b, "doc_id", "text"))
      .withColumnRenamed("id", "doc_id")
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions)
    try {
      val q = arrivals.writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          val scored = score(b).localCheckpoint(true)
          acc.updateAndGet(p =>
            if (p == null) scored else p.unionByName(scored))
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(key, prev)
    Option(acc.get)
      .getOrElse(score(documents(s, d).limit(0)))
      .orderBy("doc_id")
  }

  /** The batch novelty oracle IS the streaming oracle. */
  def streamNoveltyOracle: String = PipelineQueries.ngramNoveltyOracle

  /** STREAMING sentence-clean gate — the ingest face of the cross-doc
    * sentence dedup (CCNet's corpus-wide paragraph dedup at the door):
    * each arriving document splits/hashes ROW-LOCAL, left-joins the
    * FROZEN corpus sentence-hash artifact and rolls up to its one
    * (n_sentences, n_kept, clean_md5) row. Arrival-local rollup (all of
    * a document's sentences travel in its one arriving row) ⇒ the
    * per-micro-batch fold is exact and batching-invariant; the oracle
    * IS the batch incremental oracle. */
  def streamSentence(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.IncrementalMod
    val docs = documents(s, d)
      .withColumn("text", concat(col("text"), lit(PipelineQueries.Footer)))
    val corpusSet = graft.dedup.Dedup
      .sentenceHashSet(
        docs.filter(col("doc_id") % IncrementalMod =!= 0), "doc_id", "text")
      .localCheckpoint(true)
    val arrivals = StreamingOps
      .readDocuments(s, docsStreamDir(d))
      .filter(col("doc_id") % IncrementalMod === 0)
      .withColumn("text", concat(col("text"), lit(PipelineQueries.Footer)))
    val acc =
      new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
    def score(b: DataFrame): DataFrame = graft.dedup.Dedup
      .sentenceCleanAgainstSet(corpusSet, b, "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions)
    try {
      val q = arrivals.writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          val scored = score(b).localCheckpoint(true)
          acc.updateAndGet(p =>
            if (p == null) scored else p.unionByName(scored))
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(key, prev)
    Option(acc.get)
      .getOrElse(score(docs.limit(0)))
      .orderBy("doc_id")
  }

  /** The batch incremental sentence oracle IS the streaming oracle. */
  def streamSentenceOracle: String = PipelineQueries.sentenceDedupIncOracle

  /** STREAMING sentence-hash COMMIT — the artifact-side twin of
    * [[streamSentence]], TABLE-BACKED (VERDICT r11's chained-fold
    * shape): the corpus sentence-hash set writes once as a hash-
    * partitioned table; each micro-batch's NOVEL hashes append after a
    * Bloom-prefiltered, partition-pruned gate against the stored set —
    * set union is associative and an appended hash can never re-enter,
    * so after N deliveries the table equals distinct hashes of corpus ∪
    * all arrivals, exactly [[graft.dedup.Dedup.committedSentenceHashes]]'
    * law with the per-delivery full-set re-checkpoint gone. Emits the
    * shared 1-row count readout; oracle IS the batch q_sentence_commit
    * oracle. */
  def streamSentenceCommit(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.IncrementalMod
    val docs = documents(s, d)
      .withColumn("text", concat(col("text"), lit(PipelineQueries.Footer)))
    val store = new graft.dedup.SentenceTable(
      s,
      java.nio.file.Files.createTempDirectory("graft_sent_store_").toString)
      .deploy(docs.filter(col("doc_id") % IncrementalMod =!= 0),
        "doc_id", "text")
    val arrivals = StreamingOps
      .readDocuments(s, docsStreamDir(d))
      .filter(col("doc_id") % IncrementalMod === 0)
      .withColumn("text", concat(col("text"), lit(PipelineQueries.Footer)))
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions)
    try {
      val q = arrivals.writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          store.foldBatch(b.select(col("doc_id").as("id"), col("text")), id)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(key, prev)
    graft.dedup.Dedup
      .commitSentenceReadout(store.corpusHashes, store.presentHashes)
  }

  /** The batch sentence-commit oracle IS the streaming oracle. */
  def streamSentenceCommitOracle: String =
    PipelineQueries.sentenceCommitOracle

  /** STREAMING sentence-hash TAKEDOWN — the retraction face of
    * [[streamSentenceCommit]] on the TABLE-BACKED multiset store
    * ([[graft.dedup.SentenceTable.retractBatch]]): the whole corpus
    * deploys as per-(doc, hash) +1 rows, takedown deliveries stream in
    * carrying only doc ids, and each fold tombstones the ids and
    * appends the −1 rows regenerated from the STORED texts — a hash
    * leaves the committed set exactly when its last remaining
    * document's decrement lands, so the planted-footer retention case
    * (a hash shared by every document survives any subset's takedown)
    * falls out of the signed-multiset arithmetic with NO corpus
    * retention scan, the exact scan [[Dedup.retractSentenceHashes]]
    * (q_sentence_retract, the verification twin) must pay per
    * takedown. The oracle is SHARED: the committed set after streamed
    * takedowns equals the rebuilt-from-scratch hash set of the
    * survivors. Replay-safe by batch id and by content. */
  def streamSentenceRetract(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.{KnnRetractMod, KnnRetractResidue}
    val docs = documents(s, d)
      .withColumn("text", concat(col("text"), lit(PipelineQueries.Footer)))
    val store = new graft.dedup.SentenceTable(
      s,
      java.nio.file.Files.createTempDirectory("graft_sent_ret_").toString)
      .deploy(docs, "doc_id", "text")
    val takedowns = StreamingOps
      .readDocuments(s, docsStreamDir(d))
      .filter(col("doc_id") % KnnRetractMod === KnnRetractResidue)
      .select(col("doc_id").as("id"))
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions)
    try {
      val q = takedowns.writeStream
        .foreachBatch((b: DataFrame, id: Long) => store.retractBatch(b, id))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(key, prev)
    store.presentHashes.orderBy("sh")
  }

  /** The batch sentence-retraction oracle IS the streaming oracle. */
  def streamSentenceRetractOracle: String =
    PipelineQueries.sentenceRetractOracle

  /** STREAMING canary gate — the scan a training pipeline runs at the
    * DOOR, not just over the resting corpus: arriving documents
    * substring-scan against the broadcast canary table row-local
    * (stateless append map, the q_stream_quality shape), so a leaked
    * secret is caught before it lands. Same planting as the batch
    * face; oracle IS the batch q_canary_scan oracle. */
  def streamCanary(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val P = PipelineQueries
    val arrivals = StreamingOps
      .readDocuments(s, docsStreamDir(d))
      .withColumn("text",
        when(col("doc_id") % P.CanaryMod === P.CanaryResidue,
          concat(col("text"), lit(" "),
            element_at(
              array(P.Canaries.map(lit): _*),
              (col("doc_id") % 3 + 1).cast("int"))))
          .otherwise(col("text")))
    val canaries = broadcast(P.Canaries.toDF("canary"))
    val hits = arrivals
      .crossJoin(canaries)
      .filter(col("text").contains(col("canary")))
      .select("doc_id", "canary")
    runToMemory(s, hits, OutputMode.Append(), "graft_stream_canary")
      .orderBy("doc_id", "canary")
  }

  /** The batch canary oracle IS the streaming oracle. */
  def streamCanaryOracle: String = PipelineQueries.canaryScanOracle

  /** STREAMING SFT dialogue pairs ([[StreamingOps.dialoguePairsStream]]
    * through the real runtime): conversation-keyed rolling-buffer state
    * builds the same (context digest, response) pairs the batch
    * window does, across micro-batch boundaries; oracle IS the batch
    * q_dialogue_pairs oracle, and a spec pins stream == batch. */
  def streamDialogue(s: SparkSession, d: String): DataFrame = {
    val pairs = StreamingOps.dialoguePairsStream(
      s, StreamingOps.readEvents(s, eventsStreamDir(d)),
      graft.queries.EventQueries.DialogueContextTurns)
    runToMemory(s, pairs.toDF(), OutputMode.Append(), "graft_stream_dialogue")
      .orderBy("conv_id", "event_id")
  }

  /** The batch dialogue-pair oracle IS the streaming oracle. */
  def streamDialogueOracle: String =
    graft.queries.EventQueries.dialoguePairsOracle

  /** STREAMING SFT pack ([[StreamingOps.sftPackStream]]): pairs AND
    * their loss-mask pack offsets in one stateful pass at ingest — the
    * conversation state carries the rolling context buffer plus the
    * running token cursor, advanced only for emitted pairs (the batch
    * face's filtered prefix sum), so any micro-batch split lands on the
    * batch arithmetic. Oracle IS the batch q_sft_pack oracle. */
  def streamSftPack(s: SparkSession, d: String): DataFrame = {
    val E = graft.queries.EventQueries
    val packed = StreamingOps.sftPackStream(
      s, StreamingOps.readEvents(s, eventsStreamDir(d)),
      E.DialogueContextTurns, E.SftPackBudget)
    runToMemory(s, packed.toDF(), OutputMode.Append(), "graft_stream_sftpack")
      .orderBy("conv_id", "event_id")
  }

  /** The batch SFT-pack oracle IS the streaming oracle. */
  def streamSftPackOracle: String =
    graft.queries.EventQueries.sftPackOracle

  /** STREAMING embedding-quality gate — the vector ingest stack's first
    * stage (gate → index commit → serve): arriving vectors run the
    * row-local [[PipelineQueries.embeddingBattery]] (dim / NaN / zero /
    * norm verdict) with no state and no shuffle, the
    * q_stream_quality shape on the embeddings stream. The oracle is the
    * batch battery over the real table (the planted broken rows stay on
    * the batch face, where every verdict branch is oracle-exercised). */
  def streamEmbeddingQuality(s: SparkSession, d: String): DataFrame = {
    val gated = PipelineQueries.embeddingBattery(
      StreamingOps.readEmbeddings(s, embeddingsStreamDir(d))
        .select("vec_id", "embedding"))
    runToMemory(s, gated, OutputMode.Append(), "graft_stream_embq")
      .orderBy("vec_id")
  }

  def streamEmbeddingQualityOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |f AS (
       |  SELECT vec_id,
       |    CAST(len(embedding) AS BIGINT) AS n_dims,
       |    len(list_filter(emb, x -> isnan(x))) > 0 AS has_nan,
       |    CASE WHEN len(list_filter(emb, x -> isnan(x))) > 0 THEN NULL
       |         ELSE CAST(round(sqrt(list_dot_product(emb, emb)) * 1000000, 0) AS BIGINT)
       |    END AS norm_micros
       |  FROM e)
       |SELECT vec_id, n_dims, has_nan,
       |  coalesce(norm_micros = 0, false) AS is_zero,
       |  norm_micros,
       |  CASE WHEN n_dims <> ${PipelineQueries.Dims} THEN 'bad_dim'
       |       WHEN has_nan THEN 'nan'
       |       WHEN norm_micros = 0 THEN 'zero'
       |       ELSE 'pass' END AS verdict
       |FROM f ORDER BY vec_id""".stripMargin

  /** STREAMING SimHash near-dup gate ([[StreamingOps.simhashGateStream]]
    * through the real runtime) — the hamming-family twin of
    * [[streamNearDup]]: the [[PipelineQueries.SimhashIncMod]] batch
    * residue arrives on the documents drop stream, simhashes and bands
    * ROW-LOCAL, and pairs against the FROZEN corpus band table; the
    * hamming verify is a pure per-row popcount (no second join —
    * SimHash's edge over MinHash at ingest). Shares the batch
    * incremental oracle verbatim; a spec pins stream == batch. */
  def streamSimhash(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.{SimhashIncMod, SimhashMaxHamming, SimhashBlocks}
    val docs = documents(s, d)
    val cBands = graft.dedup.Dedup
      .simhashBandTable(
        docs.filter(col("doc_id") % SimhashIncMod =!= 0),
        "doc_id", "text", SimhashBlocks)
      .localCheckpoint(true)
    val arrivals = StreamingOps
      .readDocuments(s, docsStreamDir(d))
      .filter(col("doc_id") % SimhashIncMod === 0)
    val verdicts = StreamingOps.simhashGateStream(
      arrivals, cBands, SimhashMaxHamming, SimhashBlocks)
    runToMemory(s, verdicts, OutputMode.Append(), "graft_stream_simhash")
      .orderBy("id_a", "id_b")
  }

  /** The batch incremental SimHash oracle IS the streaming oracle. */
  def streamSimhashOracle: String = PipelineQueries.simhashIncrementalOracle

  /** STREAMING image-text alignment gate — the fifth ingest gate, and
    * the streaming face of [[PipelineQueries.imgtextAlign]]: arriving
    * image-carrying documents are scored against the text-encoder
    * projection BEFORE the pair enters the interleaved pack. Fully
    * stateless: media-item fabrication and feature extraction are
    * per-row map work on the arriving blob
    * ([[graft.multimodal.Multimodal.mediaFromDocs]] +
    * `extractFeatures` — the blob never shuffles), and the scoring is a
    * stream-static equi-join to the frozen 16-dim text projection (the
    * deploy-time encoder artifact, checkpointed once) plus row-local
    * `graft_dot` arithmetic — all shared with the batch face via
    * [[PipelineQueries.alignScores]], so the two cannot drift. Shares
    * the batch oracle verbatim. */
  def streamAlign(s: SparkSession, d: String): DataFrame = {
    val arrivals = StreamingOps.readDocuments(s, docsStreamDir(d))
    val ifeat = PipelineQueries.imageFeatureFrame(
      graft.multimodal.Multimodal.mediaFromDocs(arrivals))
    val tfeat = PipelineQueries
      .textProjection(Tables.embeddings(s, d))
      .localCheckpoint(true)
    val verdicts = PipelineQueries.alignScores(ifeat, tfeat)
    runToMemory(s, verdicts, OutputMode.Append(), "graft_stream_align")
      .orderBy("doc_id")
  }

  /** The batch alignment oracle IS the streaming oracle. */
  def streamAlignOracle: String = PipelineQueries.imgtextAlignOracle

  /** STREAMING shard router — the ingest-time face of
    * [[graft.operators.Sharding]]: each arriving document is routed to
    * its deterministic output shard by the same seeded 60-bit md5 key
    * as the batch assignment (`key % N`), as a stateless per-row append
    * map (a production sink fans the stream out to N shard files on
    * exactly this column). Within-shard ORDER is deliberately absent
    * here: position is a corpus-wide property ([[Sharding.assign]]'s
    * prefix-sum rank), so the streaming face routes and the batch face
    * orders — same key arithmetic, spec-shared by construction since
    * both call [[graft.dedup.Dedup.hash60]] on the same seeded string.
    * Emits (doc_id, skey, shard); oracle recomputes both from doc_id. */
  def streamShard(s: SparkSession, d: String): DataFrame = {
    import TextQueries.{NumShards, ShardSeed}
    val arrivals = StreamingOps.readDocuments(s, docsStreamDir(d))
    val routed = arrivals.select(
      col("doc_id"),
      graft.dedup.Dedup.hash60(
        concat_ws(":", lit(ShardSeed), col("doc_id").cast("string")))
        .as("skey"))
      .withColumn("shard", col("skey") % NumShards)
    runToMemory(s, routed, OutputMode.Append(), "graft_stream_shard")
      .orderBy("doc_id")
  }

  def streamShardOracle: String =
    s"""SELECT doc_id,
       |  CAST('0x' || substr(md5('${TextQueries.ShardSeed}:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS skey,
       |  CAST('0x' || substr(md5('${TextQueries.ShardSeed}:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % ${TextQueries.NumShards} AS shard
       |FROM documents ORDER BY doc_id""".stripMargin

  /** STREAMING corpus commit ([[graft.dedup.TableCommit]] through the
    * real runtime's `foreachBatch`) — the OUTBOUND end of the ingest
    * stack as a stream: the [[PipelineQueries.IncrementalMod]] batch
    * residue arrives on the documents drop stream; each micro-batch is
    * gated against the STORED committed fingerprint tables
    * (Bloom-prefiltered, partition-pruned), span-cleaned against the
    * frozen corpus span set, and folded as BATCH-SIZED delta appends —
    * the table-backed production shape VERDICT r11 asked for, replacing
    * the per-delivery full-state re-checkpoint. [[graft.dedup
    * .StreamingCommit]] remains the in-memory verification twin;
    * TableCommitSpec pins the two equal artifact-for-artifact, plus
    * 1-batch == N-batch, stream == one-shot batch, and replay safety.
    * The readout is the same six-artifact count frame as
    * `q_corpus_commit`, so the faces share ONE oracle and cannot
    * drift. */
  def streamCommit(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.{
      IncrementalMod, MinhashHashes, MinhashBands, SpanW, SimhashBlocks}
    val docs = documents(s, d)
    val store = graft.dedup.TableCommit.sharedDeploy(s, d,
      docs.filter(col("doc_id") % IncrementalMod =!= 0), "doc_id", "text",
      MinhashHashes, MinhashBands, SpanW, simhashBlocks = SimhashBlocks)
    val arrivals = StreamingOps
      .readDocuments(s, docsStreamDir(d))
      .filter(col("doc_id") % IncrementalMod === 0)
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions)
    try {
      val q = arrivals.writeStream
        .foreachBatch((b: DataFrame, id: Long) =>
          store.foldBatch(
            b.select(col("doc_id").as("id"), col("text")), id))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(key, prev)
    commitReadout(
      ("fingerprint", store.corpusFingerprints, store.deltaFingerprints,
        store.committedFingerprints),
      ("minhash_band", store.corpusBands, store.deltaBands,
        store.committedBands),
      ("span_fp", store.corpusSpanFps, store.deltaSpanFps,
        store.committedSpanFps),
      ("simhash_band", store.corpusSimhashBands, store.deltaSimhashBands,
        store.committedSimhashBands),
      ("ngram_posting", store.corpusNgramPostings, store.deltaNgramRows,
        store.committedNgramPostings),
      ("shingle_set", store.corpusShingleSets, store.deltaShingleSets,
        store.committedShingleSets))
  }

  private def commitReadout(
      rows: (String, DataFrame, DataFrame, DataFrame)*): DataFrame =
    rows
      .map { case (name, cor, del, com) =>
        cor.agg(count(lit(1)).as("n_corpus"))
          .crossJoin(del.agg(count(lit(1)).as("n_delta")))
          .crossJoin(com.agg(count(lit(1)).as("n_committed")))
          .select(
            lit(name).as("artifact"),
            col("n_corpus"), col("n_delta"), col("n_committed"))
      }
      .reduce(_ unionByName _)
      .orderBy("artifact")

  /** The batch commit oracle IS the streaming-commit oracle. */
  def streamCommitOracle: String = PipelineQueries.corpusCommitOracle

  /** STREAMING retraction ([[graft.dedup.TableCommit.retractBatch]]
    * through the real runtime's `foreachBatch`) — the missing twin of
    * [[streamCommit]] VERDICT r11 named: takedowns applied WHILE the
    * ingest runs, not as an offline batch job. The
    * [[PipelineQueries.RetractMod]] residue's doc ids arrive as
    * takedown requests on the documents drop stream; each micro-batch
    * tombstones its ids and appends the signed multiset decrements
    * (fingerprints, span fps, df sidecar), replay-safe by batch id and
    * by content (an already-tombstoned id is a no-op). The readout is
    * the same per-artifact (before, after) count frame as
    * `q_corpus_retract`, so the streaming and batch takedowns share ONE
    * oracle; TableCommitSpec pins row-level stream ==
    * [[graft.dedup.Dedup.retractArtifacts]] and retract ∘ commit ==
    * identity on the stream. */
  def streamRetract(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.{
      RetractMod, RetractResidue, RetractDfCap,
      MinhashHashes, MinhashBands, SpanW, SimhashBlocks}
    val docs = documents(s, d)
    val store = new graft.dedup.TableCommit(
      s,
      java.nio.file.Files.createTempDirectory("graft_retract_store_")
        .toString,
      MinhashHashes, MinhashBands, SpanW, simhashBlocks = SimhashBlocks,
      maxShingleDf = RetractDfCap)
      .deploy(docs.select("doc_id", "text"), "doc_id", "text")
    val takedowns = StreamingOps
      .readDocuments(s, docsStreamDir(d))
      .filter(col("doc_id") % RetractMod === RetractResidue)
      .select(col("doc_id").as("id"))
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions)
    try {
      val q = takedowns.writeStream
        .foreachBatch((b: DataFrame, id: Long) => store.retractBatch(b, id))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(key, prev)
    def row(name: String, before: DataFrame, after: DataFrame) =
      before.agg(count(lit(1)).as("n_before"))
        .crossJoin(after.agg(count(lit(1)).as("n_after")))
        .select(lit(name).as("artifact"), col("n_before"), col("n_after"))
    row("fingerprint", store.corpusFingerprints, store.committedFingerprints)
      .unionByName(row("minhash_band", store.corpusBands,
        store.committedBands))
      .unionByName(row("ngram_df", store.corpusNgramDf,
        store.committedNgramDf))
      .unionByName(row("ngram_posting", store.corpusNgramPostings,
        store.committedNgramPostings))
      .unionByName(row("shingle_set", store.corpusShingleSets,
        store.committedShingleSets))
      .unionByName(row("simhash_band", store.corpusSimhashBands,
        store.committedSimhashBands))
      .unionByName(row("span_fp", store.corpusSpanFps,
        store.committedSpanFps))
      .orderBy("artifact")
  }

  /** The batch retraction oracle IS the streaming-retraction oracle. */
  def streamRetractOracle: String = PipelineQueries.corpusRetractOracle

  /** INTERLEAVED lifecycle stream — commits AND takedowns on ONE live
    * stream, the shape a production ingest actually runs: each arriving
    * micro-batch first folds through the full gate/clean/commit
    * ([[graft.dedup.TableCommit.foldBatch]]), then the batch's
    * [[PipelineQueries.RetractMod]] takedown residue retracts
    * ([[graft.dedup.TableCommit.retractBatch]]) — both against the SAME
    * stored artifact tables, so the next delivery gates against a set
    * that already reflects this delivery's takedowns. The oracle
    * rebuilds every artifact from scratch on the SURVIVORS, which
    * equals commit-then-retract exactly because the store's
    * content-keyed sets are signed multisets (scaladoc on
    * [[PipelineQueries.streamLifecycleOracle]] covers the
    * batching-determinism caveat). Readout: per-artifact
    * (n_corpus, n_committed). */
  def streamLifecycle(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.{
      IncrementalMod, RetractMod, RetractResidue,
      MinhashHashes, MinhashBands, SpanW, SimhashBlocks}
    val docs = documents(s, d)
    val store = graft.dedup.TableCommit.sharedDeploy(s, d,
      docs.filter(col("doc_id") % IncrementalMod =!= 0), "doc_id", "text",
      MinhashHashes, MinhashBands, SpanW, simhashBlocks = SimhashBlocks)
    val arrivals = StreamingOps
      .readDocuments(s, docsStreamDir(d))
      .filter(col("doc_id") % IncrementalMod === 0)
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions)
    try {
      val q = arrivals.writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          val bb = b.localCheckpoint(true)
          store.foldBatch(
            bb.select(col("doc_id").as("id"), col("text")), id)
          store.retractBatch(
            bb.filter(col("doc_id") % RetractMod === RetractResidue)
              .select(col("doc_id").as("id")), id)
          graft.Ckpt.release(bb) // both ops committed — blocks are dead
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(key, prev)
    def row(name: String, cor: DataFrame, com: DataFrame) =
      cor.agg(count(lit(1)).as("n_corpus"))
        .crossJoin(com.agg(count(lit(1)).as("n_committed")))
        .select(lit(name).as("artifact"), col("n_corpus"),
          col("n_committed"))
    row("fingerprint", store.corpusFingerprints, store.committedFingerprints)
      .unionByName(row("minhash_band", store.corpusBands,
        store.committedBands))
      .unionByName(row("ngram_df", store.corpusNgramDf,
        store.committedNgramDf))
      .unionByName(row("ngram_posting", store.corpusNgramPostings,
        store.committedNgramPostings))
      .unionByName(row("shingle_set", store.corpusShingleSets,
        store.committedShingleSets))
      .unionByName(row("simhash_band", store.corpusSimhashBands,
        store.committedSimhashBands))
      .unionByName(row("span_fp", store.corpusSpanFps,
        store.committedSpanFps))
      .orderBy("artifact")
  }

  def streamLifecycleOracle: String = PipelineQueries.streamLifecycleOracle

  /** STREAMING release manifest
    * ([[TextQueries.ManifestCommitter]] through the real runtime's
    * `foreachBatch`) — the manifest maintained AS the release is
    * written, not recomputed after: the stored manifest starts from
    * the already-released corpus slice, each arriving micro-batch's
    * per-shard counts and XOR checksums fold in with
    * [[TextQueries.manifestFold]]'s exact algebra (sums and XORs
    * commute, so the result is independent of how arrivals were
    * batched), and the readout is the whole-corpus manifest — the SAME
    * oracle as q_release_manifest and q_manifest_commit, so the
    * streaming, incremental and from-scratch faces can never drift.
    * Per-delivery work is one batch-sized map pass plus an
    * 8-key groupBy; the stored state is [[TextQueries.ReleaseShards]]
    * rows. Replay-safe by batch id. */
  def streamManifest(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.{RetractMod, RetractResidue}
    val docs = documents(s, d)
    val committer = new TextQueries.ManifestCommitter(
      TextQueries.releaseManifestOf(
        docs.filter(col("doc_id") % RetractMod =!= RetractResidue)))
    val arrivals = StreamingOps
      .readDocuments(s, docsStreamDir(d))
      .filter(col("doc_id") % RetractMod === RetractResidue)
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions)
    try {
      val q = arrivals.writeStream
        .foreachBatch((b: DataFrame, id: Long) => committer.foldBatch(b, id))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(key, prev)
    committer.committed.orderBy("shard")
  }

  /** The from-scratch manifest oracle IS the streaming oracle. */
  def streamManifestOracle: String = TextQueries.releaseManifestOracle

  /** STREAMING media near-dup gate
    * ([[StreamingOps.hammingGateStream]] through the real runtime) —
    * the MEDIA face of the hamming gate family: the doc_id % 3 == 0
    * slice re-arrives as brightness-shifted PNG re-uploads (the
    * re-crawled-thumbnail shape), each arriving blob is fabricated,
    * REALLY decoded and 56-bit dHashed ROW-LOCAL on the stream
    * ([[graft.multimodal.Multimodal.syntheticPngCorpus]] +
    * [[graft.multimodal.Multimodal.imageDHash]] are per-row map work —
    * the blob never shuffles, only (id, 8-byte hash) rows), and banded
    * candidates come from a stream-static join against the FROZEN
    * corpus dHash band table computed once at deploy. The oracle IS the
    * batch incremental image-phash oracle — stream and batch share one
    * pair set by construction. */
  def streamPhash(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.{PhashTwinOffset, PhashMaxHamming, PhashBlocks}
    val mm = graft.multimodal.Multimodal
    import s.implicits._
    val docs = documents(s, d).select("doc_id", "text")
    val corpusHashes = mm
      .imageDHash(mm.syntheticPngCorpus(docs, "doc_id", "text"))
      .toDF().filter(col("ok"))
      .select(col("mediaId").as("id"), col("phash").as("simhash"))
    val cBands = graft.dedup.Dedup
      .simhashBanded(corpusHashes, 56, PhashBlocks)
      .localCheckpoint(true)
    val arrivals = StreamingOps
      .readDocuments(s, docsStreamDir(d))
      .filter(col("doc_id") % 3 === 0)
    val aHashes = mm
      .imageDHash(
        mm.syntheticPngCorpus(
          arrivals.select("doc_id", "text"), "doc_id", "text",
          brightnessDelta = 4)
          .map(m => m.copy(mediaId = m.mediaId + PhashTwinOffset)))
      .toDF().filter(col("ok"))
      .select(col("mediaId").as("id"), col("phash").as("simhash"))
    val verdicts = StreamingOps.hammingGateStream(
      aHashes, cBands, 56, PhashMaxHamming, PhashBlocks)
    runToMemory(s, verdicts, OutputMode.Append(), "graft_stream_phash")
      .orderBy("id_a", "id_b")
  }

  /** The batch incremental image-phash oracle IS the streaming oracle. */
  def streamPhashOracle: String = PipelineQueries.imagePhashIncOracle

  /** STREAMING audio near-dup gate — the AUDIO face of
    * [[StreamingOps.hammingGateStream]], completing the gate family
    * across every hashed modality (text SimHash, image dHash, audio
    * window fingerprints — ONE gate engine): the doc_id % 3 == 0 slice
    * re-arrives as amplitude-shifted WAV re-encodes (the re-uploaded-
    * clip shape), each arriving clip is fabricated, REALLY decoded and
    * window-fingerprinted ROW-LOCAL on the stream
    * ([[graft.multimodal.Multimodal.audioFingerprints]] is per-row map
    * work — the samples never shuffle, only (window id, 8-byte
    * fingerprint) rows), and banded candidates come from a stream-static
    * join against the FROZEN corpus fingerprint band table. The oracle
    * IS the batch incremental audio-phash oracle — stream and batch
    * share one pair set by construction. */
  def streamAudio(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.{
      PhashTwinOffset, PhashMaxHamming, PhashBlocks, AudioFpWindows,
      AudioFpDelta}
    val mm = graft.multimodal.Multimodal
    import s.implicits._
    def windowIds(items: org.apache.spark.sql.Dataset[mm.MediaItem]) =
      mm.audioFingerprints(items, AudioFpWindows)
        .toDF()
        .select(
          (col("mediaId") * 10L + col("windowIdx")).as("id"),
          col("fp").as("simhash"))
    val docs = documents(s, d).select("doc_id", "text")
    val cBands = graft.dedup.Dedup
      .simhashBanded(
        windowIds(mm.syntheticWavCorpus(docs, "doc_id", "text")),
        56, PhashBlocks)
      .localCheckpoint(true)
    val arrivals = StreamingOps
      .readDocuments(s, docsStreamDir(d))
      .filter(col("doc_id") % 3 === 0)
    val aHashes = windowIds(
      mm.syntheticWavCorpus(
        arrivals.select("doc_id", "text"), "doc_id", "text",
        amplitudeDelta = AudioFpDelta)
        .map(m => m.copy(mediaId = m.mediaId + PhashTwinOffset)))
    val verdicts = StreamingOps.hammingGateStream(
      aHashes, cBands, 56, PhashMaxHamming, PhashBlocks)
    runToMemory(s, verdicts, OutputMode.Append(), "graft_stream_audio")
      .orderBy("id_a", "id_b")
  }

  /** The batch incremental audio-phash oracle IS the streaming oracle. */
  def streamAudioOracle: String = PipelineQueries.audioPhashIncOracle

  /** STREAMING video-level near-dup gate — the CLIP verdict at ingest:
    * arriving video blobs decode + per-frame dHash ROW-LOCAL
    * ([[graft.multimodal.Multimodal.gifFrameHashes]] is per-blob map
    * work — the blob never shuffles, only (frame id, 8-byte hash)
    * rows), banded frame candidates come from the SAME
    * [[StreamingOps.hammingGateStream]] engine as the text/image/audio
    * gates against the FROZEN corpus frame band table, and the frame
    * pairs roll up PER MICRO-BATCH to one verdict per (arriving clip,
    * corpus clip) with the batch rollup's matched-fraction floor and
    * offset-consistency signal ([[PipelineQueries.videoNeardup]]'s
    * arithmetic) — so a re-encoded upload is flagged ONCE at ingest,
    * not once per frame. The rollup is ARRIVAL-LOCAL (all of a clip's
    * frames travel in its one arriving row, so its pairs complete
    * within its micro-batch), which is what makes the per-batch
    * aggregation exact and the fold batching-invariant. */
  def streamVideo(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.{
      PhashTwinOffset, PhashMaxHamming, PhashBlocks, VideoNeardupFrac}
    val mm = graft.multimodal.Multimodal
    import s.implicits._
    def frameIds(items: org.apache.spark.sql.Dataset[mm.MediaItem]) =
      PipelineQueries.guardedFrameIds(mm.gifFrameHashes(items).toDF())
    val docs = documents(s, d).select("doc_id", "text")
    val corpusHashes = frameIds(mm.syntheticGifCorpus(docs, "doc_id", "text"))
      .localCheckpoint(true)
    val cBands = graft.dedup.Dedup
      .simhashBanded(corpusHashes, 56, PhashBlocks)
      .localCheckpoint(true)
    val nfCorpus = corpusHashes
      .select(expr("id div 10").as("video_b"))
      .groupBy("video_b")
      .agg(count(lit(1)).as("n_frames_b"))
      .localCheckpoint(true)
    val arrivals = StreamingOps
      .readDocuments(s, docsStreamDir(d))
      .filter(col("doc_id") % 3 === 0)
    def verdicts(b: DataFrame): DataFrame = {
      val aHashes = frameIds(
        mm.syntheticGifCorpus(
          b.select("doc_id", "text"), "doc_id", "text",
          brightnessDelta = 4)
          .map(m => m.copy(mediaId = m.mediaId + PhashTwinOffset)))
        .localCheckpoint(true)
      val pairs = StreamingOps.hammingGateStream(
        aHashes, cBands, 56, PhashMaxHamming, PhashBlocks)
      val nfA = aHashes
        .select(expr("id div 10").as("video_a"))
        .groupBy("video_a")
        .agg(count(lit(1)).as("n_frames_a"))
      pairs
        .select(
          expr("id_a div 10").as("video_a"), expr("id_a % 10").as("fa"),
          expr("id_b div 10").as("video_b"), expr("id_b % 10").as("fb"))
        .filter(col("video_a") =!= col("video_b"))
        .groupBy("video_a", "video_b")
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(when(col("fa") === col("fb"), 1L).otherwise(0L))
            .as("n_aligned"),
          countDistinct("fa").as("n_matched_a"))
        .join(nfA, Seq("video_a"))
        .join(nfCorpus, Seq("video_b"))
        .withColumn("frac_a",
          floor(col("n_matched_a") / col("n_frames_a") * 1000000L)
            / 1000000L)
        .filter(col("frac_a") >= VideoNeardupFrac)
        .select("video_a", "video_b", "n_frames_a", "n_frames_b",
          "n_pairs", "n_aligned", "n_matched_a", "frac_a")
    }
    val acc =
      new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions)
    try {
      val q = arrivals.writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          val r = verdicts(b).localCheckpoint(true)
          acc.updateAndGet(p => if (p == null) r else p.unionByName(r))
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(key, prev)
    Option(acc.get)
      .getOrElse(verdicts(docs.limit(0)))
      .orderBy("video_a", "video_b")
  }

  /** The incremental frame-pair CTEs ([[PipelineQueries
    * .framePhashIncOracle]]'s chain) composed with the clip rollup. */
  def streamVideoOracle: String = {
    import PipelineQueries.{PhashTwinOffset, PhashMaxHamming,
      VideoNeardupFrac}
    def off = "(((idx // 8) * h) // 8) * w + (((idx % 8) * w) // 8)"
    s"""WITH fr AS (
       |  SELECT doc_id, text, 6 + doc_id % 5 AS w, 6 + doc_id % 3 AS h,
       |    unnest(range(0, 2 + doc_id % 4)) AS fi
       |  FROM documents),
       |chain AS (
       |  SELECT doc_id, fi, w, h,
       |    [CAST('0x' || substr(md5(text || ':' || CAST(fi AS VARCHAR) || ':' || CAST(j // 16 AS VARCHAR)), 1 + 2 * (j % 16), 2) AS BIGINT)
       |      for j in range(0, w * h)] AS b
       |  FROM fr),
       |imgs AS (
       |  SELECT doc_id * 10 + fi AS id, w, h, b, 0 AS is_batch FROM chain
       |  UNION ALL
       |  SELECT (doc_id + $PhashTwinOffset) * 10 + fi AS id, w, h,
       |    list_transform(b, v -> least(v + 4, 255)) AS b, 1 AS is_batch
       |  FROM chain WHERE doc_id % 3 = 0),
       |g AS (
       |  SELECT id, is_batch,
       |    [1000 * b[$off + 1] for idx in range(0, 64)] AS gv
       |  FROM imgs),
       |ph AS (
       |  SELECT id, is_batch, list_sum(
       |    [CASE WHEN gv[(idx // 7) * 8 + (idx % 7) + 1] > gv[(idx // 7) * 8 + (idx % 7) + 2]
       |       THEN (CAST(1 AS BIGINT) << idx) ELSE CAST(0 AS BIGINT) END
       |     for idx in range(0, 56)]) AS phash
       |  FROM g),
       |fpairs AS (
       |  SELECT a.id // 10 AS video_a, a.id % 10 AS fa,
       |         b.id // 10 AS video_b, b.id % 10 AS fb
       |  FROM ph a JOIN ph b ON a.is_batch = 1 AND b.is_batch = 0
       |  WHERE bit_count(xor(a.phash, b.phash)) <= $PhashMaxHamming
       |    AND a.id // 10 <> b.id // 10),
       |nfa AS (SELECT id // 10 AS v, count(*) AS n FROM ph WHERE is_batch = 1 GROUP BY 1),
       |nfb AS (SELECT id // 10 AS v, count(*) AS n FROM ph WHERE is_batch = 0 GROUP BY 1),
       |roll AS (
       |  SELECT video_a, video_b, count(*) AS n_pairs,
       |    sum(CASE WHEN fa = fb THEN 1 ELSE 0 END) AS n_aligned,
       |    count(DISTINCT fa) AS n_matched_a
       |  FROM fpairs GROUP BY 1, 2)
       |SELECT r.video_a, r.video_b,
       |  CAST(na.n AS BIGINT) AS n_frames_a,
       |  CAST(nb.n AS BIGINT) AS n_frames_b,
       |  CAST(r.n_pairs AS BIGINT) AS n_pairs,
       |  CAST(r.n_aligned AS BIGINT) AS n_aligned,
       |  CAST(r.n_matched_a AS BIGINT) AS n_matched_a,
       |  floor(CAST(r.n_matched_a AS DOUBLE) / na.n * 1000000) / 1000000 AS frac_a
       |FROM roll r
       |JOIN nfa na ON r.video_a = na.v
       |JOIN nfb nb ON r.video_b = nb.v
       |WHERE floor(CAST(r.n_matched_a AS DOUBLE) / na.n * 1000000) / 1000000 >= $VideoNeardupFrac
       |ORDER BY video_a, video_b""".stripMargin
  }

  /** STREAMING FILTER ATTRIBUTION — the per-arrival ingest ledger
    * ([[StreamingOps.ingestLedger]] through the real runtime's
    * `foreachBatch`): every arriving document is scored against ALL
    * doc-shaped ingest gates in ONE pass — the q_filter_attribution
    * quality battery row-local, then exact-fingerprint / benchmark-
    * contamination / MinHash / SimHash / n-gram verdicts against the
    * FROZEN deploy-time artifacts — emitting one disposition row per
    * arrival, so "why was this arrival rejected" is a row lookup, not a
    * replay of the gate queries. Each flag column is computed BY the
    * corresponding gate operator (shared engine, spec-pinned equal to
    * the gates run individually on the same deliveries); rows depend
    * only on the arrival + frozen artifacts, so the ledger is
    * batching-invariant by construction. */
  def streamAttribution(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.{
      IncrementalMod, MinhashHashes, MinhashBands, MinhashThreshold,
      SimhashMaxHamming, SimhashBlocks, NgramDfCap, JaccardThreshold,
      DecontamMod}
    val docs = documents(s, d)
    val corpus = docs.filter(col("doc_id") % IncrementalMod =!= 0)
    val fps = corpus
      .select(graft.text.TextFunctions.fingerprintCol(col("text"))
        .as("fingerprint"))
      .filter(col("fingerprint").isNotNull)
      .distinct().localCheckpoint(true)
    val mBands = graft.dedup.Dedup
      .bandTable(corpus, "doc_id", "text", MinhashHashes, MinhashBands)
      .localCheckpoint(true)
    // Shared memoized shingle pass (see docShingleRows): the ledger's
    // corpus is single-block, and a per-doc-constant blk projection of
    // the lang-blocked memo rows preserves distinctness exactly.
    val allRows = PipelineQueries.docShingleRows(s, d)
    val corpusRows = allRows
      .filter(col("id") % IncrementalMod =!= 0)
      .select(col("id"), lit(0L).as("blk"), col("shingle"))
    val (p0, sets0) =
      graft.dedup.Dedup.ngramArtifactsFromRows(corpusRows, NgramDfCap)
    val postings = p0.localCheckpoint(true)
    val sets = sets0.localCheckpoint(true)
    val sBands = graft.dedup.Dedup
      .simhashBandTable(corpus, "doc_id", "text", SimhashBlocks)
      .localCheckpoint(true)
    val bench = allRows
      .filter(col("id") % DecontamMod === 0 &&
        col("id") % IncrementalMod =!= 0)
      .select("shingle").distinct().localCheckpoint(true)
    val arrivals = StreamingOps
      .readDocuments(s, docsStreamDir(d))
      .filter(col("doc_id") % IncrementalMod === 0)
    val acc =
      new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
    def score(b: DataFrame): DataFrame = StreamingOps.ingestLedger(
      b.select("doc_id", "text"), fps, mBands, sets, sBands, postings,
      bench, MinhashHashes, MinhashBands, MinhashThreshold,
      SimhashMaxHamming, SimhashBlocks, lit(0L), JaccardThreshold)
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions)
    try {
      val q = arrivals.writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          val scored = score(b).localCheckpoint(true)
          acc.updateAndGet(p =>
            if (p == null) scored else p.unionByName(scored))
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(key, prev)
    Option(acc.get).getOrElse(score(docs.limit(0))).orderBy("doc_id")
  }

  def streamAttributionOracle: String = PipelineQueries.ingestLedgerOracle

  /** STREAMING ANN serving — the query-side face of the IVF index the
    * commit face (q_index_commit) maintains: the deploy-time serving
    * artifacts ([[graft.similarity.Ivf.fixedIndexArtifacts]] — the
    * K-row centroid table and the corpus cell assignment) are
    * checkpointed ONCE, and each arriving micro-batch of query vectors
    * runs [[graft.similarity.Ivf.fixedSearch]]: probe its nProbe
    * nearest cells row-parallel, score ONLY the probed inverted lists,
    * rank top-k. Ranking is REQUEST-LOCAL — a query's top-k depends on
    * its own row and the frozen index alone — so the fold across
    * micro-batches is batching-invariant by construction, and the
    * oracle IS the batch q_ivf_topk oracle (stream and batch serving
    * share one result set). Per-arrival cost: |arrivals|×K probe map
    * work + the probed nProbe/nCells fraction of the index — the index
    * is never rescanned in full. */
  def streamAnn(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.{IvfCentroidIds, IvfNProbe, NumQueries, TopK}
    val emb = Tables.embeddings(s, d)
    val (cent0, asg0) =
      graft.similarity.Ivf.fixedIndexArtifacts(emb, IvfCentroidIds)
    val cent = cent0.localCheckpoint(true)
    val asg = asg0.localCheckpoint(true)
    def search(b: DataFrame): DataFrame = graft.similarity.Ivf
      .fixedSearch(cent, asg, b, IvfNProbe, TopK)
    val arrivals = StreamingOps
      .readEmbeddings(s, embeddingsStreamDir(d))
      .filter(col("vec_id") < NumQueries)
      .select("vec_id", "embedding")
    val acc =
      new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions)
    try {
      val q = arrivals.writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          val r = search(b).localCheckpoint(true)
          acc.updateAndGet(p => if (p == null) r else p.unionByName(r))
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(key, prev)
    Option(acc.get)
      .getOrElse(search(emb.limit(0)))
      .orderBy("q_vec_id", "rnk")
  }

  /** The batch IVF search oracle IS the serving oracle. */
  def streamAnnOracle: String = PipelineQueries.ivfTopKOracle

  /** STREAMING ANN index commit — the ingest-side twin of the serving
    * face ([[streamAnn]] answers queries against the frozen index; THIS
    * keeps the index growing as gate-accepted vectors arrive): the
    * deploy-time PQ artifacts ([[graft.similarity.Ivf.pqArtifacts]] —
    * trained codebooks + corpus code postings) checkpoint once, then
    * each arriving micro-batch encodes against the FROZEN codebooks and
    * folds into the stored postings with the EXACT
    * [[graft.similarity.Ivf.commitPqCodes]] arithmetic — per-vector
    * deterministic, so the fold is batching-invariant by construction
    * and the final committed table IS the batch q_index_commit output
    * (one shared oracle). Replay-safe by batch id; codebook refresh
    * stays the retrain decision the drift/recall monitors trigger. */
  def streamIndexCommit(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.{SemIncMod, SemIncResidue}
    val store = deployedPqStore(s, d)
    val arrivals = StreamingOps
      .readEmbeddings(s, embeddingsStreamDir(d))
      .filter(col("vec_id") % SemIncMod === SemIncResidue)
      .select("vec_id", "embedding")
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions)
    try {
      val q = arrivals.writeStream
        .foreachBatch((b: DataFrame, id: Long) => store.foldBatch(b, id))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(key, prev)
    store.postings.orderBy("vec_id", "sub")
  }

  /** The deploy every PQ-store stream face shares: codebooks trained on
    * the vec_id % SemIncMod ≠ SemIncResidue corpus, corpus codes as the
    * generation-0 posting baseline
    * ([[graft.similarity.PqStore.deploy]]). */
  private def deployedPqStore(
      s: SparkSession, d: String,
      autoCompact: Boolean = false,
      compactMaxDeltaFiles: Long = 512L): graft.similarity.PqStore = {
    import PipelineQueries.{
      SemIncMod, SemIncResidue, IvfCentroidIds, EmbDims, PqM, PqIters}
    val emb = Tables.embeddings(s, d)
    val (cb, codes) = graft.similarity.Ivf.pqArtifacts(
      emb.filter(col("vec_id") % SemIncMod =!= SemIncResidue),
      IvfCentroidIds, EmbDims, PqM, PqIters)
    new graft.similarity.PqStore(
      s,
      java.nio.file.Files.createTempDirectory("graft_pq_store_").toString,
      EmbDims, PqM, autoCompact = autoCompact,
      compactMaxDeltaFiles = compactMaxDeltaFiles)
      .deploy(codes, cb)
  }

  /** The batch index-commit oracle IS the streaming oracle. */
  def streamIndexCommitOracle: String = PipelineQueries.indexCommitOracle

  /** STREAMING ANN-index commit WITH THE AUTO-COMPACTION TRIGGER ON —
    * the PqStore leg of the trigger-under-live-stream oracle proof
    * (see [[streamKnnCompact]]): `compactMaxDeltaFiles = 0` compacts
    * after EVERY delivery, each micro-batch split into three
    * deliveries, so the posting baseline is rewritten as a fresh
    * generation multiple times mid-stream and the final committed face
    * still hash-matches the shared batch oracle. Fails loudly if the
    * trigger never fired. */
  def streamIndexCompact(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.{SemIncMod, SemIncResidue}
    val store = deployedPqStore(s, d,
      autoCompact = true, compactMaxDeltaFiles = 0L)
    val arrivals = StreamingOps
      .readEmbeddings(s, embeddingsStreamDir(d))
      .filter(col("vec_id") % SemIncMod === SemIncResidue)
      .select("vec_id", "embedding")
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions)
    try {
      val q = arrivals.writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          val bb = b.localCheckpoint(true)
          for (r <- 0 until 3)
            store.foldBatch(
              bb.filter(pmod(expr("vec_id div 9"), lit(3)) === r),
              id * 3 + r)
          graft.Ckpt.release(bb) // all three deliveries committed
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(key, prev)
    require(store.maintenanceStats._5 > 0,
      "q_stream_index_compact: the auto-compaction trigger never fired " +
        "under the live stream — the query exists to prove exactly that")
    store.postings.orderBy("vec_id", "sub")
  }

  /** The batch index-commit oracle IS the trigger-ON oracle too —
    * compaction is a committed-face no-op. */
  def streamIndexCompactOracle: String = PipelineQueries.indexCommitOracle

  /** STREAMING ANN-index RETRAIN-AND-SWAP
    * ([[graft.similarity.PqStore.refresh]]) — the trained-artifact
    * refresh the drift monitors exist to trigger, run against the live
    * ingest: the store deploys on corpus-trained codebooks, the
    * arrival stream folds in under them (frozen-codebook appends),
    * and then the refresh retrains over ALL survivors and re-encodes
    * the whole index as generation N+1 under one atomic marker
    * rename. The final postings must equal a from-scratch training on
    * the full corpus — recomputed end-to-end by the DuckDB oracle, so
    * retrain-and-swap is hash-checked cross-engine, not just
    * spec-pinned. */
  def streamIndexRefresh(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.{
      SemIncMod, SemIncResidue, IvfCentroidIds, PqIters}
    val store = deployedPqStore(s, d)
    val arrivals = StreamingOps
      .readEmbeddings(s, embeddingsStreamDir(d))
      .filter(col("vec_id") % SemIncMod === SemIncResidue)
      .select("vec_id", "embedding")
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions)
    try {
      val q = arrivals.writeStream
        .foreachBatch((b: DataFrame, id: Long) => store.foldBatch(b, id))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(key, prev)
    store.refresh(Tables.embeddings(s, d), IvfCentroidIds, PqIters)
    store.postings.orderBy("vec_id", "sub")
  }

  def streamIndexRefreshOracle: String = PipelineQueries.indexRefreshOracle

  /** STREAMING ANN-index SUBSPACE-SCOPED PARTIAL RETRAIN
    * ([[graft.similarity.PqStore.refreshSubspaces]]) — the PQ analogue
    * of q_stream_knn_refresh_cells, oracle-checked end-to-end: the
    * store deploys on corpus-trained codebooks, the arrival stream
    * folds in under them, and then ONLY the distortion-flagged
    * subspaces ([[PipelineQueries.PqRefreshSubs]]) retrain over the
    * survivors and re-encode; the kept subspaces' codebooks and code
    * rows carry forward BY VALUE (one vector's rows in subspace s
    * depend only on its own slice and codebook s — the carry is
    * provably exact). The committed face must equal DuckDB's
    * recomputation of the MIXED chains (kept: corpus-train +
    * frozen-encode; retrained: survivor-train), so both the carry and
    * the partial retrain are hash-checked cross-engine. */
  def streamIndexRefreshSubs(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.{
      SemIncMod, SemIncResidue, IvfCentroidIds, PqIters, PqRefreshSubs}
    val store = deployedPqStore(s, d)
    val arrivals = StreamingOps
      .readEmbeddings(s, embeddingsStreamDir(d))
      .filter(col("vec_id") % SemIncMod === SemIncResidue)
      .select("vec_id", "embedding")
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions)
    try {
      val q = arrivals.writeStream
        .foreachBatch((b: DataFrame, id: Long) => store.foldBatch(b, id))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(key, prev)
    store.refreshSubspaces(
      Tables.embeddings(s, d), PqRefreshSubs, IvfCentroidIds, PqIters)
    store.postings.orderBy("vec_id", "sub")
  }

  def streamIndexRefreshSubsOracle: String =
    PipelineQueries.indexRefreshSubsOracle

  /** STREAMING ANN-index TAKEDOWN — the retraction face of
    * [[streamIndexCommit]] on the TABLE-BACKED posting store
    * ([[graft.similarity.PqStore.retractBatch]]): one live stream
    * carries BOTH lifecycles — each micro-batch's gate-accepted
    * arrivals fold in under the frozen codebooks, then its takedown
    * residue (vec_id % [[PipelineQueries.RetractMod]] ==
    * [[PipelineQueries.RetractResidue]]) tombstones, and the resting
    * corpus's own takedown slice retracts before the stream starts
    * (the pre-release takedown shape). The posting table is purely
    * id-keyed, so the tombstone anti-join is EXACT retraction; the
    * in-memory [[graft.similarity.Ivf.retractPqCodes]]
    * (q_index_retract) stays the verification twin and the oracle is
    * SHARED. Replay-safe by batch id and by content. */
  def streamIndexRetract(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.{
      SemIncMod, SemIncResidue, RetractMod, RetractResidue}
    val emb = Tables.embeddings(s, d)
    val store = deployedPqStore(s, d)
    // Resting-corpus takedown before the ingest stream starts.
    store.retractBatch(
      emb.filter(col("vec_id") % SemIncMod =!= SemIncResidue &&
        col("vec_id") % RetractMod === RetractResidue)
        .select("vec_id"),
      -1L)
    val arrivals = StreamingOps
      .readEmbeddings(s, embeddingsStreamDir(d))
      .filter(col("vec_id") % SemIncMod === SemIncResidue)
      .select("vec_id", "embedding")
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions)
    try {
      val q = arrivals.writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          val bb = b.localCheckpoint(true)
          store.foldBatch(bb, id)
          store.retractBatch(
            bb.filter(col("vec_id") % RetractMod === RetractResidue)
              .select("vec_id"),
            1000000L + id)
          graft.Ckpt.release(bb) // both ops committed — blocks are dead
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(key, prev)
    store.postings.orderBy("vec_id", "sub")
  }

  /** The batch index-retraction oracle IS the streaming oracle. */
  def streamIndexRetractOracle: String = PipelineQueries.indexRetractOracle

  /** STREAMING kNN-graph maintenance — the mutual graph kept current AS
    * vectors arrive, over the TABLE-BACKED index store
    * ([[graft.similarity.KnnStore]] — the deploy writes the probe /
    * assignment / versioned-edge tables once; each micro-batch appends
    * batch-sized deltas and re-ranks affected queries via the top-k
    * merge law, never copying the stored tables — replacing the
    * in-memory [[graft.similarity.Ivf.knnIndexFold]] chain whose
    * per-delivery full-table re-checkpoint VERDICT r11 flagged; that
    * fold stays as the verification twin). The final stored graph
    * encodes EXACTLY the from-scratch graph of corpus ∪ all deliveries
    * (KnnStoreSpec pins the chain), so the oracle IS the q_knn_graph
    * oracle. Replay-safe by batch id. */
  def streamKnn(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.{
      SemIncMod, SemIncResidue, IvfCentroidIds, IvfNProbe, KnnGraphK}
    val emb = Tables.embeddings(s, d)
    val store = new graft.similarity.KnnStore(
      s,
      java.nio.file.Files.createTempDirectory("graft_knn_store_").toString,
      IvfNProbe, KnnGraphK)
      .deploy(
        emb.filter(col("vec_id") % SemIncMod =!= SemIncResidue),
        IvfCentroidIds)
    val arrivals = StreamingOps
      .readEmbeddings(s, embeddingsStreamDir(d))
      .filter(col("vec_id") % SemIncMod === SemIncResidue)
      .select("vec_id", "embedding")
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions)
    try {
      val q = arrivals.writeStream
        .foreachBatch((b: DataFrame, id: Long) => store.foldBatch(b, id))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(key, prev)
    store.mutualGraph.orderBy("id_a", "id_b")
  }

  /** The from-scratch graph oracle IS the streaming oracle. */
  def streamKnnOracle: String = PipelineQueries.knnGraphOracle

  /** STREAMING kNN-graph maintenance WITH THE AUTO-COMPACTION TRIGGER
    * ON — the round-13 VERDICT's last store gap: every trigger law was
    * spec-pinned and stress-measured, but no ORACLE query ever ran a
    * store with `autoCompact = true` under a live stream. This is
    * [[streamKnn]] with `compactMaxVersions = 2`, each micro-batch
    * split into three deliveries (batching invariance is spec-pinned),
    * so generations genuinely swap MID-STREAM — compaction's
    * committed-face no-op is then proven end-to-end against the same
    * from-scratch DuckDB oracle, and the max-ver window the trigger
    * exists to bound (round-12 VERDICT finding) is exercised in its
    * documented production shape. The query fails loudly if the
    * trigger never fired. */
  def streamKnnCompact(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.{
      SemIncMod, SemIncResidue, IvfCentroidIds, IvfNProbe, KnnGraphK}
    val emb = Tables.embeddings(s, d)
    val store = new graft.similarity.KnnStore(
      s,
      java.nio.file.Files.createTempDirectory("graft_knn_ac_").toString,
      IvfNProbe, KnnGraphK,
      autoCompact = true, compactMaxVersions = 2L)
      .deploy(
        emb.filter(col("vec_id") % SemIncMod =!= SemIncResidue),
        IvfCentroidIds)
    val arrivals = StreamingOps
      .readEmbeddings(s, embeddingsStreamDir(d))
      .filter(col("vec_id") % SemIncMod === SemIncResidue)
      .select("vec_id", "embedding")
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions)
    try {
      val q = arrivals.writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          val bb = b.localCheckpoint(true)
          for (r <- 0 until 3)
            store.foldBatch(
              bb.filter(pmod(expr("vec_id div 9"), lit(3)) === r),
              id * 3 + r)
          graft.Ckpt.release(bb) // all three deliveries committed
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(key, prev)
    require(store.maintenanceStats._4 > 0,
      "q_stream_knn_compact: the auto-compaction trigger never fired " +
        "under the live stream — the query exists to prove exactly that")
    store.mutualGraph.orderBy("id_a", "id_b")
  }

  /** The from-scratch graph oracle IS the trigger-ON oracle too —
    * compaction is a committed-face no-op. */
  def streamKnnCompactOracle: String = PipelineQueries.knnGraphOracle

  /** STREAMING kNN-graph RETRAIN-AND-SWAP
    * ([[graft.similarity.KnnStore.refresh]]): the index deploys under
    * an ALTERNATE centroid set, the arrival stream folds in against
    * that geometry, and then the refresh re-resolves the quantizer to
    * the canonical centroids over the SURVIVING stored vectors (the
    * store holds its own embeddings — the retrain is self-contained)
    * and re-derives every probe/assignment/edge row as generation N+1
    * under one atomic marker rename. The refreshed graph must equal
    * the from-scratch graph of the union under the NEW centroids —
    * which is exactly the q_knn_graph oracle, so the swap is
    * hash-checked cross-engine. */
  def streamKnnRefresh(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.{
      SemIncMod, SemIncResidue, IvfCentroidIds, IvfNProbe, KnnGraphK}
    // Alternate deploy-time centroids (all corpus-side of the split);
    // the refresh swaps to IvfCentroidIds — the oracle's set.
    val altCentroidIds = (0 until 8).map(_ * 19L)
    val emb = Tables.embeddings(s, d)
    val store = new graft.similarity.KnnStore(
      s,
      java.nio.file.Files.createTempDirectory("graft_knn_ref_").toString,
      IvfNProbe, KnnGraphK)
      .deploy(
        emb.filter(col("vec_id") % SemIncMod =!= SemIncResidue),
        altCentroidIds)
    val arrivals = StreamingOps
      .readEmbeddings(s, embeddingsStreamDir(d))
      .filter(col("vec_id") % SemIncMod === SemIncResidue)
      .select("vec_id", "embedding")
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions)
    try {
      val q = arrivals.writeStream
        .foreachBatch((b: DataFrame, id: Long) => store.foldBatch(b, id))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(key, prev)
    store.refresh(IvfCentroidIds)
    store.mutualGraph.orderBy("id_a", "id_b")
  }

  /** The from-scratch graph oracle under the POST-REFRESH centroids. */
  def streamKnnRefreshOracle: String = PipelineQueries.knnGraphOracle

  /** STREAMING kNN-graph CELL-SCOPED PARTIAL RETRAIN
    * ([[graft.similarity.KnnStore.refreshCells]]) — the 100 TB refresh
    * shape, oracle-checked end-to-end: the index deploys under the
    * canonical centroids, the arrival stream folds in, and then ONLY
    * the drift-flagged cells retrain
    * ([[PipelineQueries.KnnRefreshCellsReplacements]]: cells 2 and 5
    * re-point to surviving stored vectors) — un-drifted centroids,
    * and every query the change provably cannot touch, CARRY FORWARD
    * (same probed cells + same membership ⟹ same deterministic
    * top-k); only the affected queries re-score. The committed face
    * must equal DuckDB's from-scratch build under the equivalent
    * MIXED centroid set — so the carry-forward proof is hash-checked
    * cross-engine, not just spec-pinned. Fails loudly if the
    * replacement affected no queries (a vacuous run proves nothing). */
  def streamKnnRefreshCells(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.{
      SemIncMod, SemIncResidue, IvfCentroidIds, IvfNProbe, KnnGraphK,
      KnnRefreshCellsReplacements}
    val emb = Tables.embeddings(s, d)
    val store = new graft.similarity.KnnStore(
      s,
      java.nio.file.Files.createTempDirectory("graft_knn_refc_").toString,
      IvfNProbe, KnnGraphK)
      .deploy(
        emb.filter(col("vec_id") % SemIncMod =!= SemIncResidue),
        IvfCentroidIds)
    val arrivals = StreamingOps
      .readEmbeddings(s, embeddingsStreamDir(d))
      .filter(col("vec_id") % SemIncMod === SemIncResidue)
      .select("vec_id", "embedding")
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions)
    try {
      val q = arrivals.writeStream
        .foreachBatch((b: DataFrame, id: Long) => store.foldBatch(b, id))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(key, prev)
    val (nAffected, nMovedCells) =
      store.refreshCells(KnnRefreshCellsReplacements)
    require(nAffected > 0 && nMovedCells > 0,
      "q_stream_knn_refresh_cells: the partial retrain moved no members " +
        "or re-scored no queries — the fixture should exercise both paths")
    store.mutualGraph.orderBy("id_a", "id_b")
  }

  /** From-scratch oracle under the MIXED (kept ∪ retrained) set. */
  def streamKnnRefreshCellsOracle: String =
    PipelineQueries.knnGraphOracleForIds(
      PipelineQueries.KnnRefreshCellsMixedIds)

  /** STREAMING kNN-graph VECTOR TAKEDOWN — the retraction face of
    * [[streamKnn]] on the TABLE-BACKED store
    * ([[graft.similarity.KnnStore.retractBatch]]): takedown deliveries
    * arrive on a live stream and each fold tombstones its ids and
    * RE-SCORES the affected surviving queries against their probed
    * cells' surviving members — the top-k merge law does not invert
    * (removing a vector can ADMIT candidates ranked below it), so this
    * is the genuinely asymmetric face the r12 verdict named, now
    * durable: the in-memory [[graft.similarity.Ivf.knnIndexRetract]]
    * (q_knn_retract) stays as the verification twin and the oracle is
    * SHARED — the stored graph after streamed takedowns equals the
    * from-scratch mutual graph of the survivors. Replay-safe by batch
    * id and by content (tombstoned ids are no-ops). */
  def streamKnnRetract(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.{
      IvfCentroidIds, IvfNProbe, KnnGraphK, KnnRetractMod, KnnRetractResidue}
    val emb = Tables.embeddings(s, d)
    val store = new graft.similarity.KnnStore(
      s,
      java.nio.file.Files.createTempDirectory("graft_knn_ret_store_")
        .toString,
      IvfNProbe, KnnGraphK)
      .deploy(emb, IvfCentroidIds)
    val takedowns = StreamingOps
      .readEmbeddings(s, embeddingsStreamDir(d))
      .filter(col("vec_id") % KnnRetractMod === KnnRetractResidue)
      .select("vec_id")
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions)
    try {
      val q = takedowns.writeStream
        .foreachBatch((b: DataFrame, id: Long) => store.retractBatch(b, id))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(key, prev)
    store.mutualGraph.orderBy("id_a", "id_b")
  }

  /** The batch kNN-retraction oracle IS the streaming oracle. */
  def streamKnnRetractOracle: String = PipelineQueries.knnRetractOracle

  /** STREAMING semantic-assignment commit — the ingest stream of the
    * semantic family's stored artifact (the corpus cell table its
    * incremental gate reads): the frozen centroid table checkpoints
    * once at deploy; each arriving micro-batch assigns MAP-SIDE
    * ([[graft.similarity.Ivf.assignCells]] — argmin in one lambda, no
    * row expansion) and folds into the stored table with the exact
    * [[graft.similarity.Ivf.commitCellAssignments]] arithmetic.
    * Frozen-centroid assignment is per-vector deterministic, so the
    * fold is batching-invariant by construction and the final committed
    * table IS the batch q_semantic_commit output — one shared oracle.
    * Replay-safe by batch id. */
  def streamSemanticCommit(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.{SemIncMod, SemIncResidue, IvfCentroidIds}
    val emb = Tables.embeddings(s, d)
    val corpus = emb.filter(col("vec_id") % SemIncMod =!= SemIncResidue)
    val cent = graft.similarity.Ivf
      .fixedCentroidsDouble(corpus, IvfCentroidIds)
      .localCheckpoint(true)
    val committed = new java.util.concurrent.atomic.AtomicReference[DataFrame](
      graft.similarity.Ivf.assignCells(corpus, cent).localCheckpoint(true))
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val arrivals = StreamingOps
      .readEmbeddings(s, embeddingsStreamDir(d))
      .filter(col("vec_id") % SemIncMod === SemIncResidue)
      .select("vec_id", "embedding")
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions)
    try {
      val q = arrivals.writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          if (seen.add(id)) {
            committed.updateAndGet(stored =>
              graft.similarity.Ivf
                .commitCellAssignments(stored, cent, b)
                .localCheckpoint(true))
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(key, prev)
    committed.get.orderBy("vec_id")
  }

  /** The batch semantic-commit oracle IS the streaming oracle. */
  def streamSemanticCommitOracle: String =
    PipelineQueries.semanticCommitOracle

  /** STREAMING tokenizer-health drift — [[TextQueries.fertilityDrift]]
    * at ingest: each arriving micro-batch encodes under the SAME frozen
    * BPE merge table (per-distinct-type work, batch-local) and folds
    * its per-language (token, subword) sums into the stored arrival
    * histogram — sums add, so the fold is batching-invariant by
    * construction and state is one row per language; the readout joins
    * the FROZEN corpus-side histogram with the exact arithmetic of the
    * batch face, whose oracle is shared verbatim. */
  def streamFertilityDrift(s: SparkSession, d: String): DataFrame = {
    import PipelineQueries.IncrementalMod
    val merges = graft.textanalysis.Bpe.MergesWordFull
      .take(TextQueries.FertilityMerges)
    def perLang(df: DataFrame, tCol: String, sCol: String) =
      TextQueries.tokenBpeMergesDocs(df, merges)
        .join(df.select("doc_id", "lang"), Seq("doc_id"))
        .groupBy("lang")
        .agg(sum(col("n_tokens")).as(tCol), sum(col("n_subwords")).as(sCol))
    val corpusHist = perLang(
      documents(s, d).filter(col("doc_id") % IncrementalMod =!= 0),
      "corpus_tokens", "corpus_subwords").localCheckpoint(true)
    val acc =
      new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val arrivals = StreamingOps
      .readDocuments(s, docsStreamDir(d))
      .filter(col("doc_id") % IncrementalMod === 0)
      .select("doc_id", "text", "lang")
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions)
    try {
      val q = arrivals.writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          if (seen.add(id)) {
            val bh = perLang(b, "batch_tokens", "batch_subwords")
            acc.updateAndGet { p =>
              val folded =
                if (p == null) bh
                else p.unionByName(bh).groupBy("lang").agg(
                  sum(col("batch_tokens")).as("batch_tokens"),
                  sum(col("batch_subwords")).as("batch_subwords"))
              folded.localCheckpoint(true)
            }
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(key, prev)
    val batchHist = Option(acc.get).getOrElse(
      corpusHist.select(
        col("lang"),
        lit(0L).as("batch_tokens"), lit(0L).as("batch_subwords"))
        .limit(0))
    corpusHist.join(batchHist, Seq("lang"), "full_outer")
      .na.fill(0L, Seq("corpus_tokens", "corpus_subwords",
        "batch_tokens", "batch_subwords"))
      .withColumn("corpus_fertility_micros",
        expr("coalesce(corpus_subwords * 1000000 div nullif(corpus_tokens, 0), 0)"))
      .withColumn("batch_fertility_micros",
        expr("coalesce(batch_subwords * 1000000 div nullif(batch_tokens, 0), 0)"))
      .withColumn("drift_micros",
        abs(col("batch_fertility_micros") - col("corpus_fertility_micros")))
      .select("lang", "corpus_tokens", "batch_tokens",
        "corpus_fertility_micros", "batch_fertility_micros", "drift_micros")
      .orderBy("lang")
  }

  /** The batch fertility-drift oracle IS the streaming oracle. */
  def streamFertilityDriftOracle: String = TextQueries.fertilityDriftOracle

  def streamDedupCorpusOracle: String =
    s"""WITH b AS (
       |  SELECT doc_id, md5(substr(text, 1, 50)) AS fingerprint
       |  FROM documents WHERE doc_id % $DocStreamMod = 0),
       |seen AS (
       |  SELECT DISTINCT md5(substr(text, 1, 50)) AS fingerprint
       |  FROM documents WHERE doc_id % $DocStreamMod <> 0)
       |SELECT b.fingerprint AS fingerprint,
       |  CAST(count(*) AS BIGINT) AS n_arrivals,
       |  CAST(min(b.doc_id) AS BIGINT) AS keep_id,
       |  CASE WHEN count(seen.fingerprint) > 0 THEN 'dup_corpus' ELSE 'new' END AS verdict
       |FROM b LEFT JOIN seen ON b.fingerprint = seen.fingerprint
       |GROUP BY b.fingerprint
       |ORDER BY fingerprint""".stripMargin
}
