package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.text.TextFunctions

/** Event-stream query surface: the `events` table plays the role of
  * transcript segments (`ts`≈start, `event_type`≈speaker, `props` payload —
  * FIXTURES.md §3), so these are the oracle-checkable faces of the
  * reference's order-dependent operators: A1 run detection, A2 run merge,
  * A3 interval aggregation, plus sessionization and the C1/A6/A7 relaxations.
  *
  * Scale notes: the global-order windows (runs, chunk prefix) are the
  * PARITY shape — single transcript, modest row count, one partition, same
  * as the reference's sequential fold. The scalable variants partition by a
  * natural key (user_id for sessionization; document for per-doc folds) and
  * are what a 100 TB corpus would use: millions of independent transcripts,
  * each small — `groupBy(transcript).flatMapGroups`, embarrassingly
  * parallel. Both shapes are kept (SURVEY.md §7.5.3).
  */
object EventQueries {
  import Tables._

  /** Ordered string_agg: collect (key, value) structs, sort by key, join.
    * The Spark twin of DuckDB's `string_agg(v, sep ORDER BY k)`. */
  def orderedStringAgg(key: Column, value: Column, sep: String): Column =
    array_join(
      transform(
        array_sort(collect_list(struct(key.as("k"), value.as("v")))),
        x => x.getField("v")
      ),
      sep
    )

  /** Millisecond epoch — exact integer on both engines (DuckDB
    * `epoch_ms`), immune to ns-vs-us truncation drift of double epochs. */
  private def epochMs(c: Column): Column = unix_millis(c)

  /** Exact integer FLOOR division of a long column by bucket width `h`
    * — `pmod` rebases the remainder to [0, h) so the integral `div` of
    * the exact multiple equals mathematical floor for ALL signs, with
    * no double arithmetic anywhere (`floor(x/h)` routes through a
    * double and is exact only below 2^53). ONE home for every
    * hour-bucket face; [[floorDivSql]] is the oracle twin. */
  private[graft] def floorDiv(x: Column, h: Long): Column =
    call_function("div", x - pmod(x, lit(h)), lit(h))

  /** The DuckDB twin of [[floorDiv]]: integer `//` truncates toward
    * zero there, so the same remainder rebase recovers floor exactly
    * over the whole BIGINT range. */
  private[graft] def floorDivSql(x: String, h: Long): String =
    s"CAST((($x) - ((($x) % $h) + $h) % $h) // $h AS BIGINT)"

  /** The epoch-hour bucket every conv/hour-keyed oracle shares. */
  private[graft] val HourBucketSql: String =
    floorDivSql("epoch_ms(ts)", 3600000L)

  /** ONE home for the SFT-dialogue expressions shared by the batch faces
    * ([[dialoguePairs]], [[sftPack]]) and the stateful streaming twins
    * ([[graft.streaming.StreamingOps.dialoguePairsStream]] /
    * [[graft.streaming.StreamingOps.sftPackStream]]) — batch/stream
    * parity is structural, not merely spec-enforced: an edit to the
    * rendering, bucketing, or token estimate lands on every face. */
  object Sft extends Serializable {

    /** Conversation key: exact integer FLOOR of the ms epoch over the
      * hour ([[floorDiv]]); the oracle twin is [[floorDivSql]] over
      * `epoch_ms(ts)` — BOTH engines now stay in integers end-to-end
      * (no 2^53 double ceiling, no pre-1970 truncation drift). */
    def convId(ts: Column): Column = floorDiv(unix_millis(ts), 3600000L)

    /** Utterance rendering: event_type ':' exact integer cents. */
    def utt(eventType: Column, value: Column): Column =
      concat(eventType, lit(":"), Tables.cents(value).cast("string"))

    /** chars/4 token estimate (min 1) on the utterance rendering —
      * deliberately the plain `length` estimator the oracle mirrors
      * (`greatest(1, length(utt) // 4)`), not the codepoint-aware
      * [[graft.text.TextFunctions.estimateTokensCol]]. */
    def tok(uttCol: Column): Column =
      greatest(lit(1L), floor(length(uttCol) / 4).cast("long"))

    /** JVM twin of [[tok]] for the stateful streaming fold — utterances
      * here are ASCII renderings, so String.length == character count. */
    def tokJvm(s: String): Long = math.max(1L, s.length / 4L)

    /** JVM md5 hex digest — the stateful twin of Spark's `md5` column
      * function for context-digest parity. */
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** A4: distinct actors (speakers), sorted. */
  def distinctActors(s: SparkSession, d: String): DataFrame =
    events(s, d).select("event_type").distinct().orderBy("event_type")

  /** A5: stream span in whole seconds + bounds. */
  def span(s: SparkSession, d: String): DataFrame =
    events(s, d).agg(
      ((max(epochMs(col("ts"))) - min(epochMs(col("ts")))) / 1000)
        .cast("long")
        .as("span_sec"),
      count(lit(1)).as("n_events"),
      min(col("event_id")).as("first_event"),
      max(col("event_id")).as("last_event")
    )

  /** F3: HH:MM:SS / MM:SS rendering (hour omitted when zero —
    * /root/reference/preprocessor.py:91-107). `value*1000` manufactures
    * spans that cross the hour boundary so both branches execute. */
  def formatHms(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(
        col("event_id"),
        TextFunctions.formatHmsCol(col("value") * 1000).as("hms")
      )
      .orderBy("event_id")

  private def withRuns(s: SparkSession, d: String): DataFrame =
    // Parity-mode global order (single transcript semantics) — but
    // computed hierarchically: per-day keyed windows + a bounded driver
    // stitch (PrefixSum), never a single-partition global window. Output
    // is bit-identical to sum(chg) OVER (ORDER BY ts, event_id).
    graft.operators.PrefixSum.globalRunIds(
      events(s, d),
      bucket = to_date(col("ts")),
      order = Seq(col("ts"), col("event_id")),
      typ = col("event_type"),
      out = "run_id")

  /** A1 (uncapped): consecutive same-type run detection via
    * lag + cumulative sum (/root/reference/preprocessor.py:109-165). */
  def runGroups(s: SparkSession, d: String): DataFrame =
    withRuns(s, d).select("event_id", "run_id").orderBy("event_id")

  /** A2: per-run merge — bounds, count, exact value total, ordered payload
    * join (/root/reference/preprocessor.py:167-215). */
  def runMerge(s: SparkSession, d: String): DataFrame =
    withRuns(s, d)
      .groupBy("run_id")
      .agg(
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"),
        count(lit(1)).as("n_events"),
        min(col("event_type")).as("event_type"),
        sum(cents(col("value"))).as("value_cents"),
        orderedStringAgg(col("event_id"), col("props"), " | ")
          .as("merged_props")
      )
      .orderBy("run_id")

  private def withRunsKeyed(s: SparkSession, d: String): DataFrame = {
    // The SCALABLE run-detection shape: the reference's merge semantics are
    // per-transcript anyway (/root/reference/preprocessor.py:109-165 — one
    // file = one stream), so the window partitions on the stream key and
    // every key's runs compute independently — one hash shuffle, no global
    // order, no single-partition WindowExec at any corpus size.
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events(s, d)
      .withColumn(
        "chg",
        when(col("event_type") === lag("event_type", 1).over(w), 0)
          .otherwise(1)
      )
      .withColumn(
        "run_seq",
        sum("chg").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
      )
  }

  /** A1 at scale: per-key consecutive same-type run detection. `run_seq`
    * restarts per user — (user_id, run_seq) is the run identity. */
  def runGroupsKeyed(s: SparkSession, d: String): DataFrame =
    withRunsKeyed(s, d)
      .select("event_id", "user_id", "run_seq")
      .orderBy("event_id")

  /** A2 at scale: per-key run merge — same aggregates as [[runMerge]],
    * grouped on the composite (user_id, run_seq) run identity. */
  def runMergeKeyed(s: SparkSession, d: String): DataFrame =
    withRunsKeyed(s, d)
      .groupBy("user_id", "run_seq")
      .agg(
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"),
        count(lit(1)).as("n_events"),
        min(col("event_type")).as("event_type"),
        sum(cents(col("value"))).as("value_cents"),
        orderedStringAgg(col("event_id"), col("props"), " | ")
          .as("merged_props")
      )
      .orderBy("user_id", "run_seq")

  /** A3: tumbling 1-hour interval aggregation
    * (/root/reference/preprocessor.py:217-324). Bucket arithmetic instead
    * of raw timestamps keeps the oracle hash precision-safe. */
  def intervalAgg(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("hour_id", floorDiv(epochMs(col("ts")), 3600000L))
      .groupBy("hour_id")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(cents(col("value"))).as("value_cents"),
        orderedStringAgg(col("event_id"), col("event_type"), ",")
          .as("types_seq")
      )
      .orderBy("hour_id")

  /** A3's span-duplication variant as a TRUE range/interval join
    * (/root/reference/preprocessor.py:243-288): each event spans
    * [ts, ts + value seconds] and is assigned to EVERY hour interval it
    * overlaps, with the reference's exact overlap predicate — spanning
    * events are duplicated across intervals. The generated hour dimension
    * is tiny and broadcast, so the non-equi join is a
    * BroadcastNestedLoopJoin against a handful of rows — the right
    * physical shape at any corpus scale (never an all-pairs shuffle). */
  def rangeInterval(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .withColumn("start_ms", epochMs(col("ts")))
      .withColumn(
        "end_ms",
        col("start_ms") + round(col("value") * 1000, 0).cast("long")
      )
    val hours = ev
      .agg(
        floorDiv(min(col("start_ms")), 3600000L).as("h0"),
        floorDiv(max(col("start_ms")), 3600000L).as("h1")
      )
      .select(explode(sequence(col("h0"), col("h1"))).as("hour_id"))
      .withColumn("hs", col("hour_id") * 3600000L)
      .withColumn("he", (col("hour_id") + 1) * 3600000L)
    ev.join(
        broadcast(hours),
        (col("hs") <= col("start_ms") && col("start_ms") < col("he")) ||
          (col("start_ms") <= col("hs") && col("end_ms") > col("hs"))
      )
      .groupBy("hour_id")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(cents(col("value"))).as("value_cents")
      )
      .orderBy("hour_id")
  }

  /** Gap-based sessionization (30 min), partitioned by user — the SCALABLE
    * shape of A1: independent per-key state, no global order. */
  def sessionize(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events(s, d)
      .withColumn("prev_ms", lag(epochMs(col("ts")), 1).over(w))
      .withColumn(
        "new_sess",
        when(
          col("prev_ms").isNull ||
            (epochMs(col("ts")) - col("prev_ms")) > 1800000L,
          1
        ).otherwise(0)
      )
      .withColumn(
        "session_id",
        sum("new_sess").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
      )
      .select("event_id", "user_id", "session_id")
      .orderBy("event_id")
  }

  /** Built-in BATCH `session_window` (30-min gap) — the engine-native
    * face of [[sessionize]]'s hand-rolled gaps-and-islands, and the
    * batch twin of the streaming `session_window` run. Exact µs
    * arithmetic end to end: Spark merges events whose gap is strictly
    * under the duration (an event at exactly last+gap opens a NEW
    * session), so the oracle breaks on `diff >= gap` in microseconds —
    * a millisecond-rounded oracle could disagree on sub-ms boundaries. */
  def sessionWindowBatch(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        unix_micros(col("sw.start")).as("start_us"),
        unix_micros(col("sw.end")).as("end_us"),
        col("n_events"))
      .orderBy("user_id", "start_us")

  def sessionWindowBatchOracle: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
      |m AS (
      |  SELECT user_id, us,
      |    CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS brk
      |  FROM (SELECT user_id, us,
      |          lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev_us FROM e)),
      |s AS (
      |  SELECT user_id, us,
      |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY us
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      |  FROM m)
      |SELECT user_id, min(us) AS start_us, max(us) + 1800000000 AS end_us,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, start_us""".stripMargin

  /** C1 relaxed: prefix-sum token bucketing of documents into chunks
    * (budget 500) — the SQL-expressible relaxation of the greedy fold
    * (SURVEY.md §7.4 q_chunk_prefix; exact greedy is Scala-golden-tested). */
  def chunkPrefix(s: SparkSession, d: String): DataFrame =
    // Global prefix sum via the hierarchical PrefixSum operator (coarse
    // id-range buckets → keyed local windows + bounded stitch) —
    // identical output to sum(n_tok) OVER (ORDER BY doc_id), scalable
    // plan. The bucket adapts to the observed id range (the sizing agg
    // reads only the parquet doc_id column), so sparse/hashed ids keep
    // the stitch bounded instead of degenerating to one bucket per doc.
    graft.operators.PrefixSum.globalCumsum(
        documents(s, d)
          .withColumn("n_tok", TextFunctions.estimateTokensCol(col("text"))),
        bucket = graft.operators.PrefixSum.adaptiveRangeBucket(
          documents(s, d), col("doc_id"), 12),
        order = Seq(col("doc_id")),
        value = col("n_tok"),
        out = "cum_tok")
      .withColumn(
        "chunk_id",
        floor((col("cum_tok") - col("n_tok")) / lit(500)).cast("long")
      )
      .select("doc_id", "n_tok", "chunk_id")
      .orderBy("doc_id")

  /** M1+M4: deterministic mock summarize per hour-chunk — a pure string
    * function of the chunk's content, the reference's no-API-key path
    * (/root/reference/llm_executor.py:411-432). */
  def mockSummarize(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("chunk_id", floorDiv(epochMs(col("ts")), 3600000L))
      .groupBy("chunk_id")
      .agg(
        count(lit(1)).as("n_events"),
        array_join(array_sort(collect_set(col("event_type"))), ",")
          .as("speakers")
      )
      .select(
        col("chunk_id"),
        concat(
          lit("SUMMARY["),
          col("chunk_id"),
          lit("]: events="),
          col("n_events"),
          lit(", speakers="),
          col("speakers")
        ).as("summary")
      )
      .orderBy("chunk_id")

  /** A6/A7 skeleton: two-level ordered reduce of per-doc tokens into batch
    * summaries into one final row (/root/reference/result_aggregator.py:288-355). */
  def treeConcat(s: SparkSession, d: String): DataFrame = {
    val level1 = documents(s, d)
      .withColumn("batch_id", floor(col("doc_id") / 10).cast("long"))
      .groupBy("batch_id")
      .agg(
        count(lit(1)).as("n_docs"),
        orderedStringAgg(
          col("doc_id"),
          concat(lit("D"), col("doc_id")),
          " "
        ).as("batch_summary")
      )
    level1
      .agg(
        sum(col("n_docs")).as("total_docs"),
        orderedStringAgg(
          col("batch_id"),
          concat(
            lit("B"),
            col("batch_id"),
            lit("("),
            col("batch_summary"),
            lit(")")
          ),
          " | "
        ).as("final_summary")
      )
  }

  /** As-of join (attribution shape): each click matched to the latest
    * view at-or-before it by the same user — the [[graft.operators.AsOfJoin]]
    * union-window operator, oracle-checked against the same algorithm in
    * DuckDB. */
  def asofAttribution(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val views = ev.filter(col("event_type") === "view")
      .select(
        col("event_id"), col("user_id"), col("ts"),
        col("event_id").as("view_event_id"),
        unix_millis(col("ts")).as("view_ms"))
    graft.operators.AsOfJoin
      .asOf(clicks, views, Seq("user_id"), "ts", "ts", "event_id",
        Seq("view_event_id", "view_ms"))
      .select(
        col("event_id"), col("user_id"),
        col("asof_view_event_id").as("view_event_id"),
        (unix_millis(col("ts")) - col("asof_view_ms")).as("gap_ms"))
      .orderBy("event_id")
  }

  /** Set-operation funnel: users who viewed AND clicked but never
    * purchased — INTERSECT + EXCEPT over per-type user sets. Spark plans
    * set ops as aggregates/anti-joins on already-distinct inputs, so at
    * scale this is three partial-agg distincts + two shuffle-free-ish
    * joins on the same key. */
  def setopFunnel(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    def usersOf(t: String): DataFrame =
      ev.filter(col("event_type") === t).select("user_id").distinct()
    usersOf("view")
      .intersect(usersOf("click"))
      .except(usersOf("purchase"))
      .orderBy("user_id")
  }

  /** Distinct users per event type through the custom HLL sketch
    * aggregate ([[graft.functions.HllDistinct]]): 64 bytes of state per
    * group at any cardinality, exact countDistinct alongside for error
    * context. The estimate is bit-deterministic (md5 registers,
    * integer-exact harmonic sum), so the DuckDB oracle reproduces it. */
  def hllDistinct(s: SparkSession, d: String): DataFrame = {
    events(s, d)
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("n_exact"),
        round(expr("hll_distinct(user_id)"), 4).as("n_approx"))
      .orderBy("event_type")
  }

  /** Top-3 events by value per type through the custom
    * [[graft.plans.TopKPerKey]] operator (partial bounded heaps → one
    * key-clustered exchange → final heaps, no sort anywhere), oracle-
    * checked against the row_number window formulation it replaces. */
  def topkHeap(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .withColumn("value_cents", cents(col("value")))
      .select("event_type", "event_id", "value_cents")
    graft.plans.TopKPerKey
      .topK(
        ev,
        keys = Seq(col("event_type")),
        ordering = Seq(col("value_cents").desc, col("event_id").asc),
        k = 3)
      .select("event_type", "rnk", "event_id", "value_cents")
      .orderBy("event_type", "rnk")
  }

  /** The analytic-window family beyond rank: lag, lead, ntile,
    * cume_dist per event-type partition — every value exact or derived
    * from exact integers (cume_dist is a ratio of counts; rounded).
    *
    * Scale shape: `Window.partitionBy("event_type")` is a ~5-value key —
    * each event type's ENTIRE history would sort in one task, the
    * coarse-key scale killer ccnetBuckets and trainSequences eliminated.
    * Instead ONE window keyed by (event_type, adaptive event_id-range
    * bucket) computes local rank/lag/lead, and a bounded driver stitch
    * ([[graft.operators.PrefixSum.partitionedAnalytics]]) supplies rank
    * offsets, per-type counts, and boundary lag/lead values. quartile is
    * the closed-form ANSI ntile(4) — n div 4 base size, the first
    * n mod 4 buckets one larger (the exact rule Spark's NTile and
    * DuckDB both implement) — and cume_dist is rank/count, valid
    * because event_id is the table's unique key (no rank peers; the
    * oracle re-checks by construction). Bit-identical to the window
    * formulation (WindowFamilySpec); PlanSpec pins the absence of any
    * event_type-keyed WindowExec. */
  def windowFamily(s: SparkSession, d: String): DataFrame =
    // Three column-pruned scans (bucket min/max, stitch summaries, the
    // window pass) beat checkpointing a corpus-sized 3-column frame —
    // the input is a raw parquet scan, not an expensive upstream.
    windowFamilyFrom(
      events(s, d)
        .withColumn("value_cents", cents(col("value")))
        .select("event_id", "event_type", "value_cents"))
      .orderBy("event_id")

  /** [[windowFamily]]'s core over any (event_id, event_type,
    * value_cents) frame with unique event_id (exposed for the
    * WindowFamilySpec equality test). */
  private[graft] def windowFamilyFrom(ev: DataFrame): DataFrame = {
    val bkt = graft.operators.PrefixSum.adaptiveRangeBucket(
      ev, col("event_id"), 12)
    graft.operators.PrefixSum
      .partitionedAnalytics(
        ev,
        part = col("event_type"),
        bucket = bkt,
        order = Seq(col("event_id")),
        value = col("value_cents"),
        rankOut = "__rnk",
        lagOut = "prev_cents",
        leadOut = "next_cents",
        countOut = "__n")
      .withColumn("__q", expr("__n div 4"))
      .withColumn("__rem", expr("__n % 4"))
      .withColumn(
        "quartile",
        when(col("__rnk") <= col("__rem") * (col("__q") + 1L),
          expr("(__rnk - 1) div (__q + 1) + 1"))
          .otherwise(expr("__rem + (__rnk - __rem * (__q + 1) - 1) div __q + 1")))
      .withColumn("cume",
        round(col("__rnk").cast("double") / col("__n"), 6))
      .select("event_id", "event_type", "value_cents", "prev_cents",
        "next_cents", "quartile", "cume")
  }

  /** Z-order (Morton) layout key over (user_id, value_cents) — the
    * custom codegen [[graft.functions.ZOrder]] expression exercised as a
    * query: per event type, exact count / min / max / bit_xor of the
    * interleaved key. bit_xor is order-insensitive, so the checksum pins
    * every single z-value without any float or ordering discipline. In a
    * real layout job the same expression feeds
    * `sortWithinPartitions(col("z"))` before a bucketed/partitioned
    * write, making parquet row-group min/max selective for box
    * predicates on BOTH dimensions. */
  def zorderStats(s: SparkSession, d: String): DataFrame = {
    events(s, d)
      .filter(col("event_type").isNotNull)
      .withColumn(
        "z",
        expr("graft_zorder(user_id & 2147483647, " +
          "CAST(round(value * 100, 0) AS BIGINT) & 2147483647)"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        min("z").as("z_min"),
        max("z").as("z_max"),
        expr("bit_xor(z)").as("z_xor"))
      .orderBy("event_type")
  }

  def zorderStatsOracle: String = {
    val z = graft.functions.ZOrder.oracleInterleaveSql(
      "(user_id & 2147483647)",
      "(CAST(round(value * 100, 0) AS BIGINT) & 2147483647)")
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       | CAST(min(z) AS BIGINT) AS z_min,
       | CAST(max(z) AS BIGINT) AS z_max,
       | CAST(bit_xor(z) AS BIGINT) AS z_xor
       |FROM (SELECT event_type, $z AS z FROM events
       |      WHERE event_type IS NOT NULL)
       |GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  /** Map-function family: per-user event-type counts assembled into a MAP
    * column (map_from_entries over a sorted entry list — sorted so the
    * map's internal order is deterministic), then consumed with
    * element_at / map_keys. The map never leaves the plan — the projected
    * scalars are the portable output, so the oracle computes them
    * directly. */
  def mapOps(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    // Null types would be a null MAP KEY (runtime error in
    // map_from_entries), so the map is built over non-null types only —
    // but the user set must come from ALL events, or a user whose events
    // are all null-typed would vanish while the oracle (GROUP BY user_id
    // over the full table) emits a zero row for them.
    val allUsers = ev.groupBy("user_id").agg(count(lit(1)).as("__n_any"))
    val typeMaps = ev
      .filter(col("event_type").isNotNull)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"))
      .groupBy("user_id")
      .agg(map_from_entries(
        sort_array(collect_list(struct(col("event_type"), col("n")))))
        .as("m"))
    allUsers
      .join(typeMaps, Seq("user_id"), "left")
      .select(
        col("user_id"),
        coalesce(element_at(col("m"), "click"), lit(0L)).as("n_click"),
        coalesce(element_at(col("m"), "view"), lit(0L)).as("n_view"),
        coalesce(size(map_keys(col("m"))).cast("long"), lit(0L))
          .as("n_types"))
      .orderBy("user_id")
  }

  /** RANGE-frame analytic window: per user, the rolling sum of event
    * value over the trailing hour (RANGE BETWEEN 3600 PRECEDING AND
    * CURRENT ROW over epoch seconds). RANGE frames include all ties of
    * the current order value, so the result is deterministic even when a
    * user has same-second events. Keyed by user → partition-parallel;
    * cents keep the sums exact in both engines. */
  def rangeFrameSum(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_sec"))
      .rangeBetween(-3600L, Window.currentRow)
    events(s, d)
      .withColumn("ts_sec", unix_timestamp(col("ts")))
      .withColumn("value_cents", cents(col("value")))
      .select(
        col("event_id"), col("user_id"),
        sum(col("value_cents")).over(w).as("hour_cents"))
      .orderBy("event_id")
  }

  /** Date-part breakdown (the date/time scalar family): per
    * (year, month, day-of-month, hour) counts. Session timezone is UTC
    * on both engines, so parts agree. */
  def timeBreakdown(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(
        year(col("ts")).cast("long").as("y"),
        month(col("ts")).cast("long").as("m"),
        dayofmonth(col("ts")).cast("long").as("day"),
        hour(col("ts")).cast("long").as("h"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy("y", "m", "day", "h")

  /** Pivot: per-user event counts spread into one column per event type
    * (the groupBy().pivot() API; the oracle uses portable conditional
    * aggregation). Restricted to the first 50 users for output size. */
  def pivotCounts(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .filter(col("user_id") < 50)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(
        col("user_id"),
        col("click").as("n_click"),
        col("error").as("n_error"),
        col("purchase").as("n_purchase"),
        col("signup").as("n_signup"),
        col("view").as("n_view"))
      .orderBy("user_id")

  /** Bag-semantics set ops (exceptAll/intersectAll — multiplicity
    * preserved, unlike the distinct forms in [[setopFunnel]]): the
    * user_id%3==0 cohort's event-type bag EXCEPT ALL the %3==1 cohort's,
    * with surviving multiplicities. */
  def exceptAllTypes(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    ev.filter(col("user_id") % 3 === 0)
      .select("event_type")
      .exceptAll(ev.filter(col("user_id") % 3 === 1).select("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** Count-min frequency sketch, fully declarative: d=4 md5-derived hash
    * rows × w=32 buckets of EXACT integer counts (mergeable by elementwise
    * sum — the shuffle carries ≤ d·w rows however large the stream), then
    * per-item estimate = min over rows of its bucket count. Deterministic
    * by construction, so the estimate column hash-matches the oracle;
    * exact counts sit alongside for the error envelope (estimate ≥ exact,
    * always). */
  def cmsFreq(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val depth = 4
    val width = 32
    // Sketch table: (row, bucket) → count, built in one pass via explode
    // of the d bucket assignments per event.
    val rowCols = (0 until depth).map { r =>
      struct(
        lit(r).as("hrow"),
        (graft.dedup.Dedup.hash32(
          concat(lit(s"cms$r:"), col("event_type"))) % width).as("bucket"))
    }
    val sketch = ev
      .select(explode(array(rowCols: _*)).as("rb"))
      .groupBy(col("rb.hrow").as("hrow"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    // Estimates for the 5 known items: min over the d rows' buckets.
    val items = ev.select(col("event_type")).distinct()
    val itemBuckets = items.select(
      col("event_type"),
      explode(array((0 until depth).map { r =>
        struct(
          lit(r).as("hrow"),
          (graft.dedup.Dedup.hash32(
            concat(lit(s"cms$r:"), col("event_type"))) % width).as("bucket"))
      }: _*)).as("rb"))
      .select(col("event_type"), col("rb.hrow").as("hrow"),
        col("rb.bucket").as("bucket"))
    val exact = ev.groupBy("event_type").agg(count(lit(1)).as("n_exact"))
    itemBuckets
      .join(sketch, Seq("hrow", "bucket"))
      .groupBy("event_type")
      .agg(min(col("cnt")).as("n_cms"))
      .join(exact, Seq("event_type"))
      .select("event_type", "n_exact", "n_cms")
      .orderBy("event_type")
  }

  /** JSON payload extraction (the scalar JSON function family —
    * SURVEY §2.6): pull `$.k` out of the props JSON per event, aggregate
    * per type. `get_json_object` is codegen'd; the extraction runs in the
    * scan stage. */
  def jsonExtract(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** Salted two-phase aggregation, oracle-checked against the plain
    * GROUP BY it must equal: the [[graft.operators.Skew]] hot-key
    * mitigation as a first-class checkable query (exact integer cents, so
    * the salt-dependent partial grouping cannot affect the result). */
  def skewAgg(s: SparkSession, d: String): DataFrame =
    graft.operators.Skew
      .saltedCountSum(
        events(s, d).withColumn("value_cents", cents(col("value"))),
        Seq("event_type"),
        Seq("value_cents"),
        salts = 16
      )
      .select(
        col("event_type"),
        col("n"),
        col("sum_value_cents").as("value_cents")
      )
      .orderBy("event_type")

  /** Salted-join correctness surface: [[graft.operators.Skew.saltedJoin]]
    * (hot-key splitting — big side salted, small side replicated) must
    * equal the plain inner join it replaces; the post-join aggregate makes
    * the equality oracle-checkable with a small result. */
  def skewJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).withColumn("value_cents", cents(col("value")))
    val dim = ev
      .groupBy("event_type")
      .agg(sum(col("value_cents")).as("type_total_cents"))
    graft.operators.Skew
      .saltedJoin(ev, dim, Seq("event_type"), salts = 8)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        min(col("type_total_cents")).as("type_total_cents"))
      .orderBy("event_type")
  }

  /** Pearson correlation per event type WITHOUT float-order sensitivity:
    * the five sufficient statistics are exact integer sums (cents ×
    * user_id), and the correlation is derived from them in double — the
    * same IEEE operations on the same exact integers in both engines, so
    * the hash matches. The built-in `corr()` would stream doubles in
    * partition order and drift in the low bits. */
  def corrStats(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("x", cents(col("value")))
      .withColumn("y", col("user_id"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy")
      )
      .withColumn(
        "denom",
        sqrt(
          (col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) *
            (col("n").cast("double") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double"))
        )
      )
      .select(
        col("event_type"),
        col("n"),
        // Guard the degenerate groups (single row / constant column):
        // denom is exactly 0 there, where Spark's divide yields NULL but
        // DuckDB's IEEE mode yields NaN — pin both engines to NULL.
        when(col("denom") === 0, lit(null).cast("double"))
          .otherwise(
            round(
              (col("n").cast("double") * col("sxy").cast("double") -
                col("sx").cast("double") * col("sy").cast("double")) /
                col("denom"),
              6
            )
          )
          .as("corr_value_user")
      )
      .orderBy("event_type")

  /** A10: usage/cost accounting with the reference's hard-coded per-model
    * rates, in exact integer nano-dollars
    * (/root/reference/llm_executor.py:308-317, :394-400). */
  def costRollup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .withColumn("prompt_tokens", TextFunctions.estimateTokensCol(col("text")))
      .withColumn(
        "completion_tokens",
        greatest(lit(1), (col("prompt_tokens") / 4).cast("int"))
      )
      .withColumn(
        "model",
        when(col("doc_id") % 3 === 0, "gpt-4")
          .when(col("doc_id") % 3 === 1, "gpt-3.5-turbo")
          .otherwise("claude-3-sonnet")
      )
    // nano-$ per token: gpt-4 30000/60000; gpt-3.5 1000/2000;
    // claude-3-sonnet 3000/15000 ($3/$15 per 1M).
    val cost = when(col("model") === "gpt-4",
      col("prompt_tokens") * 30000L + col("completion_tokens") * 60000L)
      .when(col("model") === "gpt-3.5-turbo",
        col("prompt_tokens") * 1000L + col("completion_tokens") * 2000L)
      .otherwise(
        col("prompt_tokens") * 3000L + col("completion_tokens") * 15000L)
    docs
      .withColumn("cost_nanousd", cost)
      .groupBy("model")
      .agg(
        count(lit(1)).as("n_requests"),
        sum(col("prompt_tokens").cast("long")).as("sum_prompt_tokens"),
        sum(col("completion_tokens").cast("long")).as("sum_completion_tokens"),
        sum(col("cost_nanousd")).as("total_cost_nanousd")
      )
      .orderBy("model")
  }

  /** Context turns carried into each SFT pair. */
  val DialogueContextTurns = 3

  /** SFT DIALOGUE-PAIR construction — the step that turns the
    * reference's transcript domain (speaker-attributed, time-ordered
    * segments; `/root/reference/transcript-example.json`) into
    * (context, response) training pairs: events bucket into
    * conversations (epoch hour — the deterministic conversation key the
    * fixture supports), order within a conversation by (ts, event_id),
    * and every turn pairs with the digest of its ≤ [[DialogueContextTurns]]
    * preceding turns. Turns without context are dropped (a pair needs
    * both sides). Output carries md5 digests, never concatenated
    * context bodies — the narrow-output discipline of the dedup faces.
    *
    * Scale shape: one conversation-keyed window (bounded frame, keyed
    * partition — conversations are hours, so no partition outgrows its
    * hour) over rows that carry only the short utterance rendering;
    * no global order, no unbounded frame. */
  def dialoguePairs(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .withColumn("conv_id", Sft.convId(col("ts")))
      .withColumn("utt", Sft.utt(col("event_type"), col("value")))
    val wCtx = Window.partitionBy("conv_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-DialogueContextTurns, -1)
    ev
      .withColumn("context", collect_list(col("utt")).over(wCtx))
      .select(
        col("conv_id"), col("event_id"), col("user_id").as("speaker"),
        col("utt").as("response"),
        size(col("context")).cast("long").as("n_context"),
        md5(array_join(col("context"), " | ")).as("context_md5"))
      .filter(col("n_context") > 0)
      .orderBy("conv_id", "event_id")
  }

  /** Token budget per packed SFT sequence — small against the fixture's
    * short utterances so the pack actually produces multiple bins. */
  val SftPackBudget = 64L

  /** SFT PACK WITH LOSS-MASK OFFSETS — the step after
    * [[dialoguePairs]]: pack each conversation's (context, response)
    * pairs into fixed-token-budget training sequences and emit, per
    * pair, its bin and the EXACT token offsets of the span the loss is
    * computed on (`train_from`/`train_to` bracket the response; the
    * context tokens before them are masked out) — the metadata an SFT
    * trainer needs to pack multi-turn data without leaking loss onto
    * prompts. Same prefix-sum relaxation as [[TextQueries.packDocs]]
    * (bin = cum-before DIV budget; a straddler may overflow its bin),
    * keyed by conversation so the cumulative window never goes global.
    * Token counts are the chars/4 estimator on the utterance rendering;
    * separators are deliberately uncounted (documented, exact). */
  def sftPack(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .withColumn("conv_id", Sft.convId(col("ts")))
      .withColumn("utt", Sft.utt(col("event_type"), col("value")))
      .withColumn("tok", Sft.tok(col("utt")))
    val wCtx = Window.partitionBy("conv_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-DialogueContextTurns, -1)
    val pairs = ev
      .withColumn("n_ctx_tokens",
        coalesce(sum(col("tok")).over(wCtx), lit(0L)))
      .withColumn("n_context", count(lit(1)).over(wCtx))
      .filter(col("n_context") > 0)
      .withColumn("n_seq", col("n_ctx_tokens") + col("tok"))
    val wCum = Window.partitionBy("conv_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    pairs
      .withColumn("cum_before", coalesce(sum(col("n_seq")).over(wCum), lit(0L)))
      .withColumn("bin", expr(s"cum_before div $SftPackBudget"))
      .withColumn("seq_off",
        expr(s"cum_before - (cum_before div $SftPackBudget) * $SftPackBudget"))
      .select(
        col("conv_id"), col("event_id"),
        col("n_ctx_tokens"), col("tok").as("n_resp_tokens"),
        col("bin"), col("seq_off"),
        (col("seq_off") + col("n_ctx_tokens")).as("train_from"),
        (col("seq_off") + col("n_ctx_tokens") + col("tok")).as("train_to"))
      .orderBy("conv_id", "event_id")
  }

  def sftPackOracle: String =
    s"""WITH e AS (
       |  SELECT event_id, ts,
       |    $HourBucketSql AS conv_id,
       |    event_type || ':' ||
       |      CAST(CAST(round(value*100,0) AS BIGINT) AS VARCHAR) AS utt
       |  FROM events),
       |t AS (
       |  SELECT *, CAST(greatest(1, length(utt) // 4) AS BIGINT) AS tok
       |  FROM e),
       |p AS (
       |  SELECT conv_id, event_id, ts, tok,
       |    CAST(coalesce(sum(tok) OVER w, 0) AS BIGINT) AS n_ctx_tokens,
       |    count(tok) OVER w AS n_context
       |  FROM t
       |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id
       |    ROWS BETWEEN $DialogueContextTurns PRECEDING AND 1 PRECEDING)),
       |q AS (SELECT *, n_ctx_tokens + tok AS n_seq FROM p WHERE n_context > 0),
       |c AS (
       |  SELECT conv_id, event_id, n_ctx_tokens, tok,
       |    CAST(coalesce(sum(n_seq) OVER (PARTITION BY conv_id
       |      ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cum_before
       |  FROM q)
       |SELECT conv_id, event_id, n_ctx_tokens, tok AS n_resp_tokens,
       |  cum_before // $SftPackBudget AS bin,
       |  cum_before - (cum_before // $SftPackBudget) * $SftPackBudget AS seq_off,
       |  cum_before - (cum_before // $SftPackBudget) * $SftPackBudget
       |    + n_ctx_tokens AS train_from,
       |  cum_before - (cum_before // $SftPackBudget) * $SftPackBudget
       |    + n_ctx_tokens + tok AS train_to
       |FROM c ORDER BY conv_id, event_id""".stripMargin

  def dialoguePairsOracle: String =
    s"""WITH e AS (
       |  SELECT event_id, user_id, ts,
       |    $HourBucketSql AS conv_id,
       |    event_type || ':' ||
       |      CAST(CAST(round(value*100,0) AS BIGINT) AS VARCHAR) AS utt
       |  FROM events),
       |c AS (
       |  SELECT conv_id, event_id, user_id AS speaker, utt AS response,
       |    CAST(count(utt) OVER w AS BIGINT) AS n_context,
       |    md5(coalesce(string_agg(utt, ' | ') OVER w, '')) AS context_md5
       |  FROM e
       |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id
       |    ROWS BETWEEN $DialogueContextTurns PRECEDING AND 1 PRECEDING))
       |SELECT conv_id, event_id, speaker, response, n_context, context_md5
       |FROM c WHERE n_context > 0
       |ORDER BY conv_id, event_id""".stripMargin
}
