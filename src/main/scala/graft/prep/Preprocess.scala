package graft.prep

import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType, StructType}
import graft.model.{ProcessedSegment, RawSegment, SegmentTimestamp}
import graft.text.TextFunctions

/** Preprocessing stage (SURVEY.md §2.2 F1/F2/F4, §2.3 A1/A2/A3/A4/A5 —
  * /root/reference/preprocessor.py).
  *
  * Two layers:
  *   - pure Scala folds (`combineLocal`, `intervalLocal`) that reproduce the
  *     reference's order-dependent semantics exactly and are unit-testable
  *     without a SparkSession;
  *   - Spark surfaces that run the declarative parts (filter/clean/enrich)
  *     as codegen'd Column expressions and the stateful folds via
  *     sort + mapPartitions.
  *
  * Scale design: a transcript is small (thousands of rows) even when a
  * corpus is 100 TB — the unit of parallelism is the TRANSCRIPT, not the
  * segment. The single-transcript path here sorts into one partition
  * (exact parity with the reference's sequential fold); the corpus-scale
  * path keys by transcript and applies the same local folds per key via
  * repartition + sortWithinPartitions (secondary-sort pattern, no global
  * shuffle beyond the per-key hash) — see [[PerTranscript]].
  */
object Preprocess {

  case class PrepConfig(
      mergeSameSpeaker: Boolean = true,
      maxSegmentDuration: Option[Double] = Some(120.0),
      preserveTimestamps: Boolean = true,
      timeIntervalSeconds: Option[Double] = None,
      limitSegments: Option[Int] = None
  )

  /** The read schema of the transcript contract [[loadTranscript]]
    * loads: times are JSON numbers, `text` and `speaker` strings; other
    * fields are ignored. */
  val TranscriptSchema: StructType = new StructType()
    .add("segments", ArrayType(new StructType()
      .add("start", DoubleType)
      .add("end", DoubleType)
      .add("text", StringType)
      .add("speaker", StringType)))

  /** S1: load the `{"segments":[...]}` transcript contract
    * (/root/reference/README.md:162-175). posexplode preserves the JSON
    * array position as the explicit ordering key the reference gets for
    * free from Python list order.
    *
    * The read uses [[TranscriptSchema]], so it runs no schema-inference
    * job, and mode `FAILFAST`: truncated JSON or a time that is not a
    * number (`"start": "0.5"`) fails the first action with
    * `FAILED_READ_FILE` naming the file, instead of loading as null.
    * Integer times read as doubles; a number in `text` or `speaker` reads
    * as its JSON text. A file without a `segments` array fails the first
    * action with an error naming `path`. An empty array loads as zero
    * rows, and a segment without `speaker` loads with speaker `""`. */
  def loadTranscript(spark: SparkSession, path: String): Dataset[RawIndexed] = {
    import spark.implicits._
    val segments = coalesce(col("segments"),
      raise_error(lit(s"transcript $path has no segments array")))
    spark.read
      .schema(TranscriptSchema)
      .option("multiLine", true)
      .option("mode", "FAILFAST")
      .json(path)
      .select(posexplode(segments).as(Seq("rowIdx", "seg")))
      .select(
        col("rowIdx").cast("long"),
        col("seg.start"),
        col("seg.end"),
        coalesce(col("seg.text"), lit("")).as("text"),
        coalesce(col("seg.speaker"), lit("")).as("speaker")
      )
      .as[RawIndexed]
  }

  /** F1+F2+F4 as one codegen'd projection: drop empty texts, clean, format
    * timestamps (/root/reference/preprocessor.py:36-54). S2 limit is pushed
    * before everything, as the reference does with `--limit-segments`. */
  def enrich(
      spark: SparkSession,
      raw: Dataset[RawIndexed],
      cfg: PrepConfig
  ): Dataset[ProcessedSegment] = {
    import spark.implicits._
    val limited = cfg.limitSegments match {
      case Some(n) => raw.orderBy("rowIdx").limit(n)
      case None    => raw
    }
    limited
      .filter(trim(col("text")) =!= "")
      .select(
        col("start"),
        col("end"),
        TextFunctions.cleanTextCol(col("text")).as("text"),
        col("speaker"),
        TextFunctions.formatHmsCol(col("start")).as("startFormatted"),
        TextFunctions.formatHmsCol(col("end")).as("endFormatted"),
        col("rowIdx"),
        lit(false).as("isCombined"),
        lit(1).as("originalSegments"),
        lit(false).as("isAggregated"),
        lit(null).cast("int").as("intervalIndex"),
        typedLit(Seq.empty[SegmentTimestamp]).as("segmentTimestamps")
      )
      .as[ProcessedSegment]
  }

  // -------------------------------------------------------------------------
  // A1 + A2: consecutive same-speaker merge with duration cap — pure fold,
  // exact parity with /root/reference/preprocessor.py:109-215.
  // -------------------------------------------------------------------------

  def combineLocal(
      segments: Seq[ProcessedSegment],
      maxDuration: Option[Double],
      preserveTimestamps: Boolean
  ): Seq[ProcessedSegment] = {
    if (segments.isEmpty) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[ProcessedSegment]
    var group = scala.collection.mutable.ArrayBuffer(segments.head)
    var dur = segments.head.end - segments.head.start
    var speaker = segments.head.speaker
    for (seg <- segments.tail) {
      val segDur = seg.end - seg.start
      val break = seg.speaker != speaker ||
        maxDuration.exists(m => dur + segDur > m)
      if (break) {
        out += combineGroup(group.toSeq, preserveTimestamps)
        group = scala.collection.mutable.ArrayBuffer(seg)
        dur = segDur
        speaker = seg.speaker
      } else {
        group += seg
        dur += segDur
      }
    }
    out += combineGroup(group.toSeq, preserveTimestamps)
    out.toSeq
  }

  /** /root/reference/preprocessor.py:167-215 — groups of size 1 pass
    * through unchanged; combined text is "[MM:SS] text" parts joined by a
    * single space (or plain join without timestamps). */
  private def combineGroup(
      group: Seq[ProcessedSegment],
      preserveTimestamps: Boolean
  ): ProcessedSegment = {
    if (group.size == 1) return group.head
    val start = group.head.start
    val end = group.last.end
    val text =
      if (preserveTimestamps)
        group
          .map(s => s"[${TextFunctions.formatHms(s.start)}] ${s.text}")
          .mkString(" ")
      else group.map(_.text).mkString(" ")
    ProcessedSegment(
      start = start,
      end = end,
      text = text,
      speaker = group.head.speaker,
      startFormatted = TextFunctions.formatHms(start),
      endFormatted = TextFunctions.formatHms(end),
      rowIdx = group.head.rowIdx,
      isCombined = true,
      originalSegments = group.size,
      segmentTimestamps =
        group.map(s => SegmentTimestamp(s.start, s.end, s.text, None))
    )
  }

  // -------------------------------------------------------------------------
  // A3: fixed time-interval aggregation — pure fold, exact parity with
  // /root/reference/preprocessor.py:217-324. Spanning segments are
  // intentionally duplicated across every interval they overlap.
  // -------------------------------------------------------------------------

  def intervalLocal(
      segments: Seq[ProcessedSegment],
      intervalSeconds: Double
  ): Seq[ProcessedSegment] = {
    if (segments.isEmpty) return Seq.empty
    val t0 = segments.head.start
    val tEnd = segments.last.end
    val nIntervals = math.ceil((tEnd - t0) / intervalSeconds).toInt
    val out = scala.collection.mutable.ArrayBuffer.empty[ProcessedSegment]
    var i = 0
    while (i < nIntervals) {
      val iStart = t0 + i * intervalSeconds
      val iEnd = math.min(iStart + intervalSeconds, tEnd)
      def overlaps(s: Double, e: Double): Boolean =
        (iStart <= s && s < iEnd) || (s <= iStart && e > iStart)
      val inInterval = segments.flatMap { seg =>
        if (!overlaps(seg.start, seg.end)) None
        else if (seg.segmentTimestamps.nonEmpty) {
          // Combined segment: keep only component parts in this interval and
          // re-render its text from them.
          val parts = seg.segmentTimestamps.filter(ts => overlaps(ts.start, ts.end))
          if (parts.isEmpty) None
          else {
            val text = parts
              .sortBy(_.start)
              .map(ts => s"[${TextFunctions.formatHms(ts.start)}] ${ts.text}")
              .mkString(" ")
            Some(seg.copy(text = text, segmentTimestamps = parts))
          }
        } else Some(seg)
      }
      if (inInterval.nonEmpty) {
        // Reference joins a python set in iteration order — nondeterministic;
        // the engine sorts (documented deviation, SURVEY §7.5.5).
        val speakers = inInterval.map(_.speaker).distinct.sorted
        val sorted = inInterval.sortBy(_.start)
        val text = sorted
          .map(s =>
            s"[${TextFunctions.formatHms(s.start)} ${s.speaker}] ${s.text}")
          .mkString("\n\n")
        out += ProcessedSegment(
          start = iStart,
          end = iEnd,
          text = text,
          speaker = speakers.mkString(", "),
          startFormatted = TextFunctions.formatHms(iStart),
          endFormatted = TextFunctions.formatHms(iEnd),
          rowIdx = i.toLong,
          isAggregated = true,
          intervalIndex = Some(i),
          originalSegments = inInterval.size,
          segmentTimestamps = sorted.map(s =>
            SegmentTimestamp(s.start, s.end, s.text, Some(s.speaker)))
        )
      }
      i += 1
    }
    out.toSeq
  }

  /** The order-dependent folds over one transcript's segments in
    * `rowIdx` order: same-speaker merge, then interval aggregation. Both
    * the single-transcript and the corpus path call this, so the fold
    * order lives here only. */
  def foldLocal(segs: Seq[ProcessedSegment], cfg: PrepConfig): Seq[ProcessedSegment] = {
    val merged =
      if (cfg.mergeSameSpeaker)
        combineLocal(segs, cfg.maxSegmentDuration, cfg.preserveTimestamps)
      else segs
    cfg.timeIntervalSeconds.fold(merged)(intervalLocal(merged, _))
  }

  /** Full preprocessing over a single transcript: the declarative stages
    * run as one projection; the order-dependent folds run in one sorted
    * partition (parity mode — a transcript always fits). `coalesce(1)`
    * gathers it without a shuffle: a single multiLine JSON file is one
    * partition already. */
  def run(
      spark: SparkSession,
      raw: Dataset[RawIndexed],
      cfg: PrepConfig = PrepConfig()
  ): Dataset[ProcessedSegment] = {
    import spark.implicits._
    val enriched = enrich(spark, raw, cfg)
    if (!cfg.mergeSameSpeaker && cfg.timeIntervalSeconds.isEmpty) enriched
    else
      enriched
        .coalesce(1)
        .sortWithinPartitions("rowIdx")
        .mapPartitions(it => foldLocal(it.toSeq, cfg).iterator)
  }

  /** Cap on [[extractSpeakers]]' driver-side collect. Transcripts have a
    * handful of speakers by nature; a corpus-scale misuse (millions of
    * distinct "speakers") must fail loudly here, not OOM the driver. */
  val MaxSpeakers = 100000

  /** A4: unique sorted speakers (/root/reference/preprocessor.py:326-342).
    * The collect is transcript-scale BY INTENT — guarded by
    * [[MaxSpeakers]] (one `limit(cap+1)` collect, so the failing path
    * never materializes more than cap+1 rows on the driver). For
    * corpus-scale distinct-speaker analytics keep the result
    * distributed: `ds.select("speaker").distinct()`. */
  def extractSpeakers(
      ds: Dataset[ProcessedSegment],
      cap: Int = MaxSpeakers): Seq[String] = {
    import ds.sparkSession.implicits._
    speakerList(ds.select("speaker").distinct().limit(cap + 1).as[String].collect().toSeq, cap)
  }

  /** A4's result from a transcript's distinct speakers: sorted, and
    * refused above `cap` (see [[extractSpeakers]]). */
  def speakerList(distinct: Seq[String], cap: Int = MaxSpeakers): Seq[String] = {
    require(distinct.length <= cap,
      s"extractSpeakers found > $cap distinct speakers — this is " +
        "a transcript-scale operator; use the distributed " +
        "select(\"speaker\").distinct() frame for corpus-scale analytics")
    distinct.sorted
  }

  /** A5's aggregates over preprocessed rows, named `start` and `end`: the
    * first start and the last end. */
  val SpanColumns: Seq[Column] = Seq(min(col("start")).as("start"), max(col("end")).as("end"))

  /** Seconds from `start` to `end` as [[SpanColumns]] name them; 0 when
    * they are null or absent (no rows). */
  def spanSeconds(span: Map[String, Any]): Double =
    (span.get("start"), span.get("end")) match {
      case (Some(s: Double), Some(e: Double)) => e - s
      case _                                  => 0.0
    }

  /** A5: transcript duration (/root/reference/preprocessor.py:344-361). */
  def transcriptDuration(ds: Dataset[ProcessedSegment]): (Double, String) = {
    val d = spanSeconds(
      ds.agg(SpanColumns.head, SpanColumns.tail: _*).head().getValuesMap(Seq("start", "end")))
    (d, TextFunctions.formatHms(d))
  }
}

/** RawSegment plus the explicit input-order key. */
case class RawIndexed(
    rowIdx: Long,
    start: Double,
    end: Double,
    text: String,
    speaker: String
)
