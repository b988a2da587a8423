package graft.prep

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType, StructType}
import graft.model.{ProcessedSegment, SegmentTimestamp, Transcript}
import graft.text.TextFunctions

/** Preprocessing stage (SURVEY.md §2.2 F1/F2/F4, §2.3 A1/A2/A3/A4/A5 —
  * /root/reference/preprocessor.py).
  *
  * Every step is a pure Scala function over one transcript's rows
  * (`indexLocal`, then [[prepLocal]]: the limit, `enrichLocal`,
  * `foldLocal`) that reproduces the reference's semantics, its
  * order-dependent folds exactly, and is unit-testable without a
  * SparkSession. The layered Dataset stages ([[loadTranscript]], [[run]])
  * apply the same functions.
  *
  * Scale design: a transcript is small (thousands of rows) even when a
  * corpus is 100 TB — the unit of parallelism is the TRANSCRIPT, not the
  * segment. A transcript file is one row ([[readTranscripts]]) and the
  * local functions run over it in one task; a corpus is N such rows
  * through the same map.
  */
object Preprocess {

  case class PrepConfig(
      mergeSameSpeaker: Boolean = true,
      maxSegmentDuration: Option[Double] = Some(120.0),
      preserveTimestamps: Boolean = true,
      timeIntervalSeconds: Option[Double] = None,
      limitSegments: Option[Int] = None
  )

  /** The read schema of the transcript contract [[readTranscripts]]
    * reads: times are JSON numbers, `text` and `speaker` strings; other
    * fields are ignored. */
  val TranscriptSchema: StructType = new StructType()
    .add("segments", ArrayType(new StructType()
      .add("start", DoubleType)
      .add("end", DoubleType)
      .add("text", StringType)
      .add("speaker", StringType)))

  /** The transcript contract's read (the reference's README.md:162-175):
    * one row per file, its `segments` in file order.
    *
    * The read uses [[TranscriptSchema]], so it runs no schema-inference
    * job, and mode `FAILFAST`: truncated JSON or a time that is not a
    * number (`"start": "0.5"`) fails the first action with
    * `FAILED_READ_FILE` naming the file, instead of loading as null.
    * Integer times read as doubles; a number in `text` or `speaker` reads
    * as its JSON text. A file without a `segments` array fails the first
    * action with an error naming `path`, and a segment with a null time
    * with `NOT_NULL_ASSERT_VIOLATION`. */
  def readTranscripts(spark: SparkSession, path: String): Dataset[Transcript] =
    spark.read
      .schema(TranscriptSchema)
      .option("multiLine", true)
      .option("mode", "FAILFAST")
      .json(path)
      .select(coalesce(col("segments"),
        raise_error(lit(s"transcript $path has no segments array"))).as("segments"))
      .as(TranscriptEncoder)

  // Derived once per JVM, not per read.
  private lazy val TranscriptEncoder = Encoders.product[Transcript]

  /** S1: one transcript's segments as rows, each keyed by its array
    * position, the explicit ordering key the reference gets for free from
    * Python list order. A missing `text` or `speaker` reads as `""`. */
  def indexLocal(t: Transcript): Seq[RawIndexed] =
    t.segments.zipWithIndex.map { case (s, i) =>
      if (s == null) throw new NullPointerException(s"segment $i of the transcript is null")
      RawIndexed(i.toLong, s.start, s.end, Option(s.text).getOrElse(""),
        Option(s.speaker).getOrElse(""))
    }

  /** S1 over [[readTranscripts]]: [[indexLocal]] per transcript row. An
    * empty array loads as zero rows. */
  def loadTranscript(spark: SparkSession, path: String): Dataset[RawIndexed] = {
    import spark.implicits._
    readTranscripts(spark, path).flatMap(indexLocal)
  }

  /** F1+F2+F4 on one segment (the reference's preprocessor.py:36-54): drop
    * a text that Spark's `trim` (U+0020 only) leaves empty, clean the
    * text, format the times. */
  def enrichLocal(r: RawIndexed): Option[ProcessedSegment] =
    if (TextFunctions.trimSpaces(r.text).isEmpty) None
    else Some(ProcessedSegment(r.start, r.end, TextFunctions.cleanText(r.text), r.speaker,
      TextFunctions.formatHms(r.start), TextFunctions.formatHms(r.end), r.rowIdx))

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
    * `rowIdx` order: same-speaker merge, then interval aggregation. */
  def foldLocal(segs: Seq[ProcessedSegment], cfg: PrepConfig): Seq[ProcessedSegment] = {
    val merged =
      if (cfg.mergeSameSpeaker)
        combineLocal(segs, cfg.maxSegmentDuration, cfg.preserveTimestamps)
      else segs
    cfg.timeIntervalSeconds.fold(merged)(intervalLocal(merged, _))
  }

  /** Full preprocessing of one transcript's rows in `rowIdx` order: the
    * S2 limit first, as the reference does with `--limit-segments`, then
    * [[enrichLocal]] and [[foldLocal]]. */
  def prepLocal(raw: Seq[RawIndexed], cfg: PrepConfig): Seq[ProcessedSegment] = {
    val limited = cfg.limitSegments.fold(raw)(raw.take)
    foldLocal(limited.flatMap(enrichLocal), cfg)
  }

  /** [[prepLocal]] over a single transcript's Dataset, in one sorted
    * partition (a transcript always fits). `coalesce(1)` gathers it
    * without a shuffle: a single multiLine JSON file is one partition
    * already. */
  def run(
      spark: SparkSession,
      raw: Dataset[RawIndexed],
      cfg: PrepConfig = PrepConfig()
  ): Dataset[ProcessedSegment] = {
    import spark.implicits._
    raw
      .coalesce(1)
      .sortWithinPartitions("rowIdx")
      .mapPartitions(it => prepLocal(it.toSeq, cfg).iterator)
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

  /** A5 over local rows: the first start to the last end, 0 on no rows. */
  def spanLocal(segs: Seq[ProcessedSegment]): Double =
    if (segs.isEmpty) 0.0
    else segs.map(_.end).reduce(_ max _) - segs.map(_.start).reduce(_ min _)

  /** A5: transcript duration (/root/reference/preprocessor.py:344-361). */
  def transcriptDuration(ds: Dataset[ProcessedSegment]): (Double, String) = {
    val span = ds.agg(min(col("start")), max(col("end"))).head()
    val d = if (span.isNullAt(0)) 0.0 else span.getDouble(1) - span.getDouble(0)
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
