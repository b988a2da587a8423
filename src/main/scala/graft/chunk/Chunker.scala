package graft.chunk

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model.{Chunk, ProcessedSegment, SegmentTimestamp}
import graft.text.TextFunctions

/** Token-bounded, sentence-aware chunking (SURVEY.md §2.5 C1-C4, §2.4 M3 —
  * /root/reference/big_chunkeroosky.py).
  *
  * The greedy fold is inherently sequential per transcript (each packing
  * decision depends on the running token count), so the core is a pure
  * Scala fold with exact structural parity, and the Spark surface runs it
  * per sorted partition. Tokens are counted with the engine's canonical
  * chars/4 estimator (SURVEY §7.5.1) — same algorithm in chunking, batch
  * sizing and the oracle queries, so all budgets are internally coherent.
  */
object Chunker {

  case class ChunkConfig(
      maxTokensPerChunk: Int = 4000,
      contextTokens: Int = 150,
      /** Inter-chunk overlap: when a chunk closes on the token budget, the
        * trailing segments up to this many tokens are re-seeded into the
        * next chunk for summary continuity. The reference declares
        * overlap_tokens=200 but never applies it (dead config,
        * /root/reference/big_chunkeroosky.py:26,40); here it is
        * implemented for real. Default off = parity. */
      overlapTokens: Int = 0
  ) {
    def effectiveMax: Int = maxTokensPerChunk - contextTokens
  }

  private case class SubChunk(
      seg: SegmentTimestamp,
      text: String,
      tokens: Int,
      isClause: Boolean
  )

  private class Builder(cfg: ChunkConfig, transcriptStartHint: Option[Double]) {
    val chunks = scala.collection.mutable.ArrayBuffer.empty[Chunk]
    var segs = scala.collection.mutable.ArrayBuffer.empty[SegmentTimestamp]
    var text = new StringBuilder
    var tokens = 0
    var startTime = 0.0
    var endTime = 0.0
    var speakers = scala.collection.mutable.SortedSet.empty[String]
    // (segment, rendered text, tokens) of the current chunk — kept so a
    // budget-break can carry an overlap tail into the next chunk.
    var items = scala.collection.mutable.ArrayBuffer.empty[(SegmentTimestamp, String, Int)]
    var lastItems: Seq[(SegmentTimestamp, String, Int)] = Seq.empty

    def nonEmpty: Boolean = segs.nonEmpty

    def reset(start: Double): Unit = {
      segs = scala.collection.mutable.ArrayBuffer.empty
      text = new StringBuilder
      tokens = 0
      startTime = start
      endTime = start
      speakers = scala.collection.mutable.SortedSet.empty[String]
      items = scala.collection.mutable.ArrayBuffer.empty
    }

    /** Reset for the next chunk, re-seeding the trailing items of the
      * just-finished chunk up to the overlap budget (capped at half the
      * chunk budget so a chunk can never consist solely of overlap). */
    def resetWithOverlap(start: Double): Unit = {
      val budget = math.min(cfg.overlapTokens, cfg.effectiveMax / 2)
      val tail =
        if (budget <= 0) Seq.empty
        else {
          var total = 0
          lastItems.reverse.takeWhile { case (_, _, t) =>
            total += t; total <= budget
          }.reverse
        }
      reset(start)
      tail.foreach { case (seg, txt, tok) => add(seg, txt, tok) }
      tail.headOption.foreach(h => startTime = h._1.start)
    }

    def add(seg: SegmentTimestamp, renderedText: String, tokenCount: Int): Unit = {
      items += ((seg, renderedText, tokenCount))
      segs += seg
      if (text.nonEmpty) text.append("\n\n")
      text.append(renderedText)
      tokens += tokenCount
      endTime = seg.end
      // An empty speaker (clause sub-chunks, pre-fill) is not a speaker:
      // keeping it out of the set lets postprocess fall back to UNKNOWN
      // instead of silently filling with "" as the reference does.
      seg.speaker.filter(_.nonEmpty).foreach(speakers += _)
    }

    /** C2 finalize (/root/reference/big_chunkeroosky.py:147-195), including
      * the reference's position_percentage quirk: the denominator is THIS
      * chunk's end minus transcript start, not the transcript span — always
      * <100, 0 for the first chunk. Reproduced deliberately for parity. */
    def finish(): Unit = {
      val transcriptStart =
        chunks.headOption.map(_.startTime).getOrElse(
          transcriptStartHint.getOrElse(startTime))
      val firstStart = segs.head.start
      val lastEnd = segs.last.end
      val position =
        if (lastEnd > transcriptStart)
          (firstStart - transcriptStart) / (lastEnd - transcriptStart) * 100.0
        else 0.0
      val speakerList = speakers.toSeq
      val body = text.toString
      val idx = chunks.size
      val withContext =
        contextHeader(idx, startTime, endTime, speakerList, position) + "\n\n" + body
      lastItems = items.toSeq
      chunks += Chunk(
        segments = segs.toSeq,
        text = body,
        tokenCount = tokens,
        startTime = startTime,
        endTime = endTime,
        speakers = speakerList,
        chunkIndex = idx,
        totalChunks = -1, // filled by postprocess (C3)
        positionPercentage = position,
        textWithContext = withContext
      )
    }
  }

  /** F6 context header (/root/reference/big_chunkeroosky.py:197-232). */
  def contextHeader(
      chunkIndex: Int,
      startTime: Double,
      endTime: Double,
      speakers: Seq[String],
      positionPercentage: Double
  ): String = {
    val timeRange =
      s"${TextFunctions.formatHms(startTime)} - ${TextFunctions.formatHms(endTime)}"
    val pos = f"Chunk ${chunkIndex + 1} (approximately $positionPercentage%.1f%% through the transcript)"
    s"--- TRANSCRIPT CHUNK INFORMATION ---\n" +
      s"Time Range: $timeRange\n" +
      s"Speakers: ${speakers.mkString(", ")}\n" +
      s"Position: $pos\n" +
      s"--- TRANSCRIPT CHUNK CONTENT ---"
  }

  /** F5 segment render (/root/reference/big_chunkeroosky.py:244-265). */
  def renderSegment(seg: ProcessedSegment): String =
    s"[${TextFunctions.formatHms(seg.start)}] ${seg.speaker}: ${seg.text}"

  /** C1 greedy fold + M3 oversized-segment explosion — exact structural
    * parity with /root/reference/big_chunkeroosky.py:46-145. */
  def chunkLocal(
      segments: Seq[ProcessedSegment],
      cfg: ChunkConfig = ChunkConfig()
  ): Seq[Chunk] = {
    if (segments.isEmpty) return Seq.empty
    val b = new Builder(cfg, Some(segments.head.start))
    b.reset(segments.head.start)
    for (segment <- segments) {
      val rendered = renderSegment(segment)
      val segTokens = TextFunctions.estimateTokens(rendered)
      if (b.tokens + segTokens > cfg.effectiveMax && b.nonEmpty) {
        b.finish()
        b.resetWithOverlap(segment.start)
      }
      if (segTokens > cfg.effectiveMax) {
        for (sub <- splitLargeSegment(segment, cfg)) {
          if (b.tokens > 0 && b.tokens + sub.tokens > cfg.effectiveMax) {
            b.finish()
            b.resetWithOverlap(sub.seg.start)
          }
          b.add(sub.seg, sub.text, sub.tokens)
        }
      } else {
        b.add(
          SegmentTimestamp(segment.start, segment.end, segment.text,
            Some(segment.speaker)),
          rendered,
          segTokens
        )
      }
    }
    if (b.nonEmpty) b.finish()
    postprocess(b.chunks.toSeq)
  }

  /** C3 postprocess (/root/reference/big_chunkeroosky.py:544-567): broadcast
    * total_chunks; fill empty clause-split speakers from the chunk's first
    * speaker. */
  def postprocess(chunks: Seq[Chunk]): Seq[Chunk] = {
    val total = chunks.size
    chunks.map { c =>
      val fallback = c.speakers.headOption.getOrElse("UNKNOWN")
      val fixedSegs = c.segments.map { s =>
        if (s.speaker.forall(_.isEmpty)) s.copy(speaker = Some(fallback)) else s
      }
      c.copy(totalChunks = total, segments = fixedSegs)
    }
  }

  /** M3 (/root/reference/big_chunkeroosky.py:267-435): a segment whose
    * rendered text alone busts the budget explodes into sub-chunks —
    * combined segments along their component parts; plain segments at
    * sentence boundaries with per-sentence times interpolated linearly by
    * character position. */
  private def splitLargeSegment(
      segment: ProcessedSegment,
      cfg: ChunkConfig
  ): Seq[SubChunk] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[SubChunk]
    if (segment.isCombined && segment.segmentTimestamps.nonEmpty) {
      var curText = new StringBuilder
      var curTokens = 0
      var curStart = segment.segmentTimestamps.head.start
      var curEnd = curStart
      def flush(): Unit = if (curTokens > 0) {
        out += SubChunk(
          SegmentTimestamp(curStart, curEnd, curText.toString,
            Some(segment.speaker)),
          curText.toString, curTokens, isClause = false)
      }
      for (ts <- segment.segmentTimestamps) {
        val rendered = s"[${TextFunctions.formatHms(ts.start)}] ${ts.text}"
        val t = TextFunctions.estimateTokens(rendered)
        if (curTokens + t > cfg.effectiveMax && curTokens > 0) {
          flush()
          curText = new StringBuilder
          curTokens = 0
          curStart = ts.start
        }
        if (curText.nonEmpty) curText.append(" ")
        curText.append(rendered)
        curTokens += t
        curEnd = ts.end
      }
      flush()
    } else {
      val text = segment.text
      val sentences = TextFunctions.splitSentences(text)
      val timePerChar =
        if (text.nonEmpty) (segment.end - segment.start) / text.length else 0.0
      var charsProcessed = 0L
      var curText = new StringBuilder
      var curTokens = 0
      var curStart = segment.start
      var curEnd = segment.start
      def flush(endAt: Double): Unit = if (curTokens > 0) {
        out += SubChunk(
          SegmentTimestamp(curStart, endAt, curText.toString,
            Some(segment.speaker)),
          curText.toString, curTokens, isClause = false)
      }
      for (sentence <- sentences if sentence.nonEmpty) {
        val sentStart = segment.start + timePerChar * charsProcessed
        val sentEnd = sentStart + timePerChar * sentence.length
        charsProcessed += sentence.length
        val rendered = s"[${TextFunctions.formatHms(sentStart)}] $sentence"
        val t = TextFunctions.estimateTokens(rendered)
        if (t > cfg.effectiveMax) {
          // Single over-budget sentence → clause split (empty speaker is
          // filled later by postprocess, matching the reference).
          flush(sentStart)
          curText = new StringBuilder; curTokens = 0
          out ++= splitLongSentence(sentence, sentStart, sentEnd, cfg)
          curStart = sentEnd; curEnd = sentEnd
        } else if (curTokens + t > cfg.effectiveMax && curTokens > 0) {
          flush(sentStart)
          curText = new StringBuilder(rendered)
          curTokens = t
          curStart = sentStart
          curEnd = sentEnd
        } else {
          if (curText.nonEmpty) curText.append(" ")
          curText.append(rendered)
          curTokens += t
          curEnd = sentEnd
        }
      }
      flush(curEnd)
    }
    out.toSeq
  }

  /** /root/reference/big_chunkeroosky.py:437-542: clause split on
    * [,.;:?!], falling back to ~20-word groups; times interpolated by
    * character position; speaker left empty for postprocess to fill. */
  private def splitLongSentence(
      sentence: String,
      startTime: Double,
      endTime: Double,
      cfg: ChunkConfig
  ): Seq[SubChunk] = {
    val clausePattern = "[^,.;:?!]+[,.;:?!]+".r
    var clauses = clausePattern.findAllIn(sentence).toSeq
    if (clauses.isEmpty) clauses = TextFunctions.splitWordGroups(sentence, 20)
    val timePerChar =
      if (sentence.nonEmpty) (endTime - startTime) / sentence.length else 0.0
    val out = scala.collection.mutable.ArrayBuffer.empty[SubChunk]
    var charsProcessed = 0L
    var curText = new StringBuilder
    var curTokens = 0
    var curStart = startTime
    var curEnd = startTime
    def flush(): Unit = if (curTokens > 0) {
      out += SubChunk(
        SegmentTimestamp(curStart, curEnd, curText.toString, Some("")),
        curText.toString, curTokens, isClause = true)
    }
    for (clause <- clauses.map(_.trim) if clause.nonEmpty) {
      val cStart = startTime + timePerChar * charsProcessed
      val cEnd = cStart + timePerChar * clause.length
      charsProcessed += clause.length
      val rendered = s"[${TextFunctions.formatHms(cStart)}] $clause"
      val t = TextFunctions.estimateTokens(rendered)
      if (curTokens + t > cfg.effectiveMax && curTokens > 0) {
        flush()
        curText = new StringBuilder(rendered)
        curTokens = t
        curStart = cStart
        curEnd = cEnd
      } else {
        if (curText.nonEmpty) curText.append(" ")
        curText.append(rendered)
        curTokens += t
        curEnd = cEnd
      }
    }
    flush()
    out.toSeq
  }

  /** [[chunkLocal]] over a single transcript's Dataset: gathered into one
    * partition with `coalesce(1)` (no shuffle) and sorted by the explicit
    * order key (a single transcript always fits). A corpus is N transcript
    * rows, each chunked by the same [[chunkLocal]] inside one map. */
  def run(
      spark: SparkSession,
      segments: Dataset[ProcessedSegment],
      cfg: ChunkConfig = ChunkConfig()
  ): Dataset[Chunk] = {
    import spark.implicits._
    segments
      .coalesce(1)
      .sortWithinPartitions("rowIdx", "start")
      .mapPartitions(it => chunkLocal(it.toSeq, cfg).iterator)
  }
}
