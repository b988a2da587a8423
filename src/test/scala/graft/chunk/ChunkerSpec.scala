package graft.chunk

import graft.SparkSuite
import graft.model.ProcessedSegment
import graft.prep.Preprocess
import graft.text.TextFunctions

/** C1/C2/C3/M3 semantics (/root/reference/big_chunkeroosky.py). */
class ChunkerSpec extends SparkSuite with CorpusParity {

  private def seg(start: Double, end: Double, speaker: String, text: String, idx: Long) =
    ProcessedSegment(
      start, end, text, speaker,
      TextFunctions.formatHms(start), TextFunctions.formatHms(end), idx)

  private val smallCfg = Chunker.ChunkConfig(maxTokensPerChunk = 100, contextTokens = 20)

  test("greedy fold packs to the effective budget and resets") {
    // Each rendered segment ≈ "[MM:SS] SPK: <40 chars>" ≈ 13+ tokens; budget
    // 80 → several per chunk, deterministic boundaries.
    val segs = (0 until 20).map { i =>
      seg(i * 10, i * 10 + 9, "SPK", "x" * 40, i.toLong)
    }
    val chunks = Chunker.chunkLocal(segs, smallCfg)
    assert(chunks.size > 1)
    // Invariant: every chunk within budget (no indivisible-clause overflow here).
    assert(chunks.forall(_.tokenCount <= smallCfg.effectiveMax))
    // Invariant: every input segment appears exactly once, in order.
    val flat = chunks.flatMap(_.segments)
    assert(flat.size == segs.size)
    assert(flat.map(_.start) == segs.map(_.start))
    // chunk_index contiguous; total_chunks broadcast by postprocess.
    assert(chunks.map(_.chunkIndex) == chunks.indices)
    assert(chunks.forall(_.totalChunks == chunks.size))
  }

  test("position_percentage reproduces the reference quirk") {
    val segs = (0 until 20).map(i => seg(i * 10, i * 10 + 9, "S", "y" * 40, i.toLong))
    val chunks = Chunker.chunkLocal(segs, smallCfg)
    // First chunk: (first-first)/(…) = 0.
    assert(chunks.head.positionPercentage == 0.0)
    // Later chunks: denominator is the CHUNK's own last end, not the
    // transcript end → strictly < 100 but > 0.
    chunks.tail.foreach { c =>
      assert(c.positionPercentage > 0 && c.positionPercentage < 100)
      val first = c.segments.head.start
      val last = c.segments.last.end
      val expected = (first - 0.0) / (last - 0.0) * 100.0
      assert(math.abs(c.positionPercentage - expected) < 1e-9)
    }
  }

  test("context header carries time range, speakers, position") {
    val segs = Seq(seg(0, 50, "ANNA", "hello " * 10, 0))
    val chunks = Chunker.chunkLocal(segs, Chunker.ChunkConfig())
    val h = chunks.head.textWithContext
    assert(h.startsWith("--- TRANSCRIPT CHUNK INFORMATION ---"))
    assert(h.contains("Time Range: 00:00 - 00:50"))
    assert(h.contains("Speakers: ANNA"))
    assert(h.contains("Chunk 1 (approximately 0.0% through the transcript)"))
    assert(h.contains("--- TRANSCRIPT CHUNK CONTENT ---\n\n[00:00] ANNA:"))
  }

  test("oversized multi-sentence segment splits at sentence boundaries") {
    val text = (0 until 200).map(i => s"Sentence $i is here.").mkString(" ")
    val segs = Seq(seg(0, 600, "BIG", text, 0))
    val chunks = Chunker.chunkLocal(segs, smallCfg)
    assert(chunks.size > 1)
    // Sub-chunk times are interpolated monotonically within the segment.
    val starts = chunks.map(_.startTime)
    assert(starts == starts.sorted)
    assert(starts.head == 0.0 && chunks.last.endTime <= 600.0 + 1e-6)
    // Sentence text preserved across all chunks (timestamps injected).
    val joined = chunks.map(_.text).mkString(" ")
    assert((0 until 200).forall(i => joined.contains(s"Sentence $i is here.")))
  }

  test("giant single sentence falls back to clause split with speaker fill") {
    val text = (0 until 150).map(i => s"clause $i").mkString(", ") + "."
    val segs = Seq(seg(0, 300, "SOLO", text, 0))
    val chunks = Chunker.chunkLocal(segs, smallCfg)
    assert(chunks.size > 1)
    // Clause sub-chunks had empty speaker; postprocess fills from the chunk.
    assert(chunks.forall(_.segments.forall(_.speaker.exists(_.nonEmpty))))
  }

  test("oversized combined segment splits along its component parts") {
    val parts = (0 until 30).map(i => seg(i * 10, i * 10 + 9, "A", "z" * 40, i.toLong))
    val combined = Preprocess.combineLocal(parts, None, preserveTimestamps = true)
    assert(combined.size == 1 && combined.head.isCombined)
    val chunks = Chunker.chunkLocal(combined, smallCfg)
    assert(chunks.size > 1)
    // Split respects component boundaries: each chunk's start matches some
    // component's start.
    val componentStarts = parts.map(_.start).toSet
    assert(chunks.forall(c => componentStarts.contains(c.startTime)))
  }

  test("overlapTokens seeds each new chunk with the previous tail") {
    val segs = (0 until 20).map(i => seg(i * 10, i * 10 + 9, "SPK", "x" * 40, i.toLong))
    val noOverlap = Chunker.chunkLocal(segs, smallCfg)
    val overlapped = Chunker.chunkLocal(segs, smallCfg.copy(overlapTokens = 30))
    assert(overlapped.size >= noOverlap.size)
    // Every later chunk begins with segments repeated from its predecessor,
    // and the repeated (overlap) region never exceeds the overlap budget.
    overlapped.sliding(2).foreach {
      case Seq(prev, next) =>
        val prevStarts = prev.segments.map(_.start).toSet
        assert(prevStarts.contains(next.segments.head.start),
          s"chunk ${next.chunkIndex} does not start inside chunk ${prev.chunkIndex}")
        val overlapTok = next.segments
          .takeWhile(s => prevStarts.contains(s.start))
          .map(s => graft.text.TextFunctions.estimateTokens(
            s"[${graft.text.TextFunctions.formatHms(s.start)}] SPK: ${s.text}"))
          .sum
        assert(overlapTok <= 30,
          s"chunk ${next.chunkIndex} overlap region $overlapTok tokens exceeds budget 30")
      case _ => ()
    }
    // Parity default: zero overlap keeps chunks disjoint.
    val flat = noOverlap.flatMap(_.segments)
    assert(flat.size == segs.size)
  }

  test("corpus path matches Preprocess.run + Chunker.run under every key") {
    val chunkCfg = Chunker.ChunkConfig(300, 50)
    for {
      fixture <- Seq("mini_multi_speaker.json", "oversized_segment.json")
      prepCfg <- Seq(Preprocess.PrepConfig(),
        Preprocess.PrepConfig(timeIntervalSeconds = Some(60)))
    } assert(assertCorpusParity(resourcePath(fixture), prepCfg, chunkCfg).nonEmpty)
  }

  test("Spark surface matches the local fold") {
    import spark.implicits._
    val raw = Preprocess.loadTranscript(spark, resourcePath("mini_multi_speaker.json"))
    val prep = Preprocess.run(spark, raw, Preprocess.PrepConfig())
    val local = Chunker.chunkLocal(
      prep.collect().sortBy(_.rowIdx).toSeq, Chunker.ChunkConfig(500, 50))
    val dist = Chunker.run(spark, prep, Chunker.ChunkConfig(500, 50))
      .collect().sortBy(_.chunkIndex).toSeq
    assert(dist.map(_.text) == local.map(_.text))
    assert(dist.map(_.tokenCount) == local.map(_.tokenCount))
  }
}
