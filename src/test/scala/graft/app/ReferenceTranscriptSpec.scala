package graft.app

import graft.SparkSuite
import graft.chunk.{Chunker, CorpusParity}
import graft.prep.Preprocess

/** Full pipeline over the reference's own 4,778-segment fixture
  * (/root/reference/transcript-example.json, read-only) — the real
  * workload shape: 7.4 h single-speaker audio transcript — when it is
  * present, and over a generated transcript of the same shape
  * ([[ReferenceShape]]) always. */
class ReferenceTranscriptSpec extends SparkSuite with CorpusParity {

  private val path = "/root/reference/transcript-example.json"

  test("reference transcript summarizes end-to-end on the mock client") {
    assume(new java.io.File(path).exists())
    val out = Summarizer.summarizePath(spark, path, Summarizer.Config())
    assert(out.result.segments == 4778)
    // 4000-token chunks over ~7.4h of speech → tens of chunks.
    assert(out.result.chunks > 5 && out.result.chunks < 500)
    assert(out.result.summary.contains("MOCK SUMMARY"))
    assert(out.result.tokensUsed == out.result.chunks * 100 + 100)
    val chunks = out.processedChunks.collect()
    // Chunk invariants at reference scale: ordered, budget-respecting,
    // time-monotone.
    assert(chunks.map(_.chunkIndex).toSeq == chunks.indices)
    assert(chunks.forall(_.tokenCount <= 3850))
    val starts = chunks.map(_.startTime).toSeq
    assert(starts == starts.sorted)
    assert(chunks.last.endTime <= 26562.0)
  }

  test("chunk boundaries are pinned (golden) and match the reference's sample") {
    assume(new java.io.File(path).exists())
    val raw = Preprocess.loadTranscript(spark, path)
    val prepped = Preprocess.run(spark, raw)
    val chunks = Chunker.run(spark, prepped).collect().sortBy(_.chunkIndex)
    // The reference's README records its first chunk as covering
    // 0.0-992.4 s (/root/reference/README.md:145-158). Our chars/4
    // estimator yields different token COUNTS than tiktoken, yet the
    // greedy fold lands on the identical first boundary — structural
    // parity, not coincidence.
    assert(chunks.head.startTime == 0.0 && chunks.head.endTime == 992.4)
    // Full-boundary golden pin: any change to cleaning, merging, token
    // estimation, or the fold moves this hash.
    val descriptor = chunks
      .map(c => s"${c.chunkIndex}:${c.tokenCount}:${c.startTime}:${c.endTime}")
      .mkString("|")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(descriptor.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(chunks.length == 23)
    assert(md == "8d9b1701987e1f24ed517ef6b6c914dc")
  }

  test("per-transcript corpus path matches the single-transcript path") {
    assume(new java.io.File(path).exists())
    assertCorpusParity(path, Preprocess.PrepConfig(), Chunker.ChunkConfig())
  }

  test("a generated reference-shaped transcript summarizes end-to-end on the mock client") {
    withTranscript(ReferenceShape.json(seed = 1)) { generated =>
      val out = Summarizer.summarizePath(spark, generated, Summarizer.Config())
      assert(out.result.segments == ReferenceShape.Segments)
      assert(out.result.chunks == ReferenceShape.Chunks)
      assert(out.result.summary.contains("MOCK SUMMARY"))
      // One map call per chunk and one direct reduce, 100 tokens each.
      assert(out.result.tokensUsed == out.result.chunks * 100 + 100)
      val chunks = out.processedChunks.collect()
      assert(chunks.map(_.chunkIndex).toSeq == chunks.indices)
      assert(chunks.forall(_.tokenCount <= 3850))
      val starts = chunks.map(_.startTime).toSeq
      assert(starts == starts.sorted)
      assert(chunks.last.endTime <= ReferenceShape.Seconds)
    }
  }

  test("on a generated reference-shaped transcript the corpus path matches the single-transcript path") {
    withTranscript(ReferenceShape.json(seed = 2)) { generated =>
      val chunks = assertCorpusParity(generated, Preprocess.PrepConfig(), Chunker.ChunkConfig())
      assert(chunks.length == ReferenceShape.Chunks)
    }
  }
}
