package graft.app

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.SparkSuite
import graft.agg.SummaryReduce
import graft.chunk.Chunker
import graft.llm.SummarizeMap
import graft.model.ProcessedChunk
import graft.prep.Preprocess
import graft.text.TextFunctions

/** The summarizer's Spark jobs, inputs at the edge of the contract,
  * driver-side sinks and CLI surface. */
class SummarizerSpec extends SparkSuite {

  /** `f`'s result, and the Spark jobs it starts from this thread and the
    * threads it spawns. */
  private def withJobCount[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val (key, tag) = ("graft.test.jobTag", java.util.UUID.randomUUID().toString)
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag)) jobs.incrementAndGet()
    }
    BusDrain.drain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    val result =
      try f
      finally {
        sc.setLocalProperty(key, null)
        BusDrain.drain(sc)
        sc.removeSparkListener(listener)
      }
    (result, jobs.get)
  }

  test("one summarizePath call runs one Spark job, under a direct and a two-level reduce") {
    val chunk = Chunker.ChunkConfig(maxTokensPerChunk = 300, contextTokens = 50)
    val direct = Summarizer.Config(chunk = chunk)
    val twoLevel = direct.copy(
      agg = SummaryReduce.AggConfig(maxTokensPerBatch = 40, reservedTokens = 10))
    for ((cfg, levels) <- Seq(direct -> 1, twoLevel -> 2)) {
      val (result, jobs) = withJobCount(Summarizer.summarizePath(
        spark, resourcePath("mini_multi_speaker.json"), cfg).result)
      assert(result.chunks > 1)
      // The mock charges 100 tokens a call: one reduce call, or batches
      // and a final combine.
      assert((result.tokensUsed > result.chunks * 100 + 100) == (levels == 2))
      assert(jobs == 1, s"$levels-level reduce")
    }
  }

  test("an empty segments array summarizes to nothing, with no LLM call") {
    withTranscript("""{"segments": []}""") { path =>
      val out = Summarizer.summarizePath(spark, path)
      assert(out.result.segments == 0)
      assert(out.result.chunks == 0)
      assert(out.result.summary == "")
      assert(out.result.tokensUsed == 0)
    }
  }

  test("segments without a speaker key summarize as one unnamed speaker") {
    val segs = (0 until 3).map(i => s"""{"start": ${10 * i}, "end": ${10 * i + 9}, "text": "part $i"}""")
    withTranscript(segs.mkString("""{"segments": [""", ",", "]}")) { path =>
      val out = Summarizer.summarizePath(spark, path)
      assert(out.result.segments == 3)
      assert(out.result.chunks == 1)
      assert(out.result.summary.contains("MOCK SUMMARY"))
    }
  }

  test("summarizePath matches the layered Dataset stages under every prep, chunk and map shape") {
    val base = Summarizer.Config(
      chunk = Chunker.ChunkConfig(maxTokensPerChunk = 300, contextTokens = 50))
    val configs = Seq(
      base,
      base.copy(prep = Preprocess.PrepConfig(mergeSameSpeaker = false)),
      base.copy(prep = Preprocess.PrepConfig(timeIntervalSeconds = Some(60))),
      base.copy(prep = Preprocess.PrepConfig(limitSegments = Some(10))),
      base.copy(prep = Preprocess.PrepConfig(limitSegments = Some(0))),
      base.copy(prep = Preprocess.PrepConfig(preserveTimestamps = false)),
      base.copy(map = SummarizeMap.MapConfig(useContextText = false)))
    for (fixture <- Seq("mini_multi_speaker.json", "oversized_segment.json"); cfg <- configs) {
      val path = resourcePath(fixture)
      val out = Summarizer.summarizePath(spark, path, cfg)
      val raw = Preprocess.loadTranscript(spark, path)
      val processed = Preprocess.run(spark, raw, cfg.prep)
      val mapped = SummarizeMap.run(spark, Chunker.run(spark, processed, cfg.chunk), cfg.llm, cfg.map)
      val rows = mapped.collect().sortBy(_.chunkIndex).toSeq
      val nRaw = raw.count()
      val nSegments = cfg.prep.limitSegments.fold(nRaw)(l => math.min(nRaw, l.toLong))
      val (duration, _) = Preprocess.transcriptDuration(processed)
      val speakers = Preprocess.extractSpeakers(processed)
      val agg = SummaryReduce.aggregate(spark, mapped, cfg.llm, cfg.agg.copy(metadata = Seq(
        "Transcript Duration" -> TextFunctions.formatDurationWords(duration),
        "Number of Speakers" -> speakers.size.toString,
        "Speakers" -> speakers.mkString(", "),
        "Number of Segments" -> nSegments.toString,
        "Number of Chunks" -> rows.size.toString)))
      val what = s"$fixture $cfg"
      assert(out.result.summary == agg.summary, what)
      assert(out.result.tokensUsed == rows.map(_.tokensUsed.toLong).sum + agg.tokensUsed, what)
      assert(out.result.segments == nSegments, what)
      assert(out.result.chunks == rows.size, what)
      assert(out.processedChunks.collect().toSeq == rows, what)
    }
  }

  test("a directory of two transcripts fails with an error naming the path and the count") {
    val dir = Files.createTempDirectory("transcripts")
    val files = Seq("a.json", "b.json").map(dir.resolve)
    try {
      files.foreach(Files.writeString(_,
        """{"segments": [{"start": 0, "end": 1, "text": "hello", "speaker": "A"}]}"""))
      val e = intercept[IllegalArgumentException](
        Summarizer.summarizePath(spark, dir.toString))
      assert(e.getMessage.contains(dir.toString) && e.getMessage.contains("2 transcripts"),
        e.getMessage)
    } finally {
      files.foreach(Files.deleteIfExists)
      Files.delete(dir)
    }
  }

  test("a negative limitSegments is refused before any job") {
    val cfg = Summarizer.Config(prep = Preprocess.PrepConfig(limitSegments = Some(-1)))
    val (e, jobs) = withJobCount(intercept[IllegalArgumentException](
      Summarizer.summarizePath(spark, resourcePath("mini_multi_speaker.json"), cfg)))
    assert(e.getMessage.contains("limitSegments"))
    assert(jobs == 0)
  }

  test("a null start or a null segment fails the call with an error saying so") {
    val broken = Seq(
      """{"segments": [{"start": null, "end": 1, "text": "a", "speaker": "A"}]}""" ->
        "NOT_NULL_ASSERT_VIOLATION",
      """{"segments": [{"start": 0, "end": 1, "text": "a"}, null]}""" ->
        "segment 1 of the transcript is null")
    for ((json, expected) <- broken) withTranscript(json) { path =>
      val e = intercept[Exception](Summarizer.summarizePath(spark, path))
      val messages = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString("\n")
      assert(messages.contains(expected), messages)
    }
  }

  test("saveChunks writes the chunks in chunk order with the reference's fields") {
    import spark.implicits._
    val rows = (0 until 4).map { i =>
      ProcessedChunk(i, 10.0 * i, 10.0 * i + 10, "t", "t", 10, Seq("A"), 4,
        25.0 * i, s"summary \"$i\"", 15 + i, 0.0, None)
    }
    val dir = Files.createTempDirectory("chunks")
    val path = dir.resolve("chunks.json")
    try {
      Summarizer.saveChunks(spark.createDataset(rows.reverse), path.toString)
      val written = Files.readString(path)
      val expected = rows.map { c =>
        s"""{"chunk_index":${c.chunkIndex},"start_time":${c.startTime},""" +
          s""""end_time":${c.endTime},"summary":"summary \\"${c.chunkIndex}\\"",""" +
          s""""tokens_used":${c.tokensUsed}}"""
      }.mkString("""{"timestamp":"TS","chunks":[""", ",", "]}")
      assert(written.replaceFirst(""""timestamp":"[^"]*"""", """"timestamp":"TS"""") == expected)
      val indices = """"chunk_index":(\d+)""".r.findAllMatchIn(written).map(_.group(1).toInt).toSeq
      assert(indices == (0 until 4))
    } finally {
      Files.deleteIfExists(path)
      Files.delete(dir)
    }
  }

  test("the CLI rejects the removed --requests-per-task flag") {
    val e = intercept[IllegalArgumentException](
      Main.main(Array("--input", "t.json", "--requests-per-task", "4")))
    assert(e.getMessage.contains("--requests-per-task"))
    assert(e.getMessage.contains("--max-concurrent"))
  }
}
