package graft.app

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.SparkSuite
import graft.agg.SummaryReduce
import graft.chunk.Chunker
import graft.llm.{LlmConfig, MockLlmClient, Prompts, SummarizeMap}
import graft.model.{Chunk, ProcessedChunk}
import graft.prep.Preprocess
import graft.text.TextFunctions
import org.apache.spark.sql.Dataset

/** Slice-0 e2e (SURVEY §7.2-1): JSON → preprocess → chunk → mock LLM map →
  * reduce, fully deterministic through the mock client. */
class PipelineSpec extends SparkSuite {

  test("full pipeline over the multi-speaker fixture is deterministic") {
    def runOnce(): (String, Long, Long) = {
      val out = Summarizer.summarizePath(
        spark,
        resourcePath("mini_multi_speaker.json"),
        Summarizer.Config(
          chunk = Chunker.ChunkConfig(maxTokensPerChunk = 300, contextTokens = 50)
        )
      )
      (out.result.summary, out.result.chunks, out.result.tokensUsed)
    }
    val (s1, c1, t1) = runOnce()
    val (s2, c2, t2) = runOnce()
    assert(s1 == s2 && c1 == c2 && t1 == t2)
    assert(c1 > 1, "fixture should produce multiple chunks")
    assert(s1.contains("MOCK SUMMARY"))
    // Map tokens: mock charges the reference's fixed 100/chunk; reduce adds
    // one more call.
    assert(t1 == c1 * 100 + 100)
  }

  test("mapped chunks carry summaries in chunk order with usage") {
    val out = Summarizer.summarizePath(
      spark,
      resourcePath("mini_multi_speaker.json"),
      Summarizer.Config(
        chunk = Chunker.ChunkConfig(maxTokensPerChunk = 300, contextTokens = 50)
      )
    )
    val chunks = out.processedChunks.collect()
    assert(chunks.map(_.chunkIndex).toSeq == chunks.indices)
    assert(chunks.forall(_.summary.nonEmpty))
    assert(chunks.forall(_.tokensUsed == 100))
    assert(chunks.forall(_.error.isEmpty))
    assert(chunks.forall(_.totalChunks == chunks.length))
  }

  test("hierarchical reduce engages above the token budget") {
    import spark.implicits._
    val out = Summarizer.summarizePath(
      spark,
      resourcePath("oversized_segment.json"),
      Summarizer.Config(
        chunk = Chunker.ChunkConfig(maxTokensPerChunk = 400, contextTokens = 50),
        // Tiny batch budget forces the two-level tree even with short mock
        // summaries.
        agg = SummaryReduce.AggConfig(maxTokensPerBatch = 120, reservedTokens = 20)
      )
    )
    assert(out.result.chunks > 3)
    assert(out.result.summary.contains("MOCK SUMMARY"))
    // Tree reduce spends more than the single final call would.
    assert(out.result.tokensUsed > out.result.chunks * 100 + 100)
  }

  test("intra-partition concurrency produces identical results") {
    val raw = Preprocess.loadTranscript(spark, resourcePath("mini_multi_speaker.json"))
    val prepped = Preprocess.run(spark, raw)
    val chunks = Chunker.run(spark, prepped,
      Chunker.ChunkConfig(maxTokensPerChunk = 300, contextTokens = 50))
    def summaries(in: Dataset[Chunk], concurrency: Int): Seq[(Int, String)] =
      SummarizeMap.run(spark, in, LlmConfig(),
          SummarizeMap.MapConfig(concurrency = concurrency))
        .collect().map(c => c.chunkIndex -> c.summary).toSeq.sortBy(_._1)
    val sequential = summaries(chunks, 1)
    assert(sequential.size > 1)
    // One window in one task, then windows in three tasks at once.
    for (in <- Seq(chunks, chunks.repartition(3))) {
      assert(summaries(in, 1) == sequential)
      assert(summaries(in, 4) == sequential)
    }
  }

  /** An OpenAI-shaped local provider that records every request body and
    * the peak number of requests open at once. The reply is a digest of
    * the body, so distinct prompts get distinct summaries; replies are
    * short, so the reduce is one direct call. `holdMs` and `status` give
    * each request's hold time and HTTP status from its body; a failed
    * request is answered `boom`. */
  private def withProvider(holdMs: String => Long, status: String => Int)(
      f: (LlmConfig, () => Seq[String], () => Int) => Unit): Unit = {
    val bodies = new ConcurrentLinkedQueue[String]()
    val open = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    val handlers = Executors.newCachedThreadPool()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(handlers)
    server.createContext("/", { (ex: HttpExchange) =>
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      bodies.add(body)
      peak.accumulateAndGet(open.incrementAndGet(), (a, b) => math.max(a, b))
      // Counted as closed before the reply goes out, so a request the
      // client sends on receiving it never overlaps this one in the count.
      try Thread.sleep(holdMs(body)) finally open.decrementAndGet()
      val code = status(body)
      val reply =
        if (code != 200) "boom"
        else
          s"""{"choices":[{"message":{"role":"assistant","content":"${replyTo(body)}"}}],""" +
            """"usage":{"prompt_tokens":10,"completion_tokens":5}}"""
      val bytes = reply.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try {
      val llm = LlmConfig(provider = "openai", model = "gpt-4", apiKey = Some("k"),
        endpoint = Some(s"http://127.0.0.1:${server.getAddress.getPort}"))
      f(llm, () => { val b = bodies.asScala.toSeq; bodies.clear(); b }, () => peak.get())
    } finally {
      server.stop(0)
      handlers.shutdownNow()
    }
  }

  private def replyTo(body: String): String =
    "summary " + java.security.MessageDigest.getInstance("MD5")
      .digest(body.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString

  private def withRecordingProvider(f: (LlmConfig, () => Seq[String]) => Unit): Unit =
    withProvider(_ => 0L, _ => 200)((llm, drain, _) => f(llm, drain))

  // Map requests carry the (default, empty) map system prompt; reduce
  // requests carry the reduce system prompt.
  private def isMapRequest(body: String): Boolean =
    body.contains(""""role":"system","content":""}""")

  test("every map prompt is paid once, in the pipeline and under a bare reduce") {
    val chunkCfg = Chunker.ChunkConfig(maxTokensPerChunk = 300, contextTokens = 50)
    withRecordingProvider { (llm, drain) =>
      val out = Summarizer.summarizePath(
        spark, resourcePath("mini_multi_speaker.json"),
        Summarizer.Config(llm = llm, chunk = chunkCfg))
      val sent = drain()
      val mapBodies = sent.filter(isMapRequest)
      val (nSent, nMap) = (sent.size, mapBodies.size)
      val reduceCalls = nSent - nMap
      assert(out.result.chunks > 1)
      assert(reduceCalls == 1)
      assert(nSent == out.result.chunks + reduceCalls)
      assert(mapBodies.distinct.size == nMap)
      assert(out.result.tokensUsed == 15L * nSent)

      // The reduce over an uncached map evaluates it once.
      val raw = Preprocess.loadTranscript(spark, resourcePath("mini_multi_speaker.json"))
      val chunks = Chunker.run(spark, Preprocess.run(spark, raw), chunkCfg)
      val agg = SummaryReduce.aggregate(spark, SummarizeMap.run(spark, chunks, llm), llm)
      val again = drain().filter(isMapRequest)
      val nAgain = again.size
      assert(agg.chunksAggregated == out.result.chunks)
      assert(nAgain == out.result.chunks)
      assert(again.distinct.size == nAgain)
      assert(again.toSet == mapBodies.toSet, "the bare map sent other prompts")
    }
  }

  test("the final reduce request carries the transcript's metadata") {
    import graft.llm.MiniJson.esc
    val path = resourcePath("mini_multi_speaker.json")
    val chunkCfg = Chunker.ChunkConfig(maxTokensPerChunk = 300, contextTokens = 50)
    val preps = Seq(
      Preprocess.PrepConfig(),
      Preprocess.PrepConfig(timeIntervalSeconds = Some(60)),
      Preprocess.PrepConfig(limitSegments = Some(10)),
      Preprocess.PrepConfig(limitSegments = Some(0)))
    withRecordingProvider { (llm, drain) =>
      for (prep <- preps) {
        val out = Summarizer.summarizePath(spark, path,
          Summarizer.Config(llm = llm, prep = prep, chunk = chunkCfg)).result
        val sent = drain()
        val (mapBodies, reduceBodies) = sent.partition(isMapRequest)
        val nRaw = Preprocess.loadTranscript(spark, path).count()
        val processed = Preprocess.run(spark, Preprocess.loadTranscript(spark, path), prep)
        val nSegments = prep.limitSegments.fold(nRaw)(l => math.min(nRaw, l.toLong))
        val (duration, _) = Preprocess.transcriptDuration(processed)
        val speakers = Preprocess.extractSpeakers(processed)
        assert(out.segments == nSegments, s"$prep")
        assert(out.chunks == mapBodies.size, s"$prep")
        if (prep.limitSegments.contains(0)) {
          assert(nSegments == 0 && out.chunks == 0 && out.summary == "")
          assert(sent.isEmpty)
        } else {
          val block = Prompts.metadataBlock(Seq(
            "Transcript Duration" -> TextFunctions.formatDurationWords(duration),
            "Number of Speakers" -> speakers.size.toString,
            "Speakers" -> speakers.mkString(", "),
            "Number of Segments" -> nSegments.toString,
            "Number of Chunks" -> out.chunks.toString))
          assert(out.chunks > 0 && duration > 0 && speakers.nonEmpty, s"$prep")
          assert(reduceBodies.size == 1, s"$prep")
          assert(reduceBodies.head.contains(esc(block)), s"$prep: no $block")
        }
      }
      // The interval fold's speakers are joined lists, and the limit cuts.
      val intervals = Preprocess.run(spark, Preprocess.loadTranscript(spark, path), preps(1))
      assert(Preprocess.extractSpeakers(intervals).exists(_.contains(", ")))
      assert(Preprocess.loadTranscript(spark, path).count() > 10)
    }
  }

  test("a transcript keeps concurrency map requests in flight above the slot count") {
    val concurrency = spark.sparkContext.defaultParallelism + 1
    // 60 segments of about 100 tokens, two speakers in turn.
    val words = "the quarterly numbers were strong across every region this year " * 6
    val segments = (0 until 60).map { i =>
      s"""{"start":${30.0 * i},"end":${30.0 * i + 29},"text":"$words $i",""" +
        s""""speaker":"${if (i % 2 == 0) "ALICE" else "BOB"}"}"""
    }
    val input = java.nio.file.Files.createTempFile("inflight", ".json")
    try {
      java.nio.file.Files.writeString(input, segments.mkString("""{"segments":[""", ",", "]}"))
      withProvider(_ => 150L, _ => 200) { (llm, drain, peak) =>
        val out = Summarizer.summarizePath(spark, input.toString,
          Summarizer.Config(llm = llm,
            chunk = Chunker.ChunkConfig(maxTokensPerChunk = 300, contextTokens = 50),
            map = SummarizeMap.MapConfig(concurrency = concurrency)))
        val nMap = drain().count(isMapRequest)
        assert(out.result.chunks >= 2 * concurrency)
        assert(nMap == out.result.chunks)
        assert(peak() == concurrency)
      }
    } finally java.nio.file.Files.delete(input)
  }

  test("level-1 batch outputs reach the final combine in batch order, errors as text") {
    import spark.implicits._
    val batchNo = """Batch: (\d+)/\d+""".r
    def batchOf(body: String): Option[Int] =
      batchNo.findFirstMatchIn(body).map(_.group(1).toInt)
    val failing = 2
    // Later batches are answered faster, so they finish first.
    withProvider(b => batchOf(b).fold(0L)(i => 40L * (10 - i)),
        b => if (batchOf(b).contains(failing)) 500 else 200) { (llm, drain, _) =>
      val rows = (0 until 12).map { i =>
        ProcessedChunk(i, 10.0 * i, 10.0 * i + 10, "t", "t", 10, Seq("A"), 12,
          100.0 * i / 12, s"point $i" + " word" * 30, 15, 0.0, None)
      }
      val agg = SummaryReduce.aggregate(spark, spark.createDataset(rows.reverse),
        llm.copy(maxRetries = 1, retryDelaySec = 0),
        SummaryReduce.AggConfig(maxTokensPerBatch = 120, reservedTokens = 20))
      val sent = drain()
      val (batches, combines) = sent.partition(batchOf(_).nonEmpty)
      val nb = batches.size
      assert(nb >= 3)
      assert(batches.flatMap(batchOf).sorted == (1 to nb))
      assert(sent.size == nb + 1)
      assert(agg.chunksAggregated == 12)
      val outputs = batches.sortBy(batchOf(_).get).map { b =>
        if (batchOf(b).contains(failing))
          "[Error aggregating summaries: java.lang.RuntimeException: OpenAI HTTP 500: boom]"
        else replyTo(b)
      }
      val at = outputs.map(combines.head.indexOf(_))
      assert(at.forall(_ >= 0), s"batch outputs missing from the final combine: $at")
      assert(at == at.sorted, s"batch outputs out of order in the final combine: $at")
    }
  }

  test("mock reduce output is a pure function of its inputs") {
    val client = new MockLlmClient(LlmConfig())
    val r1 = SummaryReduce.singleReduce(
      client, Seq("alpha", "beta"), None, Seq("k" -> "v"))
    val r2 = SummaryReduce.singleReduce(
      client, Seq("alpha", "beta"), None, Seq("k" -> "v"))
    val r3 = SummaryReduce.singleReduce(
      client, Seq("alpha", "GAMMA"), None, Seq("k" -> "v"))
    assert(r1.content == r2.content)
    assert(r1.content != r3.content)
  }

  test("video-editor template routes to the flexible system prompt") {
    val client = new MockLlmClient(LlmConfig())
    val template = "TIMELINE SUMMARY requested.\n{summaries}"
    val r = SummaryReduce.singleReduce(client, Seq("s1"), Some(template), Nil)
    val rDefault = SummaryReduce.singleReduce(client, Seq("s1"), None, Nil)
    // Different system prompt + template → different deterministic digest.
    assert(r.content != rDefault.content)
  }

  test("batch size follows the reference formula") {
    val summaries = Seq.fill(50)("x" * 400) // 100 tokens each
    val cfg = SummaryReduce.AggConfig()
    // (6000-1000)/100 = 50 → capped at 10.
    assert(SummaryReduce.batchSize(summaries, cfg) == 10)
    val small = Seq.fill(3)("x" * 40000) // 10000 tokens each
    assert(SummaryReduce.batchSize(small, cfg) == 1)
  }

  test("greeting scrubber drops leading greeting lines only") {
    assert(Prompts.scrubGreeting("Hello there!\n\nHi again,\n# Summary\nBody")
      == "# Summary\nBody")
    assert(Prompts.scrubGreeting("# Summary\nHello inline stays")
      == "# Summary\nHello inline stays")
    // All-greeting reply returned unchanged (reference keeps the original
    // when nothing survives the scrub).
    assert(Prompts.scrubGreeting("Hey!\nHi!") == "Hey!\nHi!")
  }

  test("prompt fill is literal (no crash on stray braces)") {
    val t = "Summarize {transcript} with {weird} braces {}"
    val filled = Prompts.fill(t, "transcript", "BODY")
    assert(filled == "Summarize BODY with {weird} braces {}")
  }

  test("map prompt placeholder is auto-appended when missing") {
    assert(Prompts.ensureTranscriptPlaceholder("no placeholder")
      .endsWith("\n\n{transcript}"))
  }
}
