package graft.app

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import graft.agg.SummaryReduce
import graft.chunk.Chunker
import graft.llm.{LlmConfig, Prompts, SummarizeMap}
import graft.model.{MappedTranscript, ProcessedChunk, SummaryResult, Transcript}
import graft.prep.Preprocess
import graft.text.TextFunctions

/** The facade mirroring the reference's `TranscriptSummarizer`
  * (/root/reference/main.py:51-257): preprocess → chunk → LLM map →
  * reduce, with the same knobs. A transcript file is read as the one row
  * it is, and [[mapTranscript]] runs preprocess, chunk and the paid map
  * over it inside the task that reads it, so a transcript is one Spark job
  * (the collect) and the reduce runs on the driver. A corpus of files is N
  * rows of the same map.
  */
object Summarizer {

  case class Config(
      llm: LlmConfig = LlmConfig(),
      prep: Preprocess.PrepConfig = Preprocess.PrepConfig(),
      chunk: Chunker.ChunkConfig = Chunker.ChunkConfig(),
      map: SummarizeMap.MapConfig = SummarizeMap.MapConfig(),
      agg: SummaryReduce.AggConfig = SummaryReduce.AggConfig()
  )

  /** `processedChunks` holds the mapped rows on the driver, in
    * `chunkIndex` order: the map ran once, and there is no cache to
    * release (`unpersist` on it is a no-op). */
  case class Output(
      result: SummaryResult,
      processedChunks: Dataset[ProcessedChunk]
  )

  // Derived once per JVM, not per call.
  private lazy val MappedEncoder = Encoders.product[MappedTranscript]
  private lazy val ChunkEncoder = Encoders.product[ProcessedChunk]

  /** One transcript through the local forms of every layered stage:
    * [[Preprocess.indexLocal]], [[Preprocess.prepLocal]],
    * [[Chunker.chunkLocal]] and [[SummarizeMap.mapLocal]]. Rows stay in
    * array order, and every fold keeps `rowIdx` ascending, so nothing
    * sorts. */
  def mapTranscript(t: Transcript, cfg: Config): MappedTranscript = {
    val raw = Preprocess.indexLocal(t)
    val prepped = Preprocess.prepLocal(raw, cfg.prep)
    val chunks = Chunker.chunkLocal(prepped, cfg.chunk)
    MappedTranscript(
      // The reported segment count is POST-limit, like the reference's
      // `segments[:limit]` then `len(segments)` (main.py:130-135, :253).
      segments = cfg.prep.limitSegments.fold(raw.size)(raw.size min _).toLong,
      durationSec = Preprocess.spanLocal(prepped),
      speakers = prepped.map(_.speaker).distinct,
      chunks = SummarizeMap.mapLocal(chunks.iterator, cfg.llm, cfg.map).toVector)
  }

  private def requireOneTranscript(path: String, n: Int): Unit =
    require(n <= 1, s"$path holds $n transcripts; summarizePath summarizes one")

  def summarizePath(
      spark: SparkSession,
      inputPath: String,
      cfg: Config = Config()
  ): Output = {
    val t0 = System.nanoTime()
    cfg.prep.limitSegments.foreach(l => require(l >= 0, s"limitSegments must be >= 0, got $l"))
    val read = Preprocess.readTranscripts(spark, inputPath)
    // A directory of transcript files is refused before its map is paid.
    requireOneTranscript(inputPath, read.inputFiles.length)
    // The one Spark job. #chunks is thousands at most, so the driver
    // holds the mapped rows; every later use reads them.
    val mapped = read.mapPartitions(_.map(mapTranscript(_, cfg)))(MappedEncoder).collect()
    // A file holding a JSON array of transcripts reads as a row each.
    requireOneTranscript(inputPath, mapped.length)
    val t = mapped.headOption.getOrElse(MappedTranscript(0, 0.0, Nil, Nil))
    val rows = t.chunks
    val nChunks = rows.size.toLong
    val speakers = Preprocess.speakerList(t.speakers)
    // Metadata assembled like /root/reference/main.py:219-231.
    val metadata = cfg.agg.metadata ++ Seq(
      // Duration is rendered in h/m/s words in the metadata block
      // (/root/reference/main.py:229,324-332), not HH:MM:SS.
      "Transcript Duration" -> TextFunctions.formatDurationWords(t.durationSec),
      "Number of Speakers" -> speakers.size.toString,
      "Speakers" -> speakers.mkString(", "),
      "Number of Segments" -> t.segments.toString,
      "Number of Chunks" -> nChunks.toString
    )
    val agg = SummaryReduce.aggregate(
      spark, rows, cfg.llm, cfg.agg.copy(metadata = metadata))

    Output(
      SummaryResult(
        summary = agg.summary,
        processingTimeSec = (System.nanoTime() - t0) / 1e9,
        tokensUsed = rows.map(_.tokensUsed.toLong).sum + agg.tokensUsed,
        cost = rows.map(_.cost).sum + agg.cost,
        segments = t.segments,
        chunks = nChunks,
        provider = cfg.llm.provider,
        model = cfg.llm.model
      ),
      spark.createDataset(rows)(ChunkEncoder)
    )
  }

  /** S5: intermediate-chunk sink — ONE json file
    * `{timestamp, chunks:[{chunk_index,start_time,end_time,summary,
    * tokens_used}]}` exactly like the reference (main.py:177-201, sample
    * README.md:145-158). Chunk count == LLM-call count (small by
    * construction), so a driver-side write is the right shape; a Spark
    * directory write here would break the reference's file contract. */
  def saveChunks(chunks: Dataset[ProcessedChunk], path: String): Unit = {
    import graft.llm.MiniJson.esc
    val rows = chunks.collect().sortBy(_.chunkIndex)
    val body = rows
      .map(c =>
        s"""{"chunk_index":${c.chunkIndex},"start_time":${c.startTime},""" +
          s""""end_time":${c.endTime},"summary":"${esc(c.summary)}",""" +
          s""""tokens_used":${c.tokensUsed}}""")
      .mkString(",")
    val ts = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME
      .format(java.time.LocalDateTime.now())
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    // Migration path: an earlier build's Spark writer left a DIRECTORY of
    // part files at this path. Remove it only when it is recognizably a
    // Spark output dir — anything else is not ours to delete.
    if (java.nio.file.Files.isDirectory(p)) {
      val entries = java.nio.file.Files.list(p).iterator()
      val sparkOutput = new scala.collection.mutable.ArrayBuffer[java.nio.file.Path]
      var foreign = false
      while (entries.hasNext) {
        val f = entries.next()
        val n = f.getFileName.toString
        if (n.startsWith("part-") || n == "_SUCCESS" || n.endsWith(".crc"))
          sparkOutput += f
        else foreign = true
      }
      if (foreign)
        throw new IllegalArgumentException(
          s"$path is a directory with non-Spark-output contents; refusing to overwrite")
      sparkOutput.foreach(java.nio.file.Files.delete)
      java.nio.file.Files.delete(p)
    }
    java.nio.file.Files.writeString(
      p, s"""{"timestamp":"$ts","chunks":[$body]}""")
  }

  /** S4: summary sink (single row — plain JVM write like the reference). */
  def saveSummary(summary: String, path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, summary)
  }

  /** S6: report sink (/root/reference/main.py:392-397). */
  def saveReport(result: SummaryResult, path: String): Unit = {
    def esc(s: String) = graft.llm.MiniJson.esc(s)
    val json =
      s"""{"processing_time_sec":${result.processingTimeSec},""" +
        s""""tokens_used":${result.tokensUsed},"cost":${result.cost},""" +
        s""""segments":${result.segments},"chunks":${result.chunks},""" +
        s""""provider":"${esc(result.provider)}","model":"${esc(result.model)}"}"""
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, json)
  }
}

/** CLI mirroring the reference's argparse surface
  * (/root/reference/main.py:406-477). */
object Main {
  private def parseArgs(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        val key = a.drop(2)
        if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
          m(key) = args(i + 1); i += 2
        } else { m(key) = "true"; i += 1 }
      } else i += 1
    }
    m.toMap
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    if (opts.contains("requests-per-task"))
      throw new IllegalArgumentException("--requests-per-task was removed: " +
        "--max-concurrent sets the number of LLM requests in flight per task")
    val input = opts.getOrElse("input",
      sys.error("--input <transcript.json> is required"))
    val spark = SparkSession.builder()
      .master(opts.getOrElse("master", "local[*]"))
      .appName("graft-summarizer")
      .config("spark.sql.shuffle.partitions",
        opts.getOrElse("shuffle-partitions", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      def readFile(p: String): String =
        new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8").trim
      val cfg = Summarizer.Config(
        llm = {
          val provider = opts.getOrElse("provider", "mock")
          // Key selection is per provider (the reference picks the matching
          // env var and falls back to mock when absent,
          // /root/reference/llm_executor.py:104-106).
          val key = provider.toLowerCase match {
            case "openai"    => sys.env.get("OPENAI_API_KEY")
            case "anthropic" => sys.env.get("ANTHROPIC_API_KEY")
            case _           => None
          }
          LlmConfig(
            provider = provider,
            model = opts.getOrElse("model", "mock-model"),
            apiKey = key,
            maxTokens = opts.getOrElse("max-response-tokens", "1000").toInt
          )
        },
        prep = Preprocess.PrepConfig(
          mergeSameSpeaker = !opts.contains("no-merge"),
          maxSegmentDuration =
            opts.get("max-segment-duration").map(_.toDouble).orElse(Some(120.0)),
          preserveTimestamps = !opts.contains("no-timestamps"),
          timeIntervalSeconds = opts.get("time-interval").map(_.toDouble),
          limitSegments = opts.get("limit-segments").map(_.toInt)
        ),
        chunk = Chunker.ChunkConfig(
          maxTokensPerChunk = opts.getOrElse("max-tokens-per-chunk", "4000").toInt
        ),
        map = SummarizeMap.MapConfig(
          promptTemplate = opts.get("prompt-file").map(readFile)
            .map(Prompts.ensureTranscriptPlaceholder)
            .getOrElse(Prompts.defaultMapPrompt),
          systemPrompt = opts.get("system-prompt-file").map(readFile),
          concurrency = opts.getOrElse("max-concurrent", "5").toInt
        ),
        agg = SummaryReduce.AggConfig(
          // Hierarchical is the reference's DEFAULT, disabled via
          // --no-hierarchical (/root/reference/main.py:351,446).
          hierarchical = !opts.contains("no-hierarchical"),
          promptTemplate = opts.get("aggregator-prompt-file").map(readFile)
        )
      )
      val out = Summarizer.summarizePath(spark, input, cfg)
      // --quiet suppresses the console block only; file sinks still write
      // (/root/reference/main.py:370-379,470).
      val quiet = opts.contains("quiet") || opts.contains("q")
      opts.get("save-chunks").foreach(p => Summarizer.saveChunks(out.processedChunks, p))
      opts.get("report").foreach(p => Summarizer.saveReport(out.result, p))
      opts.get("output") match {
        case Some(p) => Summarizer.saveSummary(out.result.summary, p)
        case None    => if (!quiet) println(out.result.summary)
      }
      if (!quiet) println(
        f"\n[graft] segments=${out.result.segments} chunks=${out.result.chunks} " +
          f"tokens=${out.result.tokensUsed} cost=$$${out.result.cost}%.4f " +
          f"time=${out.result.processingTimeSec}%.1fs")
    } finally spark.stop()
  }
}
