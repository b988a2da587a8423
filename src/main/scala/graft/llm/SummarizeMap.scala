package graft.llm

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model.{Chunk, ProcessedChunk}

/** M1: the parallel LLM map (SURVEY.md §2.4 —
  * /root/reference/llm_executor.py:110-230).
  *
  * Spark-first shape: `concurrency` is the number of requests in flight
  * per task, not a partition count. [[mapLocal]] runs a task's chunks
  * through an [[Inflight]] window, so the HTTP wait holds no extra Spark
  * task slots. The summarizer maps a transcript's chunks inside the task
  * that reads its one row, so a transcript has exactly `concurrency`
  * requests in flight on any core count (the reference's semaphore); a
  * corpus is N transcript rows of the same map, up to `concurrency` per
  * running task. [[run]] applies the same [[mapLocal]] to the layered
  * stage's one partition (`Chunker.run`). The client, its retries, and error-as-row semantics
  * live INSIDE `mapPartitions` so a flaky API call never triggers a Spark
  * task retry of the whole partition. Consumers restore chunk order by
  * `chunkIndex` after collecting, the engine-wide replacement for the
  * reference's list re-sort (:156-158). A global sort here would run the
  * map twice, once for the range sampler and once for the shuffle, and
  * send every paid request twice.
  */
object SummarizeMap {

  case class MapConfig(
      promptTemplate: String = Prompts.defaultMapPrompt,
      systemPrompt: Option[String] = None,
      concurrency: Int = 5,
      useContextText: Boolean = true
  )

  /** The `{summary_type}` the map prompt is filled with: the reference's
    * default, which no caller changes. */
  private val SummaryType = "comprehensive"

  def run(
      spark: SparkSession,
      chunks: Dataset[Chunk],
      llmCfg: LlmConfig,
      cfg: MapConfig = MapConfig()
  ): Dataset[ProcessedChunk] = {
    import spark.implicits._
    chunks.mapPartitions(it => mapLocal(it, llmCfg, cfg))
  }

  /** The map over one task's chunks: each chunk's prompt through one
    * client, `cfg.concurrency` requests in flight, results in input
    * order. [[run]] applies it per partition and the summarizer per
    * transcript. */
  def mapLocal(
      chunks: Iterator[Chunk],
      llmCfg: LlmConfig,
      cfg: MapConfig
  ): Iterator[ProcessedChunk] = {
    val template = Prompts.ensureTranscriptPlaceholder(cfg.promptTemplate)
    val system = cfg.systemPrompt.getOrElse("")
    // One client, shared by the window's threads: the HTTP client is
    // thread-safe and reuses connections.
    val client = LlmClient.forConfig(llmCfg)
    Inflight.ordered(chunks, cfg.concurrency) { chunk =>
      val body = if (cfg.useContextText) chunk.textWithContext else chunk.text
      val user = Prompts.fill(
        Prompts.fill(template, "transcript", body),
        "summary_type",
        SummaryType
      )
      toProcessed(chunk, client.completeWithRetry(system, user))
    }
  }

  private def toProcessed(
      chunk: Chunk,
      result: Either[String, LlmResponse]
  ): ProcessedChunk = {
    val (summary, tokensUsed, cost, error) = result match {
      case Right(r) => (r.content, r.promptTokens + r.completionTokens, r.cost, None)
      // Error-as-data (the reference's `llm_executor.py:220-225`): the
      // pipeline keeps going; the row carries its failure.
      case Left(err) => (s"[Error processing this chunk: $err]", 0, 0.0, Some(err))
    }
    ProcessedChunk(
      chunkIndex = chunk.chunkIndex, startTime = chunk.startTime,
      endTime = chunk.endTime, text = chunk.text,
      textWithContext = chunk.textWithContext, tokenCount = chunk.tokenCount,
      speakers = chunk.speakers, totalChunks = chunk.totalChunks,
      positionPercentage = chunk.positionPercentage,
      summary = summary, tokensUsed = tokensUsed, cost = cost, error = error)
  }
}
