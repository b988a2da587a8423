package graft.llm

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model.{Chunk, ProcessedChunk}

/** M1: the parallel LLM map (SURVEY.md §2.4 —
  * /root/reference/llm_executor.py:110-230).
  *
  * Spark-first shape: concurrency = partition count (the reference's
  * asyncio-semaphore cap becomes `repartition(k)`); the client, its
  * retries, and error-as-row semantics live INSIDE `mapPartitions` so a
  * flaky API call never triggers a Spark task retry of the whole
  * partition. Rows come back in no particular order: consumers restore
  * it by `chunkIndex` after collecting, the engine-wide replacement for
  * the reference's list re-sort (:156-158). A global sort here would run
  * the map twice, once for the range sampler and once for the shuffle,
  * and send every paid request twice.
  *
  * At 100 TB scale this stage is pure fan-out: chunks are independent
  * rows, so throughput scales linearly with executors; the only knob that
  * matters is in-flight-requests-per-executor (partition count ×
  * executors), exactly the semaphore the reference caps per-process.
  */
object SummarizeMap {

  case class MapConfig(
      promptTemplate: String = Prompts.defaultMapPrompt,
      systemPrompt: Option[String] = None,
      summaryType: String = "comprehensive",
      concurrency: Int = 5,
      useContextText: Boolean = true,
      /** In-flight requests per task. 1 = sequential (parity with one
        * request per semaphore slot); >1 overlaps the HTTP wait inside a
        * partition — total in-flight = concurrency × this. */
      requestsPerTask: Int = 1
  )

  def run(
      spark: SparkSession,
      chunks: Dataset[Chunk],
      llmCfg: LlmConfig,
      cfg: MapConfig = MapConfig()
  ): Dataset[ProcessedChunk] = {
    import spark.implicits._
    val template = Prompts.ensureTranscriptPlaceholder(cfg.promptTemplate)
    val system = cfg.systemPrompt.getOrElse("")
    val summaryType = cfg.summaryType
    val useContext = cfg.useContextText
    val parts = math.max(1, cfg.concurrency)
    val perTask = math.max(1, cfg.requestsPerTask)
    chunks
      .repartition(parts)
      .mapPartitions { it =>
        // One client per partition (per task): connection reuse without
        // sharing mutable state across threads. The LLM call is pure I/O
        // wait, so overlapping `perTask` requests on a small pool is the
        // JVM analog of the reference's asyncio semaphore
        // (/root/reference/llm_executor.py:132-147).
        val client = LlmClient.forConfig(llmCfg)
        val process: Chunk => ProcessedChunk = { chunk =>
          val body = if (useContext) chunk.textWithContext else chunk.text
          val user = Prompts.fill(
            Prompts.fill(template, "transcript", body),
            "summary_type",
            summaryType
          )
          toProcessed(chunk, client.completeWithRetry(system, user))
        }
        if (perTask == 1) it.map(process)
        else {
          // Daemon threads + a task-completion hook: if a downstream
          // operator stops early (limit/take/exception) the iterator is
          // never drained, so shutdown-on-exhaustion alone would leak the
          // pool for the executor's lifetime.
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            perTask,
            (r: Runnable) => {
              val t = new Thread(r)
              t.setDaemon(true)
              t
            }
          )
          Option(org.apache.spark.TaskContext.get()).foreach(
            _.addTaskCompletionListener[Unit](_ => pool.shutdownNow())
          )
          val done = new java.util.concurrent.atomic.AtomicBoolean(false)
          val out = it
            .grouped(perTask)
            .flatMap { batch =>
              val futures = batch.map(c =>
                pool.submit(new java.util.concurrent.Callable[ProcessedChunk] {
                  override def call(): ProcessedChunk = process(c)
                }))
              futures.map(_.get())
            }
          // Shut the pool down when the iterator is exhausted.
          new Iterator[ProcessedChunk] {
            override def hasNext: Boolean = {
              val h = out.hasNext
              if (!h && done.compareAndSet(false, true)) pool.shutdown()
              h
            }
            override def next(): ProcessedChunk = out.next()
          }
        }
      }
  }

  private def toProcessed(
      chunk: Chunk,
      result: Either[String, LlmResponse]
  ): ProcessedChunk =
    result match {
            case Right(r) =>
              ProcessedChunk(
                chunkIndex = chunk.chunkIndex,
                startTime = chunk.startTime,
                endTime = chunk.endTime,
                text = chunk.text,
                textWithContext = chunk.textWithContext,
                tokenCount = chunk.tokenCount,
                speakers = chunk.speakers,
                totalChunks = chunk.totalChunks,
                positionPercentage = chunk.positionPercentage,
                processingIndex = chunk.chunkIndex,
                summary = r.content,
                tokensUsed = r.promptTokens + r.completionTokens,
                cost = r.cost,
                error = None
              )
            case Left(err) =>
              // Error-as-data (/root/reference/llm_executor.py:220-225):
              // the pipeline keeps going; the row carries its failure.
              ProcessedChunk(
                chunkIndex = chunk.chunkIndex,
                startTime = chunk.startTime,
                endTime = chunk.endTime,
                text = chunk.text,
                textWithContext = chunk.textWithContext,
                tokenCount = chunk.tokenCount,
                speakers = chunk.speakers,
                totalChunks = chunk.totalChunks,
                positionPercentage = chunk.positionPercentage,
                processingIndex = chunk.chunkIndex,
                summary = s"[Error processing this chunk: $err]",
                tokensUsed = 0,
                cost = 0.0,
                error = Some(err)
              )
    }
}
