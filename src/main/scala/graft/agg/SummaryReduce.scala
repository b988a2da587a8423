package graft.agg

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.llm.{Inflight, LlmClient, LlmConfig, Prompts}
import graft.model.ProcessedChunk
import graft.text.TextFunctions

/** A6/A7/A8: the summary reduce (SURVEY.md §2.3 —
  * /root/reference/result_aggregator.py).
  *
  * Shape: the reference's hierarchical reduce is a fixed two-level tree —
  * batches of ordered summaries reduced concurrently, then one final
  * combine. The batches are already on the driver after the map's
  * collect, so level 1 runs them through the driver's [[Inflight]] window
  * (one LLM call per batch, in flight together like the reference's
  * asyncio.gather) and level 2 is a single driver-side call; neither
  * runs a Spark job. Batch ids are a deterministic function of chunk
  * order and the window yields in batch order, so results are
  * reproducible regardless of which call finishes first.
  */
object SummaryReduce {

  case class AggConfig(
      maxTokensPerBatch: Int = 6000,
      reservedTokens: Int = 1000,
      hierarchical: Boolean = true,
      promptTemplate: Option[String] = None,
      metadata: Seq[(String, String)] = Seq.empty
  )

  case class AggResult(
      summary: String,
      chunksAggregated: Long,
      tokensUsed: Long,
      cost: Double
  )

  /** One reduce call over an ordered batch of summaries — A6
    * (/root/reference/result_aggregator.py:111-286). Pure function of
    * (summaries, template, metadata) + the client. */
  def singleReduce(
      client: LlmClient,
      summaries: Seq[String],
      promptTemplate: Option[String],
      metadata: Seq[(String, String)]
  ): graft.llm.LlmResponse = {
    val metadataStr = Prompts.metadataBlock(metadata)
    val framed = Prompts.frameSummaries(summaries)
    val isVideoEditor =
      promptTemplate.exists(_.contains(Prompts.videoEditorMarker))
    val system =
      if (isVideoEditor) Prompts.reduceSystemVideoEditor
      else Prompts.reduceSystemDefault
    val user = promptTemplate match {
      case Some(t) if t.contains("{summaries}") =>
        val filled = Prompts.fill(t, "summaries", framed)
        if (metadataStr.nonEmpty) s"$metadataStr\n\n$filled" else filled
      case _ =>
        Prompts.reduceUserDefault(metadataStr, framed)
    }
    client.completeWithRetry(system, user) match {
      case Right(r) =>
        // F11 defensive post-filter: strip a leading greeting the model
        // emitted despite the system prompt's instruction
        // (/root/reference/test_direct_aggregation.py:146-167).
        r.copy(content = Prompts.scrubGreeting(r.content))
      case Left(err) =>
        graft.llm.LlmResponse(
          s"[Error aggregating summaries: $err]", 0, 0, 0.0,
          client.config.model, isMock = false)
    }
  }

  /** The reference's cap on summaries per level-1 batch. */
  val MaxSummariesPerBatch = 10

  /** A8 batch sizing (/root/reference/result_aggregator.py:357-380):
    * min([[MaxSummariesPerBatch]], max(1, (budget − reserved) / avgTokens)). */
  def batchSize(summaries: Seq[String], cfg: AggConfig): Int = {
    if (summaries.isEmpty) return 1
    val avg =
      summaries.map(TextFunctions.estimateTokens(_).toDouble).sum / summaries.size
    val perBatch =
      math.max(1, ((cfg.maxTokensPerBatch - cfg.reservedTokens) / avg).toInt)
    math.min(perBatch, MaxSummariesPerBatch)
  }

  /** Full reduce over the mapped chunks: one collect, then the reduce
    * over the driver-held rows. */
  def aggregate(
      spark: SparkSession,
      chunks: Dataset[ProcessedChunk],
      llmCfg: LlmConfig,
      cfg: AggConfig = AggConfig()
  ): AggResult =
    // One action over the input: #summaries == #chunks, thousands at most
    // — the DATA was reduced by the map stage; this is the reference's
    // exact reduce boundary.
    aggregate(spark, chunks.collect().toSeq, llmCfg, cfg)

  /** Full reduce over driver-held mapped chunks, in `chunkIndex` order
    * whatever their order here. Level 1 keeps up to
    * min(#batches, defaultParallelism) batch calls in flight on the
    * driver; level 2 is a single driver-side call. */
  def aggregate(
      spark: SparkSession,
      chunks: Seq[ProcessedChunk],
      llmCfg: LlmConfig,
      cfg: AggConfig
  ): AggResult = {
    val rows = chunks.sortBy(_.chunkIndex)
    val n = rows.length.toLong
    if (n == 0) return AggResult("", 0, 0, 0.0)

    // F8 position prefix, in chunk order (/root/reference/result_aggregator.py:78-91).
    val prefixed: Seq[String] = rows.map { c =>
      Prompts.positionPrefix(
        TextFunctions.formatHms(c.startTime),
        TextFunctions.formatHms(c.endTime),
        c.summary
      )
    }

    val total = prefixed.map(TextFunctions.estimateTokens).sum
    val client = LlmClient.forConfig(llmCfg)

    if (!cfg.hierarchical || total <= cfg.maxTokensPerBatch) {
      val r = singleReduce(client, prefixed, cfg.promptTemplate, cfg.metadata)
      AggResult(r.content, n, r.promptTokens + r.completionTokens, r.cost)
    } else {
      val bs = batchSize(prefixed, cfg)
      val batches = prefixed.grouped(bs).toSeq
      val nb = batches.size
      // Level 1: A7's asyncio.gather is the driver's in-flight window over
      // the batches, sharing its one client; results come in batch order.
      val window = Inflight.ordered(batches.iterator.zipWithIndex,
          math.min(nb, spark.sparkContext.defaultParallelism)) { case (batch, i) =>
        val batchMeta = cfg.metadata ++ Seq(
          "Batch" -> s"${i + 1}/$nb",
          "Position" -> f"Covering approximately ${100.0 * i / nb}%.0f%% - ${100.0 * (i + 1) / nb}%.0f%% of the transcript"
        )
        singleReduce(client, batch, cfg.promptTemplate, batchMeta)
      }
      val intermediate = try window.toVector finally window.close()
      val interTokens = intermediate.map(r => (r.promptTokens + r.completionTokens).toLong).sum
      val interCost = intermediate.map(_.cost).sum
      if (intermediate.length == 1) {
        AggResult(intermediate.head.content, n, interTokens, interCost)
      } else {
        // Level 2: one final combine on the driver.
        val r = singleReduce(
          client, intermediate.map(_.content), cfg.promptTemplate, cfg.metadata)
        AggResult(
          r.content, n,
          interTokens + r.promptTokens + r.completionTokens,
          interCost + r.cost)
      }
    }
  }
}
