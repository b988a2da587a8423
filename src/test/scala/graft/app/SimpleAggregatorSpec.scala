package graft.app

import graft.SparkSuite
import graft.agg.{SimpleAggregator, SummaryReduce}
import graft.llm.LlmConfig
import graft.model.ProcessedChunk

/** Pins the SimpleAggregator facade
  * (/root/reference/simple_aggregator.py:26-42): fail-fast without an
  * API key for a real provider, and single-pass reduce semantics
  * (== SummaryReduce with hierarchical = false). */
class SimpleAggregatorSpec extends SparkSuite {

  private def chunk(i: Int, summary: String) = ProcessedChunk(
    chunkIndex = i, startTime = i * 10.0, endTime = i * 10.0 + 9.0,
    text = s"text $i", textWithContext = s"text $i", tokenCount = 10,
    speakers = Seq("A"), totalChunks = 3, positionPercentage = i * 33.3,
    summary = summary, tokensUsed = 100, cost = 0.0, error = None)

  test("real provider without a key fails fast, like the reference ctor") {
    import spark.implicits._
    val chunks = spark.createDataset(Seq(chunk(0, "s0")))
    for (p <- Seq("openai", "anthropic")) {
      val e = intercept[IllegalArgumentException] {
        SimpleAggregator.aggregate(
          spark, chunks, LlmConfig(provider = p, apiKey = None))
      }
      assert(e.getMessage.contains("API key not found"))
    }
  }

  test("mock provider needs no key and equals the single-pass reduce") {
    import spark.implicits._
    val chunks = spark.createDataset(
      Seq(chunk(0, "alpha"), chunk(1, "beta"), chunk(2, "gamma")))
    val cfg = LlmConfig() // mock
    val simple = SimpleAggregator.aggregate(spark, chunks, cfg)
    val single = SummaryReduce.aggregate(
      spark, chunks, cfg,
      SummaryReduce.AggConfig(hierarchical = false))
    assert(simple == single)
    assert(simple.chunksAggregated == 3L)
    assert(simple.summary.nonEmpty)
  }
}
