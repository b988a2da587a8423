package graft.app

import java.nio.file.Files
import graft.SparkSuite
import graft.model.ProcessedChunk

/** The summarizer's driver-side sinks and CLI surface. */
class SummarizerSpec extends SparkSuite {

  test("saveChunks writes the chunks in chunk order with the reference's fields") {
    import spark.implicits._
    val rows = (0 until 4).map { i =>
      ProcessedChunk(i, 10.0 * i, 10.0 * i + 10, "t", "t", 10, Seq("A"), 4,
        25.0 * i, i, s"summary \"$i\"", 15 + i, 0.0, None)
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
