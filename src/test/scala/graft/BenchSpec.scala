package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.BusDrain
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** `graft.Bench`'s per-query cost profile, read from three tiny queries
  * run the way the bench runs a query (under its job tag), and the
  * shape of the record `tools/make_budgets.py` and the budget gate read. */
class BenchSpec extends SparkSuite {

  private def profiled(name: String)(body: => Unit): Bench.Profile = {
    val recorder = new Bench.Recorder
    val sc = spark.sparkContext
    sc.addSparkListener(recorder)
    try {
      val t0 = System.nanoTime()
      Bench.tagged(spark, name)(body)
      val wall = (System.nanoTime() - t0) / 1e9
      BusDrain.drain(sc)
      recorder.profile(name, wall)
    } finally sc.removeSparkListener(recorder)
  }

  test("a one-partition range count runs jobs and shuffles nothing") {
    val p = profiled("spec_range_count")(spark.range(0, 1000, 1, 1).count())
    assert(p.jobs >= 1 && p.tasks >= 1, p)
    assert(p.shuffleMb == 0.0, p)
    assert(p.batches == 0, p)
  }

  test("a groupBy shuffles, spends task time and is planned") {
    val p = profiled("spec_group_by") {
      spark.range(0, 2000000, 1, 4)
        .groupBy((col("id") % 1000).as("k")).agg(sum("id"))
        .write.format("noop").mode("overwrite").save()
    }
    assert(p.stages >= 2, p)
    assert(p.shuffleMb > 0.0, p)
    assert(p.taskS > 0.0, p)
    assert(p.planS > 0.0, p)
    assert(p.wall >= p.planS, p)
  }

  test("an AvailableNow memory-sink stream's micro-batches are attributed to the query") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_spec_")
    spark.range(0, 100, 1, 2).write.mode("overwrite").parquet(dir.toString + "/in")
    val p = profiled("spec_stream") {
      val q = spark.readStream.schema("id LONG").parquet(dir.toString + "/in")
        .writeStream.format("memory").queryName("bench_spec_stream")
        .option("checkpointLocation", dir.toString + "/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    assert(spark.table("bench_spec_stream").count() == 100L)
    assert(p.batches >= 1, p)
    assert(p.jobs >= 1, p)
  }

  test("the full record keeps `queries` a name → seconds map, with a profile row per query") {
    val runs = Seq(
      Bench.Run("q_a", 1.5, ok = true, memoHit = false, heapMb = 100L),
      Bench.Run("q_b", 0.25, ok = true, memoHit = true, heapMb = 120L),
      Bench.Run("q_c", 0.1, ok = false, memoHit = false, heapMb = 90L))
    val (full, summary, breaches) = Bench.record(
      runs, r => Bench.Profile(r.wall, 0.01, 0.5, 2, 3, 8, 1.25, 0.0, 0),
      Seq("exact_groups" -> Seq(Some(1.0), Some(2.1)),
        "table_commit_fold" -> Seq(Some(3.0), None)),
      Map("q_a" -> 1.0), 0, "sf0.1")
    // tools/make_budgets.py's rule: a line starting with "{" that holds a
    // "queries" key and parses as JSON; its "queries" values are seconds.
    assert(full.startsWith("{") && full.contains("\"queries\""))
    val json = new ObjectMapper().readTree(full)
    val queries = json.get("queries")
    assert(queries.isObject)
    val names = queries.fieldNames().asScala.toSeq
    assert(names == Seq("q_a", "q_b"))
    names.foreach(n => assert(queries.get(n).isNumber, n))
    assert(json.get("value").asDouble == 1.75)
    val fields = Seq("wall", "plan_s", "task_s", "jobs", "stages", "tasks",
      "shuffle_mb", "spill_mb", "batches")
    names.foreach { n =>
      val row = json.get("profile").get(n)
      fields.foreach(f => assert(row.get(f).isNumber, s"$n.$f"))
    }
    assert(json.get("ladder").get("exact_groups").get("x2").asDouble == 2.1)
    assert(json.get("ladder").get("table_commit_fold").get("x2").isNull)
    assert(json.get("failed").get(0).asText == "q_c")
    assert(json.get("memo_hits").get(0).asText == "q_b")
    assert(breaches == 1 && json.get("breaches").get("q_a").get("budget").asDouble == 1.0)
    assert(new ObjectMapper().readTree(summary).get("metric").asText == "summary")
  }
}
