package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Ad-hoc plan probe for INTERNAL builder frames (dev tool; a declared
  * query's plan is `SparkEntry.queries(name)(spark, dir).explain()`).
  * Each named probe builds one frame
  * the optimization work needs to see the executed plan of; add probes
  * as investigations need them. Usage:
  *
  *   sbt "runMain graft.tools.AdhocPlan <probe> [sfDir]"
  */
object AdhocPlan {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: AdhocPlan <probe> [sfDir]")
    val sfDir =
      if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // Synthetic 2M-row (id, shingle) frame for the minhash micro-bench:
    // 20k groups × 100 shingles, deterministic values.
    def synthShingles = spark.range(2000000L)
      .selectExpr("id % 20000 AS id",
        "CAST(conv(substring(md5(cast(id as string)), 1, 15), 16, 10) AS BIGINT) AS shingle")
    def oldForm(sh: org.apache.spark.sql.DataFrame, h: Int) = {
      val aggs = (0 until h).map { i =>
        min(expr(
          s"CAST(conv(substring(md5(concat('${i / 2}:', cast(shingle as string))), ${1 + 15 * (i % 2)}, 15), 16, 10) AS BIGINT)"))
          .as(s"sig_$i")
      }
      sh.groupBy("id").agg(aggs.head, aggs.tail: _*)
    }
    def newForm(sh: org.apache.spark.sql.DataFrame, h: Int) = {
      graft.functions.MinhashSigAgg.register(spark)
      sh.groupBy("id").agg(expr(s"graft_minhash_sig(shingle, $h)").as("sig"))
    }
    val frame = args(0) match {
      case "minhashAggOld" => oldForm(synthShingles, 32)
      case "minhashAggNew" => newForm(synthShingles, 32)
      case "ngramRows" =>
        graft.dedup.Dedup.ngramShingleRows(
          docs.select(col("doc_id").as("id"), col("text")),
          "id", "text", lit(0L), 3)
      case "shingleRows" =>
        graft.dedup.Dedup.shingleRows(docs, "doc_id", "text")
      case "spanFpSet" =>
        graft.dedup.Dedup.spanFpSet(docs, "doc_id", "text", 8)
      case "bandTable" =>
        graft.dedup.Dedup.bandTable(docs, "doc_id", "text", 8, 4)
      case p => sys.error(s"unknown probe $p")
    }
    frame.explain("formatted")
    // Timed noop materialization (3 runs — first is cold codegen).
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      frame.write.format("noop").mode("overwrite").save()
      println(f"run$i wall ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    println(s"rows = ${frame.count()}")
    spark.stop()
  }
}
