package graft.tools
import org.apache.spark.sql.functions._
object Md5Bench {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("local[32]")
      .config("spark.sql.shuffle.partitions", "32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def slice60(c: org.apache.spark.sql.Column, part: Int) =
      conv(substring(md5(c), 1 + 15 * part, 15), 16, 10).cast("long")
    def run(parts: Int, n: Long): (Double, Long) = {
      val df = spark.range(0, n, 1, parts)
        .select(col("id").cast("string").as("shingle"))
      val aggs = (0 until 32).map { i =>
        min(slice60(concat(lit(s"${i / 2}:"), col("shingle")), i % 2)).as(s"m$i")
      }
      val t0 = System.nanoTime()
      df.agg(aggs.head, aggs.tail: _*).collect()
      (((System.nanoTime() - t0) / 1e9), n)
    }
    run(4, 100000) // warm codegen
    for (p <- Seq(1, 8, 32, 32)) {
      val (t, n) = run(p, 1000000L)
      println(f"[sketch] parts=$p%2d  ${t}%6.2f s  (${n / t / 1e6}%5.2f M rows/s)")
    }
    spark.stop()
  }
}
