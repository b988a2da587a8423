package graft
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[4]")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"ENTRY_ROWS=$n")
    df.show(5, false)
    spark.stop()
  }
}
