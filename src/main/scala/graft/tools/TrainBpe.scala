package graft.tools

/** One-off generator for the frozen BPE merges tables committed in
  * [[graft.textanalysis.Bpe]] (provenance: the constants are pasted from
  * this tool's output, and BpeSpec re-trains to pin them). Usage:
  *
  *   sbt "runMain graft.tools.TrainBpe /root/testdata/sf0.001 512 [hex]"
  *
  * `hex` trains on the md5-hex chunk stream
  * ([[graft.textanalysis.Bpe.hexTokenStream]]) instead of the word
  * tokens — the fixture corpus has only 61 distinct word types and
  * saturates word-level training at 128 merges, so large tables need the
  * high-entropy derived stream. Prints the table as a Scala literal.
  */
object TrainBpe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val nMerges = if (args.length > 1) args(1).toInt else 512
    val hex = args.length > 2 && args(2) == "hex"
    val spark = graft.GraftSession.builder("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = graft.queries.Tables.documents(spark, sfDir)
    val merges =
      if (hex)
        graft.textanalysis.Bpe.trainMergesFromTokens(
          graft.textanalysis.Bpe.hexTokenStream(docs).select("tok"), nMerges)
      else graft.textanalysis.Bpe.trainMergesFromCorpus(docs, nMerges)
    def lit(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    println(s"  // trained from $sfDir documents, nMerges=$nMerges")
    println("  Seq(")
    println(merges.map { case (a, b) => s"    (${lit(a)}, ${lit(b)})" }
      .mkString(",\n"))
    println("  )")
    spark.stop()
  }
}
