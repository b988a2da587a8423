package graft

import org.apache.spark.sql.SparkSession

/** The builder of every session the engine runs queries on (`Bench`,
  * `Verify`, `EntrySmoke`, the tools and the specs): the engine's
  * functions and planner strategy ([[graft.functions.GraftExtensions]]),
  * UTC session time, no UI, and `file:` paths through
  * [[NioLocalFileSystem]] / [[NioLocalFs]]. Callers add their own
  * parallelism settings and `getOrCreate()`. */
object GraftSession {
  def builder(master: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
}
