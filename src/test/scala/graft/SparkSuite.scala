package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base — one lazy SparkSession per suite. */
trait SparkSuite extends AnyFunSuite {
  /** The engine's session ([[GraftSession]]). One session serves every
    * suite in the test JVM, so the generated-code cache holds 4,096
    * classes instead of 100 (the store specs re-plan the same queries
    * fold after fold; `TableCommitSpec` alone compiled 10,834 classes
    * with 100 entries and 1,405 with 4,096). */
  lazy val spark: SparkSession = GraftSession.builder("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.codegen.cache.maxEntries", "4096")
    .getOrCreate()

  def resourcePath(name: String): String =
    getClass.getClassLoader.getResource(name).getPath

  /** Runs `f` on the path of a temporary transcript file holding `json`. */
  def withTranscript(json: String)(f: String => Unit): Unit = {
    val p = java.nio.file.Files.createTempFile("transcript", ".json")
    try { java.nio.file.Files.writeString(p, json); f(p.toString) }
    finally java.nio.file.Files.delete(p)
  }
}
