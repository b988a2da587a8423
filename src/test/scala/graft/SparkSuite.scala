package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base — one lazy SparkSession per suite. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
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
