package graft.chunk

import java.nio.file.{Files, Paths}
import graft.SparkSuite
import graft.model.Chunk
import graft.prep.Preprocess

/** The corpus form of preprocess + chunk against the layered stages: a
  * directory of transcript files is one `readTranscripts` row per file,
  * each chunked by `chunkLocal(prepLocal(indexLocal(t)))` inside one
  * Dataset map. */
trait CorpusParity { self: SparkSuite =>

  /** Copies the transcript at `path` `copies` times into one directory,
    * chunks the directory in its corpus form, and asserts that every row's
    * chunks equal `Chunker.run(Preprocess.run(...))` over `path`, whole
    * `Chunk` for whole `Chunk`. Returns the layered stages' chunks. */
  def assertCorpusParity(
      path: String,
      prep: Preprocess.PrepConfig,
      chunk: Chunker.ChunkConfig,
      copies: Int = 3
  ): Seq[Chunk] = {
    import spark.implicits._
    val what = s"$path $prep $chunk"
    val single = Chunker.run(spark, Preprocess.run(spark, Preprocess.loadTranscript(spark, path), prep), chunk)
      .collect().sortBy(_.chunkIndex).toSeq
    val dir = Files.createTempDirectory("corpus")
    val files = (0 until copies).map(i => dir.resolve(s"t$i.json"))
    try {
      files.foreach(Files.copy(Paths.get(path), _))
      val corpus = Preprocess.readTranscripts(spark, dir.toString)
        .map(t => Chunker.chunkLocal(Preprocess.prepLocal(Preprocess.indexLocal(t), prep), chunk))
        .collect()
      assert(corpus.length == copies, what)
      corpus.foreach(c => assert(c == single, what))
    } finally {
      files.foreach(Files.deleteIfExists)
      Files.delete(dir)
    }
    single
  }
}
