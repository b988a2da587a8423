package sumbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run. A span is one call into a
  * layer: name, start, end, parent, the transcript id it belongs to, and
  * the Spark work the listener counted while it was open. Spans are kept
  * in memory and written out once, when the run ends. */
final class Tracer(probe: Probe) {
  import Tracer._

  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[A](tid: Int, name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val c0 = probe.snapshot()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val c1 = probe.snapshot()
      stack = stack.tail
      done += Span(id, parent, tid, name, t0, t1, c1 - c0)
    }
  }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  def toJson(origin: Long): String =
    spans.map(_.toJson(origin)).mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  final case class Span(id: Int, parent: Int, tid: Int, name: String, startNs: Long,
      endNs: Long, work: Probe.Counts) {
    def seconds: Double = (endNs - startNs) / 1e9

    def toJson(origin: Long): String =
      s"""{"id":$id,"parent":$parent,"transcript":$tid,"name":"$name",""" +
        s""""start_s":${(startNs - origin) / 1e9},"end_s":${(endNs - origin) / 1e9},""" +
        s""""jobs":${work.jobs},"stages":${work.stages},"tasks":${work.tasks},""" +
        s""""task_s":${work.taskSeconds},"shuffle_bytes":${work.shuffleBytes}}"""
  }
}
