package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memo registry: ONE get-or-build path for the shared
  * prefixes that several declared queries resolve through (the
  * dup-components frame, the shingle-row table, the mutual-kNN edge
  * set, the funnel verdicts, the commit family's corpus deploy).
  *
  * A [[Family]] is declared once — its name, the declared query names
  * that resolve through it, and how to release a value — and keeps its
  * entries keyed by (session INSTANCE, key): a new session (tests,
  * restarts) rebuilds; entries of stopped sessions strand only what
  * their value holds. Memoization is in-session only: the first
  * consumer pays the build inside its own timed window, later ones
  * replay it, and the long-lived runners (Bench, Verify) take both the
  * memo-hit disclosure ([[hit]]) and the release point
  * ([[releaseAfter]], right after a family's LAST consumer in their
  * run order) from this registry.
  *
  * A localCheckpointed frame is NOT fault-tolerant: an executor loss
  * drops its blocks AND its (truncated) lineage, so a stale hit would
  * fail every later caller. A hit on a frame therefore probes one
  * partition first (`limit(1)` — one cached block, not a rescan) and on
  * a Spark failure evicts and rebuilds; every memoized build is
  * deterministic, so the rebuild is bit-identical. A build runs once
  * per key even under concurrent first callers; one that throws leaves
  * no entry behind. */
object Memo {

  /** A memo family — see the object scaladoc. Declare with [[family]]
    * or [[frames]]. */
  final class Family[V] private[Memo] (
      val name: String,
      val consumers: Set[String],
      private[Memo] val free: V => Unit) {
    private[Memo] val cells = scala.collection.concurrent.TrieMap
      .empty[(SparkSession, String), Cell[V]]
  }

  /** One entry: the value is built on first access, once. */
  private final class Cell[V](private var build: () => V) {
    lazy val value: V = { val v = build(); build = null; v }
  }

  private val registry =
    new java.util.concurrent.CopyOnWriteArrayList[Family[_]]()

  /** Declare (and register) a family whose values `release` frees. */
  def family[V](name: String, consumers: Set[String])(
      release: V => Unit): Family[V] = {
    val f = new Family[V](name, consumers, release)
    registry.add(f)
    f
  }

  /** A family of localCheckpointed frames, released via [[Ckpt.release]]. */
  def frames(name: String, consumers: Set[String]): Family[DataFrame] =
    family[DataFrame](name, consumers)(Ckpt.release(_))

  /** Every declared family. A family registers when its declaring
    * object initializes, which any of its consumers does before it can
    * prime the family. */
  def families: Seq[Family[_]] = {
    import scala.jdk.CollectionConverters._
    registry.asScala.toSeq
  }

  /** The memoized value of `f` for (session, key), built by `build` on
    * a miss or after a stale frame was evicted. */
  def get[V](f: Family[V], s: SparkSession, key: String)(build: => V): V = {
    val k = (s, key)
    f.cells.get(k) match {
      case Some(c) if valid(c.value) => c.value
      case stale =>
        stale.foreach(f.cells.remove(k, _))
        val c = f.cells.getOrElseUpdate(k, new Cell(() => build))
        try c.value
        catch { case t: Throwable => f.cells.remove(k, c); throw t }
    }
  }

  private def valid(v: Any): Boolean = v match {
    case df: org.apache.spark.sql.Dataset[_] =>
      try { df.limit(1).collect(); true }
      catch { case _: org.apache.spark.SparkException => false }
    case _ => true
  }

  /** Whether `f` holds an entry for (session, key). */
  def primed(f: Family[_], s: SparkSession, key: String): Boolean =
    f.cells.contains((s, key))

  /** Evict (session, key)'s entry of `f` and free its value. Safe only
    * once no consumer will run again this session — a later [[get]]
    * just rebuilds. */
  def release[V](f: Family[V], s: SparkSession, key: String): Unit =
    f.cells.remove((s, key)).foreach(c => f.free(c.value))

  /** Whether `query` is a declared consumer of a family already primed
    * for (session, key) — the bench's `memo_hits` disclosure, read
    * before the query runs. */
  def hit(query: String, s: SparkSession, key: String): Boolean =
    families.exists(f => f.consumers(query) && primed(f, s, key))

  /** Release every family whose last declared consumer in the run
    * `order` is `order(i)` — call right after that query ran. */
  def releaseAfter(
      order: Seq[String], i: Int, s: SparkSession, key: String): Unit =
    families.foreach { f =>
      if (order.lastIndexWhere(f.consumers) == i) release(f, s, key)
    }
}
