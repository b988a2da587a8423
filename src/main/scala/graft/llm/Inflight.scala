package graft.llm

import java.util.concurrent.{ExecutionException, Executors, FutureTask, Semaphore}

/** The in-flight window every paid LLM call runs through, the JVM form of
  * the reference's asyncio semaphore (its `llm_executor.py:132-147`).
  * [[ordered]] keeps up to `k` calls of `f` running on daemon threads,
  * hands out the next input as soon as any call finishes, and yields the
  * results in input order. The input is read on the caller's thread only,
  * as a Spark partition iterator is not thread-safe. In a Spark task the
  * cap holds per task: `p` partitions on `p` free slots have up to `p × k`
  * calls in flight.
  *
  * The pool shuts down when the input is used up, when the Spark task
  * completes (a `TaskContext` listener, so a downstream `limit` or a
  * failed task does not leak it), and on `close()`, which a driver-side
  * caller runs in a `finally`. Its threads only make HTTP calls and never
  * submit Spark jobs, so [[graft.Par]]'s rule against pooled threads that
  * carry stale inherited job properties does not apply.
  */
object Inflight {

  private val threadSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  def ordered[A, B](it: Iterator[A], k: Int)(f: A => B): Iterator[B] with AutoCloseable = {
    val w = new Window(it, math.max(1, k), f)
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => w.close()))
    w
  }

  private final class Window[A, B](it: Iterator[A], k: Int, f: A => B)
      extends Iterator[B] with AutoCloseable {
    private val pool = Executors.newFixedThreadPool(k, (r: Runnable) => {
      val t = new Thread(r, s"graft-inflight-${threadSeq.getAndIncrement()}")
      t.setDaemon(true)
      t
    })
    // Calls handed out and not yet yielded, in input order; each holds a
    // slot until it finishes.
    private val window = new java.util.ArrayDeque[FutureTask[B]]()
    private val slots = new Semaphore(k)

    private def handOut(): Unit = {
      val a = it.next()
      val task = new FutureTask[B](() => f(a)) {
        override def done(): Unit = slots.release()
      }
      window.add(task)
      pool.execute(task)
    }

    private def refill(): Unit = while (it.hasNext && slots.tryAcquire()) handOut()

    override def hasNext: Boolean = {
      refill()
      if (window.isEmpty && it.hasNext) { slots.acquire(); handOut() }
      val h = !window.isEmpty
      if (!h) close()
      h
    }

    override def next(): B = {
      if (!hasNext) throw new NoSuchElementException("next on an exhausted window")
      val head = window.poll()
      // Every slot is taken: the next call to finish frees one.
      while (!head.isDone && it.hasNext) { slots.acquire(); handOut() }
      try head.get()
      catch { case e: ExecutionException => throw e.getCause }
    }

    override def close(): Unit = pool.shutdownNow()
  }
}
