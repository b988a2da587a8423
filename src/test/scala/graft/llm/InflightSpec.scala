package graft.llm

import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import graft.SparkSuite

/** [[Inflight.ordered]]: the cap, the input order, failure propagation and
  * the pool shutdown points. */
class InflightSpec extends SparkSuite {

  private def liveWindowThreads(): Int =
    Thread.getAllStackTraces.keySet.asScala
      .count(t => t.isAlive && t.getName.startsWith("graft-inflight-"))

  /** Waits up to 5 s for every window thread to exit. */
  private def assertPoolsShutDown(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (liveWindowThreads() > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    assert(liveWindowThreads() == 0, "a window's pool outlived its input")
  }

  test("results come in input order with at most k calls running") {
    val running, peak = new AtomicInteger(0)
    val out = Inflight.ordered((0 until 12).iterator, 3) { i =>
      peak.accumulateAndGet(running.incrementAndGet(), (a, b) => math.max(a, b))
      // Later inputs of each group of three finish first.
      try Thread.sleep(40L * (3 - i % 3)) finally running.decrementAndGet()
      i * 10
    }.toVector
    assert(out == (0 until 12).map(_ * 10))
    assert(peak.get() == 3)
    assertPoolsShutDown()
  }

  test("a failing call surfaces its own exception and close stops the pool") {
    val w = Inflight.ordered((0 until 8).iterator, 3) { i =>
      if (i == 2) throw new IllegalStateException("call 2 failed")
      Thread.sleep(20)
      i
    }
    val e = try intercept[IllegalStateException](w.toVector) finally w.close()
    assert(e.getMessage == "call 2 failed")
    assertPoolsShutDown()
  }

  test("a task that stops reading early shuts its window down") {
    val firstTwo = spark.sparkContext.parallelize(0 until 40, 1)
      .mapPartitions(it => Inflight.ordered(it, 4) { i => Thread.sleep(50); i })
      .take(2)
    assert(firstTwo.toSeq == Seq(0, 1))
    assertPoolsShutDown()
  }
}
