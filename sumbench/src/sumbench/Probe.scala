package sumbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Cumulative Spark work counters, fed by a listener the benchmark
  * registers on the session. Readers take differences of [[snapshot]]s
  * around the calls they attribute work to, after [[settle]] has let the
  * asynchronous listener bus deliver every event of those calls. */
final class Probe(sc: SparkContext) extends SparkListener {
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val taskSeconds = new DoubleAdder
  private val shuffleBytes = new AtomicLong

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      taskSeconds.add(m.executorRunTime / 1000.0)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  def settle(): Unit = org.apache.spark.BusDrain.drain(sc)

  def snapshot(): Probe.Counts = {
    settle()
    Probe.Counts(jobs.get, stages.get, tasks.get, taskSeconds.sum, shuffleBytes.get)
  }

  def stop(): Unit = sc.removeSparkListener(this)
}

object Probe {
  final case class Counts(jobs: Long, stages: Long, tasks: Long, taskSeconds: Double,
      shuffleBytes: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      taskSeconds - o.taskSeconds, shuffleBytes - o.shuffleBytes)
  }
}
