package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Host-speed-independent counters of the actions a session runs: Spark
  * jobs, completed stages, summed task `executorRunTime` and
  * `executorCpuTime`, and run time per stage. `reset` before an action and
  * `drain` after it, so every event the action posted has been counted.
  */
private[graft] final class Counters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val stageRunMs = new ConcurrentHashMap[Int, java.lang.Long]()
  val stageNames = new ConcurrentHashMap[Int, String]()

  def reset(): Unit = {
    Seq(jobs, stages, runMs, cpuNs).foreach(_.set(0L))
    stageRunMs.clear(); stageNames.clear()
  }
  override def onJobStart(j: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()
  override def onStageCompleted(st: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    stageNames.put(st.stageInfo.stageId, st.stageInfo.name.take(70))
  }
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (t.taskMetrics != null) {
      runMs.addAndGet(t.taskMetrics.executorRunTime)
      cpuNs.addAndGet(t.taskMetrics.executorCpuTime)
      stageRunMs.merge(t.stageId, t.taskMetrics.executorRunTime, _ + _)
    }
}

private[graft] object Counters {
  /** A new listener on `spark`'s context. */
  def attach(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    c
  }

  def drain(spark: SparkSession): Unit = ListenerBusBridge.drain(spark.sparkContext)
}
