package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `kind` is the level in the hierarchy
  * workload → operation → layer call → Spark job; `op` is the operation id
  * shared by every span of one operation. Times are epoch milliseconds.
  */
final class Span(val id: Int, val parent: Int, val op: Int, val kind: String,
                 val name: String, val startMs: Double) {
  @volatile var endMs: Double = Double.NaN
  /** Spark counters attributed to this span while it was open. */
  val counters: mutable.Map[String, Double] = mutable.HashMap.empty
  def add(key: String, v: Double): Unit = counters.synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }
}

/** High-water mark of the block-manager memory held by RDD blocks (cached
  * and checkpointed partitions), from block updates. Broadcast blocks are left
  * out: when they are freed depends on GC timing. Registered on every run:
  * `peak_storage_mb` is an end-to-end metric.
  */
final class StorageListener extends SparkListener {
  private val blocks = mutable.HashMap.empty[String, Long]
  private var used = 0L
  @volatile var peakBytes = 0L
  /** RDD blocks stored, counted per put. */
  @volatile var rddBlocksStored = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize else 0L
      used += size - blocks.getOrElse(key, 0L)
      if (size > 0) blocks(key) = size else blocks.remove(key)
      if (used > peakBytes) peakBytes = used
      if (info.storageLevel.isValid) rddBlocksStored += 1
    }
  }
}

/** Spans kept in memory, written when the run ends. The Spark listener and
  * the query-execution listener attribute counters to the span that owned the
  * job (through the `perfbench.span` local property) or, for plan events, to
  * the span open when the event was delivered; each span drains the listener
  * bus before it closes, so delivery happens inside the span.
  */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  private val epochBaseMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  private def nowMs(): Double = epochBaseMs + System.nanoTime() / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile private var current: Span = _
  private var nextOp = 0
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageOwner = new ConcurrentHashMap[Int, Span]()
  private val jobSpans = new ConcurrentHashMap[Int, Span]()

  private def newSpan(parent: Span, op: Int, kind: String, name: String, start: Double): Span =
    spans.synchronized {
      val s = new Span(spans.size, if (parent == null) -1 else parent.id, op, kind, name, start)
      spans += s
      byId.put(s.id, s)
      s
    }

  /** Runs `body` inside a span one level below the open one. An `operation`
    * span starts a new operation id.
    */
  def span[T](kind: String, name: String)(body: => T): T = {
    val parent = current
    val op = if (kind == "operation") { nextOp += 1; nextOp }
             else if (parent == null) 0 else parent.op
    val s = newSpan(parent, op, kind, name, nowMs())
    stack = s :: stack
    current = s
    sc.setLocalProperty("perfbench.span", s.id.toString)
    try body
    finally {
      ListenerBusAccess.drain(sc)
      s.endMs = nowMs()
      stack = stack.tail
      current = stack.headOption.orNull
      sc.setLocalProperty("perfbench.span", Option(current).map(_.id.toString).orNull)
    }
  }

  private def owner(props: java.util.Properties): Span =
    Option(props).flatMap(p => Option(p.getProperty("perfbench.span")))
      .map(id => byId.get(id.toInt)).getOrElse(current)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val o = owner(e.properties)
    if (o != null) {
      o.add("jobs", 1)
      e.stageInfos.foreach(si => stageOwner.put(si.stageId, o))
      jobSpans.put(e.jobId, newSpan(o, o.op, "job", s"job ${e.jobId}", e.time.toDouble))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpans.remove(e.jobId)).foreach(_.endMs = e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val o = Option(stageOwner.remove(si.stageId)).getOrElse(current)
    if (o != null) {
      o.add("stages", 1)
      o.add("tasks", si.numTasks)
      val m = si.taskMetrics
      if (m != null) {
        o.add("executor_run_s", m.executorRunTime / 1e3)
        o.add("executor_cpu_s", m.executorCpuTime / 1e9)
        o.add("gc_s", m.jvmGCTime / 1e3)
        o.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        o.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        o.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        o.add("scan_bytes", m.inputMetrics.bytesRead)
        o.add("scan_rows", m.inputMetrics.recordsRead)
        o.add("write_bytes", m.outputMetrics.bytesWritten)
        o.add("write_rows", m.outputMetrics.recordsWritten)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val o = current
    if (o != null) {
      val phases = qe.tracker.phases
      Seq("analysis" -> "analyze_ms", "optimization" -> "optimize_ms", "planning" -> "planning_ms")
        .foreach { case (phase, key) => phases.get(phase).foreach(p => o.add(key, p.durationMs)) }
      val nodes = PlanWalk.walk(qe.executedPlan) {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => "exchanges"
        case _: DataSourceScanExec | _: DataSourceV2ScanExecBase => "scans"
      }
      nodes.foreach(k => o.add(k, 1))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Self time of each non-job span: its duration minus the part of it that
    * its children cover (children may overlap, so their union is taken).
    */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).filter(!_.endMs.isNaN)
      .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var (lo, hi) = (Double.NaN, Double.NaN)
    kids.foreach { case (a, b) =>
      if (hi.isNaN || a > hi) { if (!hi.isNaN) covered += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (!hi.isNaN) covered += hi - lo
    (s.endMs - s.startMs) - covered
  }
}

/** Walks a physical plan through adaptive plans and query stages. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def walk[B](plan: SparkPlan)(pf: PartialFunction[SparkPlan, B]): Seq[B] =
    collectWithSubqueries(plan)(pf)
}
