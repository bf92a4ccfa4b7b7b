package perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of the work Spark ran for one phase (build, exec or a probe). */
final class Counters {
  var jobs, stages, tasks, taskFailures = 0L
  var runMs, cpuNs, gcMs, schedDelayMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var recordsRead, bytesRead = 0L
  var peakExecMemBytes = 0L // largest single task's peak, not a sum

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskFailures += o.taskFailures; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; schedDelayMs += o.schedDelayMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes
    recordsRead += o.recordsRead; bytesRead += o.bytesRead
    peakExecMemBytes = math.max(peakExecMemBytes, o.peakExecMemBytes)
  }
}

/** One span: a layer call made by the benchmark around the program.
  * Spans of one query execution share `qid`; `parent` names the span
  * that caused this one (the pass). */
final case class Span(qid: String, name: String, parent: String,
    startNs: Long, endNs: Long)

/** A public SparkListener plus a QueryExecutionListener. Jobs are
  * attributed to phases through the `perfbench.phase` local property,
  * which every job inherits from the thread that submitted it. All state
  * is kept in memory; callers read it after [[drain]]. */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace.PhaseKey

  private val byPhase = mutable.HashMap.empty[String, Counters]
  private val stagePhase = mutable.HashMap.empty[Int, String]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val executions = new ConcurrentLinkedQueue[QueryExecution]()

  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      executions.add(qe)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def phase(p: String): Unit = sc.setLocalProperty(PhaseKey, p)

  def drain(): Unit = PerfbenchBus.drain(sc)

  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc.addSparkListener(this); spark.listenerManager.register(qeListener)
  }
  def uninstall(spark: org.apache.spark.sql.SparkSession): Unit = {
    drain(); sc.removeSparkListener(this); spark.listenerManager.unregister(qeListener)
  }

  /** Counters accumulated so far, per phase; resets them. */
  def take(): Map[String, Counters] = synchronized {
    val out = byPhase.toMap; byPhase.clear(); out
  }

  /** Query executions completed since the last call. */
  def takeExecutions(): Seq[QueryExecution] = {
    val out = mutable.ArrayBuffer.empty[QueryExecution]
    var qe = executions.poll()
    while (qe != null) { out += qe; qe = executions.poll() }
    out.toSeq
  }

  private def phaseOf(props: Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("other")
  private def counters(p: String) = byPhase.getOrElseUpdate(p, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = phaseOf(e.properties)
    counters(p).jobs += 1
    e.stageIds.foreach(stagePhase(_) = p)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stagePhase(e.stageInfo.stageId) = phaseOf(e.properties)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counters(stagePhase.getOrElse(e.stageInfo.stageId, "other")).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stagePhase.getOrElse(e.stageId, "other"))
    c.tasks += 1
    if (e.reason != Success) c.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.recordsRead += m.inputMetrics.recordsRead
      c.bytesRead += m.inputMetrics.bytesRead
      c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
      // the Spark UI's scheduler delay: task wall time not spent running,
      // deserializing, serializing the result or fetching it
      val i = e.taskInfo
      val overhead = m.executorRunTime + m.executorDeserializeTime +
        m.resultSerializationTime + (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L)
      c.schedDelayMs += math.max(0L, i.duration - overhead)
    }
  }
}

object Trace {
  val PhaseKey = "perfbench.phase"

  /** Planning time Spark's own tracker recorded for one execution:
    * optimization plus physical planning (analysis ran when the
    * DataFrame was built, inside the build span). */
  def planMs(qe: QueryExecution): Double = {
    val p = qe.tracker.phases
    Seq("optimization", "planning").flatMap(p.get).map(_.durationMs.toDouble).sum
  }

  /** Bytes broadcast by the final (post-AQE) plan, from the
    * `dataSize` SQLMetric of each BroadcastExchangeExec. */
  def broadcastBytes(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => broadcastBytes(a.executedPlan)
    case s: QueryStageExec => broadcastBytes(s.plan)
    case _: ReusedExchangeExec => 0L
    case b: BroadcastExchangeExec =>
      b.metrics.get("dataSize").map(_.value).getOrElse(0L) + broadcastBytes(b.child)
    case other => (other.children ++ other.subqueries).map(broadcastBytes).sum
  }
}
