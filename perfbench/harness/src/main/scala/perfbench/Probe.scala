package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark reports about one window of work (an operation): the
  * scheduler's job/stage/task events and the SQL executions' planning
  * phases and final-plan metrics. Filled by [[Probe]] on the listener
  * thread, read by the harness after the bus has drained.
  */
final class Counts {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, delayMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spillDisk = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var filesRead, bytesRead, filesWritten, bytesWritten, broadcastBytes = 0L
  var skew = 0.0
  val rows = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall time covered by at least one job, in seconds. */
  def jobUnionS: Double = {
    var covered, end = 0L
    jobSpans.sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    covered / 1e3
  }
}

/** SparkListener + QueryExecutionListener that accumulate into the
  * current [[Counts]]; [[take]] hands it over and starts a fresh one.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  private var cur = new Counts
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageReads = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  def take(): Counts = synchronized { val c = cur; cur = new Counts; c }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    cur.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => cur.jobSpans += ((s, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      val gettingResult = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      cur.delayMs += math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult)
      cur.runMs += m.executorRunTime
      cur.cpuNs += m.executorCpuTime
      cur.gcMs += m.jvmGCTime
      cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      val read = m.shuffleReadMetrics.totalBytesRead
      cur.shuffleRead += read
      cur.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      cur.spillDisk += m.diskBytesSpilled
      stageReads.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) += read
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    cur.stages += 1
    stageReads.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach { reads =>
      val sorted = reads.sorted
      val median = sorted(sorted.length / 2)
      if (median > 0) cur.skew = math.max(cur.skew, sorted.last.toDouble / median)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val plan = qe.executedPlan
    synchronized {
      cur.analysisMs += ms(QueryPlanningTracker.ANALYSIS)
      cur.optimizationMs += ms(QueryPlanningTracker.OPTIMIZATION)
      cur.planningMs += ms(QueryPlanningTracker.PLANNING)
      walk(plan)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Visit the final plan: adaptive plans through their final physical
    * plan, query stages through the stage's plan; a reused exchange was
    * counted where it first ran.
    */
  private def walk(p: SparkPlan): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case s: QueryStageExec => walk(s.plan)
    case c: CommandResultExec => walk(c.commandPhysicalPlan)
    case _: ReusedExchangeExec => ()
    case node =>
      record(node)
      node.children.foreach(walk)
      node.subqueries.foreach(walk)
  }

  private def record(node: SparkPlan): Unit = {
    val m = node.metrics
    def v(k: String) = m.get(k).map(_.value).getOrElse(0L)
    val kind = node.getClass.getSimpleName.stripSuffix("Exec")
    m.get("numOutputRows").foreach { r =>
      if (!Probe.RowKinds(kind) && Probe.otherKinds.add(kind))
        System.err.println(s"[perfbench] rows of operator kind $kind count under exec.rows.Other")
      cur.rows(if (Probe.RowKinds(kind)) kind else "Other") += r.value
    }
    if (kind == "FileSourceScan") {
      cur.filesRead += v("numFiles")
      cur.bytesRead += v("filesSize")
    }
    if (m.contains("numOutputBytes")) {
      cur.filesWritten += v("numFiles")
      cur.bytesWritten += v("numOutputBytes")
    }
    if (kind == "BroadcastExchange") cur.broadcastBytes += v("dataSize")
  }
}

object Probe {
  private val otherKinds = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Operator kinds reported one by one (those with a `numOutputRows`
    * metric); rows of every other kind sum under `Other`.
    */
  val RowKinds: Set[String] = Set(
    "FileSourceScan", "InMemoryTableScan", "LocalTableScan", "Range", "Filter",
    "Generate", "Expand", "HashAggregate", "ObjectHashAggregate", "SortAggregate",
    "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
    "BroadcastExchange", "DataWritingCommand")
}
