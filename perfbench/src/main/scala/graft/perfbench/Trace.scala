package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.DataSourceScanExec
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.util.QueryExecutionListener

/** Collects Spark's own events for the traced run: job and stage spans from
  * `SparkListener`, task metrics summed per stage, and, for every query
  * execution that completes, its `QueryExecution.tracker` phase and rule
  * times plus row counts read from the executed plan's SQLMetrics.
  * Records stay in memory; [[take]] hands over what arrived since the last
  * call, so the caller can attribute them to the query phase just ended.
  * Event times are converted by `toSec` from epoch milliseconds to the
  * caller's time base. */
final class Trace(spark: SparkSession, toSec: Long => Double)
    extends SparkListener with QueryExecutionListener {
  import Trace._

  private val jobs = mutable.ArrayBuffer.empty[Json.Obj]
  private val stages = mutable.ArrayBuffer.empty[Json.Obj]
  private val plans = mutable.ArrayBuffer.empty[Json.Obj]
  private val open = mutable.Map.empty[(Int, Int), StageAcc]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Wait until the listener bus has delivered everything posted so far,
    * then return and clear the collected job, stage and plan records. */
  def take(): (Seq[Json.Obj], Seq[Json.Obj], Seq[Json.Obj]) = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    synchronized {
      val out = (jobs.toList, stages.toList, plans.toList)
      jobs.clear(); stages.clear(); plans.clear()
      out
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Json.Obj("id" -> e.jobId, "start" -> toSec(e.time), "end" -> toSec(e.time),
      "stages" -> e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val i = jobs.indexWhere(_("id") == e.jobId)
    if (i >= 0) jobs(i) = jobs(i).updated("end", toSec(e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val acc = open.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
    acc.tasks += 1
    acc.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      acc.runMs += m.executorRunTime
      acc.cpuNs += m.executorCpuTime
      acc.gcMs += m.jvmGCTime
      acc.inputBytes += m.inputMetrics.bytesRead
      acc.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      acc.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      acc.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      acc.peakExecMem = math.max(acc.peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val acc = open.remove((info.stageId, info.attemptNumber())).getOrElse(new StageAcc)
    val submit = info.submissionTime.getOrElse(0L)
    val launchWait = acc.intervals.iterator.map { case (s, _) => math.max(0L, s - submit) }.sum
    stages += Json.Obj(
      "id" -> info.stageId, "submit" -> toSec(submit),
      "end" -> toSec(info.completionTime.getOrElse(submit)),
      "tasks" -> acc.tasks, "run_ms" -> acc.runMs, "cpu_ns" -> acc.cpuNs,
      "gc_ms" -> acc.gcMs, "input_bytes" -> acc.inputBytes,
      "shuffle_write_bytes" -> acc.shuffleWriteBytes,
      "shuffle_read_bytes" -> acc.shuffleReadBytes,
      "spill_bytes" -> acc.spillBytes,
      "peak_exec_mem_bytes" -> acc.peakExecMem, "launch_wait_ms" -> launchWait,
      "task_intervals" -> mergeIntervals(acc.intervals.toSeq)
        .map { case (s, f) => Seq(toSec(s), toSec(f)) })
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { plans += planRecord(qe) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { plans += planRecord(qe) }
}

object Trace {
  final class StageAcc {
    var tasks = 0L
    var runMs, cpuNs, gcMs, inputBytes, shuffleWriteBytes, shuffleReadBytes = 0L
    var spillBytes, peakExecMem = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  /** Union of [start, end] intervals as a sorted list of disjoint ones. */
  def mergeIntervals(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    xs.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  private val GraftRules = Map(
    "bloom_prefilter" -> "BloomPrefilterRule",
    "eager_agg" -> "EagerAggregationRule",
    "fact_broadcast_guard" -> "FactBroadcastGuard")

  /** Planner times and operator row counts of one completed execution. */
  def planRecord(qe: QueryExecution): Json.Obj = {
    val t = qe.tracker
    def phase(p: String) = t.phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    val graftRules = t.rules.filter { case (name, _) => name.startsWith("graft.") }
    def fired(simple: String) = graftRules.collect {
      case (name, r) if name.endsWith(simple) => r.numEffectiveInvocations
    }.sum
    var scanRows, partialIn, partialOut, bloomTested, bloomKept = 0L
    walk(qe.executedPlan).foreach {
      case s @ (_: DataSourceScanExec | _: BatchScanExec) => scanRows += rows(s)
      case a: BaseAggregateExec if isPartial(a) =>
        partialOut += rows(a); partialIn += rowsBelow(a.child)
      case f: FilterExec if f.condition.exists(_.getClass.getName.startsWith("graft.expressions.BlockBloom")) =>
        bloomKept += rows(f); bloomTested += rowsBelow(f.child)
      case _ => ()
    }
    Json.Obj(
      "analysis_s" -> phase("analysis"), "optimization_s" -> phase("optimization"),
      "planning_s" -> phase("planning"),
      "graft_rules_s" -> graftRules.values.map(_.totalTimeNs).sum / 1e9,
      "fired" -> Json.Obj(GraftRules.map { case (k, v) => k -> fired(v) }.toSeq: _*),
      "scan_rows" -> scanRows, "partial_agg_in" -> partialIn,
      "partial_agg_out" -> partialOut, "bloom_tested" -> bloomTested,
      "bloom_kept" -> bloomKept)
  }

  private def isPartial(a: BaseAggregateExec): Boolean =
    a.aggregateExpressions.exists(_.mode == Partial) ||
      (a.aggregateExpressions.isEmpty && a.requiredChildDistributionExpressions.isEmpty)

  private def rows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  /** Rows produced by the nearest node at or below `p` that counts them. */
  private def rowsBelow(p: SparkPlan): Long =
    if (p.metrics.contains("numOutputRows")) rows(p)
    else p match {
      case q: QueryStageExec => rowsBelow(q.plan)
      case _ => p.children.headOption.map(rowsBelow).getOrElse(0L)
    }

  /** Every physical node of the final plan, through adaptive query stages
    * and subqueries; a reused exchange is counted where it was built. */
  def walk(p: SparkPlan): Iterator[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case other => other.children ++ other.subqueries
    }
    Iterator(p) ++ kids.iterator.flatMap(walk)
  }
}
