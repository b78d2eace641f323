package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the trace. Times are epoch milliseconds; `parent` 0 = root. */
final case class Span(id: Long, parent: Long, name: String, trace: String,
                      startMs: Double, endMs: Double, attrs: Seq[(String, Double)])

/** Task totals of one stage attempt, summed from task-end events. */
final class StageRec(val stageId: Int, val submitMs: Double) {
  var endMs: Double = submitMs
  var tasks, busyMs, cpuNs, waitMs, shufRead, shufWrite, fetchWaitMs, spill,
      inBytes, inRecords, outBytes = 0L
  def add(o: StageRec): Unit = {
    tasks += o.tasks; busyMs += o.busyMs; cpuNs += o.cpuNs; waitMs += o.waitMs
    shufRead += o.shufRead; shufWrite += o.shufWrite; fetchWaitMs += o.fetchWaitMs
    spill += o.spill; inBytes += o.inBytes; inRecords += o.inRecords; outBytes += o.outBytes
  }
}

final class JobRec(val jobId: Int, val startMs: Double, val stageIds: Seq[Int]) {
  var endMs: Double = startMs
  val stages = mutable.ArrayBuffer.empty[StageRec]
}

/** What one executed QueryExecution reports: Catalyst phase times and, for
  * the noop sink's plan, SQL metrics summed over the final AQE plan. */
final case class PlanRec(sink: Boolean, optimizeMs: Double, planMs: Double,
                         ops: Map[String, Double])

/** Collects listener events of the benchmark's session. Spark delivers
  * events on its listener-bus thread; the harness thread drains them after
  * each query, once [[quiesce]] says every started job and SQL execution
  * has been reported. Queries run one after another, so everything drained
  * after a query belongs to it. */
object Collector extends SparkListener {
  @volatile var enabled = false
  private var jobsStarted, jobsEnded, sqlStarted, sqlEnded, plansSeen = 0L
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val openJobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[(Int, Int), StageRec]
  private val plans = mutable.ArrayBuffer.empty[PlanRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsStarted += 1
    if (enabled) {
      val j = new JobRec(e.jobId, e.time.toDouble, e.stageIds)
      jobs += j; openJobs(e.jobId) = j
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsEnded += 1
    openJobs.remove(e.jobId).foreach(_.endMs = e.time.toDouble)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (enabled) {
      val i = e.stageInfo
      val s = new StageRec(i.stageId, i.submissionTime.getOrElse(System.currentTimeMillis()).toDouble)
      stages((i.stageId, i.attemptNumber())) = s
      // a stage runs for the earliest open job that lists it
      openJobs.valuesIterator.find(_.stageIds.contains(i.stageId)).foreach(_.stages += s)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach { s =>
      s.endMs = i.completionTime.getOrElse(System.currentTimeMillis()).toDouble
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      val info = e.taskInfo
      s.tasks += 1
      s.busyMs += info.duration
      s.waitMs += math.max(0L, info.launchTime - s.submitMs.toLong)
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.shufRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.shufWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inBytes += m.inputMetrics.bytesRead
        s.inRecords += m.inputMetrics.recordsRead
        s.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLExecutionStart => synchronized { sqlStarted += 1 }
    case _: SparkListenerSQLExecutionEnd => synchronized { sqlEnded += 1 }
    case _ =>
  }

  def onPlan(qe: QueryExecution): Unit = {
    val rec = if (enabled) Some(planRecord(qe)) else None
    synchronized { plansSeen += 1; rec.foreach(plans += _) }
  }

  /** Waits (bounded) until every started job and SQL execution has ended
    * and every ended SQL execution reached the plan listener. */
  def quiesce(maxMs: Long = 5000): Unit = {
    val t0 = System.nanoTime()
    def settled = synchronized {
      jobsStarted == jobsEnded && sqlStarted == sqlEnded && plansSeen >= sqlEnded
    }
    while (!settled && (System.nanoTime() - t0) / 1e6 < maxMs) Thread.sleep(2)
  }

  def drain(): (Seq[JobRec], Seq[PlanRec]) = synchronized {
    val out = (jobs.toList, plans.toList)
    jobs.clear(); plans.clear(); stages.clear()
    out
  }

  // SQL metrics read from the final plan, by metric name; timings are
  // summed in seconds whatever unit the metric was created with.
  private val opMetric = Map(
    "pipelineTime" -> "operators.codegen_stage_s",
    "sortTime" -> "operators.sort_s",
    "aggTime" -> "operators.agg_s",
    "buildTime" -> "operators.join_build_s",
    "scanTime" -> "operators.scan_s")

  /** Every node of an executed plan, through AQE query stages; a reused
    * exchange counts once, where it first ran. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: other.children.flatMap(nodes)
  }

  private def planRecord(qe: QueryExecution): PlanRec = {
    val phases = qe.tracker.phases
    def ms(phase: String) = phases.get(phase).map(_.durationMs.toDouble).getOrElse(0.0)
    val sink = qe.analyzed match {
      case w: V2WriteCommand => w.table match {
        case r: DataSourceV2Relation => r.table.name == "noop-table"
        case _ => false
      }
      case _ => false
    }
    val ops = if (!sink) Map.empty[String, Double] else {
      val all = nodes(qe.executedPlan)
      val timings = for {
        n <- all; (k, m) <- n.metrics.toSeq; name <- opMetric.get(k)
      } yield name -> (if (m.metricType == "nsTiming") m.value / 1e9 else m.value / 1e3)
      timings.groupMapReduce(_._1)(_._2)(_ + _) ++ Map(
        "exchange.shuffles" -> all.count(_.isInstanceOf[ShuffleExchangeLike]).toDouble,
        "exchange.broadcasts" -> all.count(_.isInstanceOf[BroadcastExchangeLike]).toDouble,
        "sources.cache_scans" -> all.count(_.isInstanceOf[InMemoryTableScanExec]).toDouble)
    }
    PlanRec(sink, ms("optimization"), ms("planning"), ops)
  }
}

/** Registered through `spark.sql.queryExecutionListeners`, so every session
  * the program derives from the benchmark's session reports its plans. */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Collector.onPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Collector.onPlan(qe)
}
