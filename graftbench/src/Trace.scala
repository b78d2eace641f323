package graftbench

import java.io.{File, PrintWriter}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Spans and per-layer numbers of a traced run, measured from outside the
  * program: the harness opens the call spans (`query`, `entry.build`,
  * `sink.run`); `job` and `stage` spans come from listener timestamps, a job
  * parented to the call span open when it started and a stage to its job.
  * Spans stay in memory until [[writeArtifacts]]. */
final class Trace(spark: SparkSession, cores: Int, runId: String) {
  spark.sparkContext.addSparkListener(Collector)
  Collector.enabled = true

  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds on the listener events' clock, at ns resolution. */
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private var lastId = 0L
  private def nextId(): Long = { lastId += 1; lastId }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private final case class Row(key: String, pass: Int, wallS: Double, v: Map[String, Double])
  private val rows = mutable.ArrayBuffer.empty[Row]

  /** Spans and layer numbers are recorded only while enabled. */
  def enable(on: Boolean): Unit = Collector.enabled = on

  /** Runs one key through the noop sink inside its spans; None if it threw. */
  def query(key: String, pass: Int)(build: => DataFrame): Option[Double] = {
    val trace = s"$runId/$pass/$key"
    val t0 = System.nanoTime()
    val q0 = nowMs
    var b1 = Double.NaN
    val ok = try {
      val df = build
      b1 = nowMs
      Harness.sink(df)
      true
    } catch { case NonFatal(e) =>
      System.err.println(s"[graftbench] $key failed: $e"); false
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val q1 = nowMs
    Collector.quiesce()
    val (jobs, plans) = Collector.drain()

    val root = Span(nextId(), 0L, "query", trace, q0, q1, Nil)
    val buildEnd = if (b1.isNaN) q1 else b1
    val buildSpan = Span(nextId(), root.id, "entry.build", trace, q0, buildEnd, Nil)
    val sink = if (b1.isNaN) None else Some(Span(nextId(), root.id, "sink.run", trace, b1, q1, Nil))
    // event times are whole milliseconds: a job is the sink's once it
    // starts within a millisecond of the sink call
    def parentOf(j: JobRec): Long =
      if (sink.exists(s => j.startMs >= s.startMs - 1)) sink.get.id
      else if (j.startMs >= q0 - 1) buildSpan.id else root.id
    val jobSpans = jobs.map { j =>
      val tot = new StageRec(-1, j.startMs); j.stages.foreach(tot.add)
      val js = Span(nextId(), parentOf(j), "job", trace, j.startMs, j.endMs, Seq(
        "job_id" -> j.jobId.toDouble, "stages" -> j.stages.size.toDouble,
        "tasks" -> tot.tasks.toDouble, "task_busy_s" -> tot.busyMs / 1e3,
        "shuffle_read_mb" -> tot.shufRead / Trace.MB, "shuffle_write_mb" -> tot.shufWrite / Trace.MB,
        "scan_mb" -> tot.inBytes / Trace.MB))
      val ss = j.stages.map { s =>
        Span(nextId(), js.id, "stage", trace, s.submitMs, s.endMs, Seq(
          "stage_id" -> s.stageId.toDouble, "tasks" -> s.tasks.toDouble,
          "task_busy_s" -> s.busyMs / 1e3, "task_cpu_s" -> s.cpuNs / 1e9,
          "task_wait_s" -> s.waitMs / 1e3, "shuffle_read_mb" -> s.shufRead / Trace.MB,
          "shuffle_write_mb" -> s.shufWrite / Trace.MB, "scan_mb" -> s.inBytes / Trace.MB,
          "scan_rows" -> s.inRecords.toDouble))
      }
      (js, tot, ss)
    }
    val tot = new StageRec(-1, q0); jobSpans.foreach(x => tot.add(x._2))
    val jobWallMs = Trace.covered(jobs.map(j => (j.startMs, j.endMs)), q0, q1)
    val gapMs = sink.map(s => (s.endMs - s.startMs) -
      Trace.covered(jobs.map(j => (j.startMs, j.endMs)), s.startMs, s.endMs)).getOrElse(0.0)
    val ops = plans.filter(_.sink).flatMap(_.ops).groupMapReduce(_._1)(_._2)(_ + _)
    val v = Map(
      "entry.build_s" -> (buildEnd - q0) / 1e3,
      "entry.build_jobs" -> jobSpans.count(_._1.parent == buildSpan.id).toDouble,
      "catalyst.optimize_s" -> plans.map(_.optimizeMs).sum / 1e3,
      "catalyst.plan_s" -> plans.map(_.planMs).sum / 1e3,
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> jobs.map(_.stages.size).sum.toDouble,
      "scheduler.tasks" -> tot.tasks.toDouble,
      "scheduler.job_wall_s" -> jobWallMs / 1e3,
      "scheduler.driver_gap_s" -> gapMs / 1e3,
      "scheduler.task_busy_s" -> tot.busyMs / 1e3,
      "scheduler.task_cpu_s" -> tot.cpuNs / 1e9,
      "scheduler.task_wait_s" -> tot.waitMs / 1e3,
      "exchange.shuffle_read_mb" -> tot.shufRead / Trace.MB,
      "exchange.shuffle_write_mb" -> tot.shufWrite / Trace.MB,
      "exchange.fetch_wait_s" -> tot.fetchWaitMs / 1e3,
      "exchange.spill_mb" -> tot.spill / Trace.MB,
      "sources.scan_mb" -> tot.inBytes / Trace.MB,
      "sources.scan_rows" -> tot.inRecords.toDouble,
      "sources.write_mb" -> tot.outBytes / Trace.MB) ++
      Trace.planMetrics.map(n => n -> ops.getOrElse(n, 0.0))

    spans += root.copy(attrs = Seq("wall_s" -> wallS) ++ v.toSeq.sortBy(_._1))
    spans += buildSpan
    sink.foreach(s => spans += s.copy(attrs = Seq("self_s" -> gapMs / 1e3)))
    jobSpans.foreach { case (js, _, ss) => spans += js; spans ++= ss }
    rows += Row(key, pass, wallS, v)
    if (ok) Some(wallS) else None
  }

  /** Per-pass sums over the timed passes, medians across them. */
  def passMetrics: Seq[(String, Double, String)] = {
    val perPass = rows.filter(_.pass > 0).groupBy(_.pass).values.map { rs =>
      val sums = Trace.units.keys.map(n => n -> rs.map(_.v.getOrElse(n, 0.0)).sum).toMap
      sums + ("scheduler.slot_util" ->
        sums("scheduler.task_busy_s") / (sums("scheduler.job_wall_s") * cores))
    }.toSeq
    (Trace.units + ("scheduler.slot_util" -> "ratio")).toSeq.sortBy(_._1).map { case (n, u) =>
      (n, Harness.median(perPass.map(_(n))), u)
    }
  }

  /** spans.jsonl (every span, the set-up pass included) and
    * layers.tsv (one row per key: medians over the timed passes of the main
    * layer numbers). */
  def writeArtifacts(out: String): Unit = {
    val sp = new PrintWriter(new File(out, "spans.jsonl"))
    spans.foreach { s =>
      val attrs = s.attrs.map { case (k, x) => s""", "$k": ${Harness.fmt(x)}""" }.mkString
      sp.println(s"""{"trace": "${s.trace}", "id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        s""""start_ms": ${Harness.fmt(s.startMs)}, "end_ms": ${Harness.fmt(s.endMs)}$attrs}""")
    }
    sp.close()
    val cols = Seq(
      "wall_s" -> ((r: Row) => r.wallS),
      "build_s" -> ((r: Row) => r.v("entry.build_s")),
      "optimize_plan_s" -> ((r: Row) => r.v("catalyst.optimize_s") + r.v("catalyst.plan_s")),
      "job_wall_s" -> ((r: Row) => r.v("scheduler.job_wall_s")),
      "driver_gap_s" -> ((r: Row) => r.v("scheduler.driver_gap_s")),
      "jobs" -> ((r: Row) => r.v("scheduler.jobs")),
      "build_jobs" -> ((r: Row) => r.v("entry.build_jobs")),
      "tasks" -> ((r: Row) => r.v("scheduler.tasks")),
      "shuffle_mb" -> ((r: Row) => r.v("exchange.shuffle_read_mb") + r.v("exchange.shuffle_write_mb")),
      "scan_mb" -> ((r: Row) => r.v("sources.scan_mb")),
      "cache_scans" -> ((r: Row) => r.v("sources.cache_scans")),
      "shuffles" -> ((r: Row) => r.v("exchange.shuffles")))
    val lt = new PrintWriter(new File(out, "layers.tsv"))
    lt.println(("key" +: cols.map(_._1)).mkString("\t"))
    rows.filter(_.pass > 0).groupBy(_.key).toSeq.sortBy(_._1).foreach { case (k, rs) =>
      lt.println((k +: cols.map { case (_, f) => "%.4f".format(Harness.median(rs.map(f).toSeq)) }).mkString("\t"))
    }
    lt.close()
  }
}

object Trace {
  val MB: Double = 1048576.0

  /** Milliseconds of [lo, hi] covered by the union of the intervals. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  val planMetrics: Seq[String] = Seq(
    "operators.codegen_stage_s", "operators.sort_s", "operators.agg_s",
    "operators.join_build_s", "operators.scan_s",
    "exchange.shuffles", "exchange.broadcasts", "sources.cache_scans")

  /** Per-query layer numbers and their units. */
  val units: Map[String, String] = Map(
    "entry.build_s" -> "s", "entry.build_jobs" -> "count",
    "catalyst.optimize_s" -> "s", "catalyst.plan_s" -> "s",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count", "scheduler.tasks" -> "count",
    "scheduler.job_wall_s" -> "s", "scheduler.driver_gap_s" -> "s",
    "scheduler.task_busy_s" -> "s", "scheduler.task_cpu_s" -> "s", "scheduler.task_wait_s" -> "s",
    "exchange.shuffle_read_mb" -> "MB", "exchange.shuffle_write_mb" -> "MB",
    "exchange.fetch_wait_s" -> "s", "exchange.spill_mb" -> "MB",
    "sources.scan_mb" -> "MB", "sources.scan_rows" -> "count", "sources.write_mb" -> "MB",
    "operators.codegen_stage_s" -> "s", "operators.sort_s" -> "s", "operators.agg_s" -> "s",
    "operators.join_build_s" -> "s", "operators.scan_s" -> "s",
    "exchange.shuffles" -> "count", "exchange.broadcasts" -> "count", "sources.cache_scans" -> "count")

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}
