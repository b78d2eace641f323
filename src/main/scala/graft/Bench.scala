package graft
import org.apache.spark.sql.SparkSession

import graft.operators.Sessions

object Bench {

  /** Task-metrics accumulator for per-query shuffle/spill attribution.
    *
    * Wall time alone cannot distinguish a plan regression from host noise
    * (the r3/r4 stall saga) — shuffle volume CAN: it is a deterministic
    * property of the plan + data, independent of vCPU weather. The bench
    * main resets `mark()` before each timed query and snapshots the deltas
    * after; queries run strictly sequentially, so every task between the
    * two marks belongs to the query. Attribution is exact, not sampled:
    * listener events are delivered in posting order, and a job's end event
    * follows all of its task-end events, so once started == ended jobs the
    * window's task metrics are complete ([[quiesce]] polls for that).
    * Driver-side tooling only — never touched by library code. */
  final class TaskMetricsAcc extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    private val read = new AtomicLong; private val write = new AtomicLong
    private val spill = new AtomicLong; private val peak = new AtomicLong
    private val started = new AtomicLong; private val ended = new AtomicLong
    private var m0 = (0L, 0L, 0L)

    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        peak.updateAndGet(p => math.max(p, m.peakExecutionMemory))
      }
    }
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      started.incrementAndGet()
    override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
      ended.incrementAndGet()

    /** Wait (bounded) until every started job's end event has been
      * delivered — after that, the accumulated task metrics for the
      * window are final. */
    def quiesce(maxMs: Long = 2000): Unit = {
      val t0 = System.nanoTime()
      while (started.get != ended.get && (System.nanoTime() - t0) / 1e6 < maxMs)
        Thread.sleep(10)
    }
    def mark(): Unit = { quiesce(); peak.set(0L); m0 = (read.get, write.get, spill.get) }
    /** The window since mark, `sec` long: shuffle read, shuffle write and
      * spill bytes, and the peak task memory. */
    def delta(sec: Double): RunMetrics = {
      quiesce()
      RunMetrics(sec, read.get - m0._1, write.get - m0._2, spill.get - m0._3, peak.get)
    }
  }

  /** Seconds and task metrics of one run: a key's fastest timed run, or the
    * whole untimed pass. */
  final case class RunMetrics(sec: Double, readB: Long, writeB: Long, spillB: Long, peakB: Long)

  /** Result of the adaptive min-of-runs schedule: per-query best times in
    * name order (-1 = failed in some run — failures dominate, they never masquerade as
    * fast queries), number of FULL passes completed, per-pass sums and wall
    * timestamps, and the queries re-timed by the outlier rounds. */
  final case class Outcome(
      best: Seq[(String, Double)],
      runs: Int,
      passSums: Seq[Double],
      passEnds: Seq[Double],
      retimed: Seq[String])

  // adaptiveMin's schedule constants, named as its scaladoc reads them
  private val margin = 1.3
  private val slackSec = 30.0
  private val outlierFloorSec = 2.0
  private val medianFactor = 3.0
  private val maxRetimeRounds = 2

  /** Adaptive min-of-runs scheduler — pure (runner + clock injected) so the
    * stall scenario is unit-testable without a stalling host.
    *
    * This container exhibits host-level stall windows (vCPU steal/pauses):
    * in back-to-back runs of identical code, random CONTIGUOUS stretches of
    * queries measure 10-70 s that standalone re-runs complete in <2 s, and
    * the slow set moves between runs. Min-of-N is the standard estimator for
    * the deterministic cost under one-sided noise — but r4's all-or-nothing
    * pass-2 guard inverted it: a stall-contaminated pass 1 consumed the
    * budget, so exactly when the host misbehaved, the contaminated numbers
    * shipped as the official record (BENCH_r04: runs:1, 1168 s that
    * standalone re-runs completed at ~1/20th). The fix:
    *
    *   1. full pass 1;
    *   2. full pass 2 only if `elapsed + margin·pass1 + slack < budget`
    *      (margin covers pass-to-pass variance so pass 2 can't blow the
    *      harness timeout the guard exists to avoid);
    *   3. then — whether or not pass 2 ran — up to `maxRetimeRounds` rounds
    *      of OUTLIER re-timing: queries whose current best exceeds
    *      `max(outlierFloorSec, medianFactor · family-median-of-bests)`,
    *      re-run cheapest-first while the per-query budget guard
    *      `elapsed + margin·best + slack < budget` holds. Re-timing the
    *      handful of stall-contaminated queries costs seconds once the host
    *      is calm again, and the per-query guard bounds the damage when it
    *      isn't. A second round only catches re-times that themselves
    *      stalled; each query is re-timed at most once per round, so
    *      genuinely-expensive queries waste at most `maxRetimeRounds` extra
    *      runs of their true cost.
    *
    * Failures are sticky: a query that failed in any run reports -1 and is
    * excluded from outlier selection and family medians. */
  def adaptiveMin(names: Seq[String], run: String => Double,
                  elapsed: () => Double, budgetSec: Double): Outcome = {
    val order = names.sorted
    val best = scala.collection.mutable.HashMap[String, Double]()
    val failed = scala.collection.mutable.Set[String]()
    val passSums = scala.collection.mutable.ArrayBuffer[Double]()
    val passEnds = scala.collection.mutable.ArrayBuffer[Double]()
    val retimed = scala.collection.mutable.ArrayBuffer[String]()
    def record(name: String, t: Double): Unit =
      if (t < 0) failed += name
      else if (best.get(name).forall(t < _)) best(name) = t
    def fullPass(): Double = {
      var sum = 0.0
      order.foreach { n => val t = run(n); record(n, t); if (t >= 0) sum += t }
      passSums += sum; passEnds += elapsed(); sum
    }
    val pass1Sum = fullPass()
    var passes = 1
    if (elapsed() + margin * pass1Sum + slackSec < budgetSec) {
      fullPass(); passes = 2
    }
    var round = 0
    var outOfBudget = false
    while (round < maxRetimeRounds && !outOfBudget) {
      val ok = order.filter(n => !failed(n) && best.contains(n))
      val famMedian = ok.groupBy(_.take(1)).map { case (f, qs) =>
        val s = qs.map(best(_)).sorted
        f -> s(s.size / 2)
      }
      val outliers = ok
        .filter(n => best(n) > math.max(outlierFloorSec, medianFactor * famMedian(n.take(1))))
        .sortBy(best(_))
      if (outliers.isEmpty) { round = maxRetimeRounds }
      else {
        outliers.foreach { n =>
          if (!outOfBudget && elapsed() + margin * best(n) + slackSec < budgetSec) {
            record(n, run(n)); retimed += n
          } else outOfBudget = true
        }
        round += 1
      }
    }
    Outcome(
      order.map(n => n -> (if (failed(n) || !best.contains(n)) -1.0 else best(n))),
      passes, passSums.toSeq, passEnds.toSeq, retimed.toSeq)
  }

  /** Everything one Bench run reports; its stdout lines and its ledger line
    * are all derived from it. `timed` holds each key's fastest successful
    * run (a key that never succeeded has none), while `outcome.best` holds
    * the reported seconds, -1 for a key that failed in any run. */
  final case class RunRecord(outcome: Outcome, timed: Map[String, RunMetrics],
                             warm: RunMetrics, warmFailures: Seq[String])

  /** A key's id, the part of its name before the first underscore. */
  private def id(name: String): String = name.takeWhile(_ != '_')
  private def str(s: String): String = "\"" + s + "\""
  private def f2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
  private def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
  private def list(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  // bounded, so the line never grows with the key count
  private def warmFailuresJson(rec: RunRecord): String = list(rec.warmFailures.take(20).map(str))

  /** The one per-query stdout line, keyed by id prefix (a01.., b01..):
    * failed keys (-1) first, then the costliest, cut before the line would
    * pass `maxChars`. `"n"` is the number of keys run; the full per-key map
    * is the ledger line's `queries_sec`. */
  def perQueryLine(results: Seq[(String, Double)], maxChars: Int = 1024): String = {
    val head = """{"per_query_sec":{"""
    val tail = s"""},"n":${results.size}}"""
    val entries = results
      .sortBy { case (_, v) => if (v < 0) Double.MinValue else -v }
      .map { case (k, v) => str(id(k)) + ":" + f2(v) }
    // each entry costs its length plus one separator; the first has none
    val budget = maxChars - head.length - tail.length + 1
    val ends = entries.scanLeft(0)(_ + _.length + 1).tail
    val kept = entries.zip(ends).takeWhile(_._2 <= budget).map(_._1)
    kept.mkString(head, ",", tail)
  }

  /** The run's one ledger line. `queries` holds a KB row [read, write,
    * spill, peak] per key, `__warm__` (the untimed pass) first, from the
    * run that set the key's best time; `queries_sec` holds every key's
    * seconds. `round` is there only when given: a dev run belongs to no
    * round. `app` ties lines from one JVM together, and `cpus` tells runs
    * of one round on different core counts apart. */
  def ledgerLine(rec: RunRecord, round: Option[Int], app: String, sf: String, cpus: Int): String = {
    val o = rec.outcome
    def kb(m: RunMetrics) = list(Seq(m.readB, m.writeB, m.spillB, m.peakB).map(b => (b >> 10).toString))
    val rows = ("__warm__" -> kb(rec.warm)) +: rec.timed.toSeq.sortBy(_._1).map { case (k, m) => id(k) -> kb(m) }
    round.fold("{")(r => s"""{"round":$r,""") +
      s""""app":${str(app)},"sf":${str(sf)},"cpus":$cpus,"warm_sec":${f2(rec.warm.sec)},""" +
      s""""runs":${o.runs},"pass_sums":${list(o.passSums.map(f2))},"pass_ends":${list(o.passEnds.map(f2))},""" +
      s""""retimed":${list(o.retimed.map(str))},"warm_failures":${warmFailuresJson(rec)},""" +
      s""""units":{"queries":"kb_read_write_spill_peak","queries_sec":"sec"},""" +
      s""""queries":${obj(rows)},"queries_sec":${obj(o.best.map { case (k, v) => id(k) -> f2(v) })}}"""
  }

  /** The run's three stdout lines. The bench harness captures only a
    * bounded tail of stdout, so the `{"metric":"total"}` line comes last,
    * stays small (no field grows with the key count) and is the only line
    * starting with `{"metric"`. The `warm_failures` line sits just before
    * it: a harness run's stderr is unobservable after the fact. */
  def stdoutLines(rec: RunRecord, sf: String, heapMb: Long): Seq[String] = {
    val o = rec.outcome
    val ok = o.best.filter(_._2 >= 0)
    val fams = o.best.groupBy(_._1.take(1)).toSeq.sortBy(_._1)
      .map { case (fam, qs) => fam -> f3(qs.map(_._2).filter(_ >= 0).sum) }
    val t = rec.timed.values.toSeq
    def mb(v: Long): Long = v >> 20
    val peak = if (t.isEmpty) 0L else mb(t.map(_.peakB).max)
    Seq(
      perQueryLine(o.best),
      s"""{"warm_failures":${warmFailuresJson(rec)}}""",
      s"""{"metric":"total","value":${f3(ok.map(_._2).sum)},"unit":"sec","n":${o.best.size},""" +
        s""""failed":${o.best.size - ok.size},"runs":${o.runs},"warm_sec":${f3(rec.warm.sec)},""" +
        s""""pass_sums":${list(o.passSums.map(f3))},"pass_ends":${list(o.passEnds.map(f3))},""" +
        s""""retimes":${o.retimed.size},"heap_mb":$heapMb,"shuf_r_mb":${mb(t.map(_.readB).sum)},""" +
        s""""shuf_w_mb":${mb(t.map(_.writeB).sum)},"spill_mb":${mb(t.map(_.spillB).sum)},""" +
        s""""peak_mb":$peak,"families":${obj(fams)},"sf":${str(sf)}}""")
  }

  /** Execute `name`'s whole plan at `sfDir` into the noop sink: the plan
    * Verify writes, minus the file encoding. A count() would let Catalyst
    * prune the final sort, windows and whole iterative chains, so the bench
    * would time a different plan. */
  def sink(spark: SparkSession, name: String, sfDir: String): Unit =
    SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()

  /** The untimed pass: each of `names` once into the noop sink at `sfDir`.
    * A key's first execution pays what later ones skip: JIT and codegen,
    * the persists of its `Shared` entries and the at-rest layouts it
    * writes once. Running the keys themselves warms exactly what the
    * timed passes read, and only that. Each key runs in its own try, so
    * one failure cannot skip the keys after it. Returns the keys that
    * failed. */
  def warm(spark: SparkSession, names: Seq[String], sfDir: String): Seq[String] =
    names.filter { n =>
      try { sink(spark, n, sfDir); false }
      catch { case e: Throwable =>
        System.err.println(s"[bench] warm '$n' failed (continuing): $e"); true }
    }

  /** Usage: runMain graft.Bench [<prefix> ...] — no prefixes = every key;
    * the scale factor comes from `SPARK_GRAFT_SF_DIR`. */
  def main(args: Array[String]): Unit = {
    val names = SparkEntry.select(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.envCpus
    val spark = Sessions.local(cpus)
    // wall budget for the WHOLE main (default 25 min), clock started before
    // the warmup — the warmup is several minutes of the wall the harness
    // sees, so a budget that excluded it could still let the timed work blow
    // the harness timeout and lose ALL output. Default sized for TWO full
    // passes of the 254-query suite on a hot host (r11: pass-1 alone was
    // 355.8 s on the hottest host recorded and the old 900 s default
    // degraded the run to runs=1 — the exact failure min-of-two exists to
    // prevent): the untimed pass (one execution of every key, ~one pass
    // plus the one-time builds) + 2×~360 s passes + retimes + slack.
    // Harness-timeout evidence (r12 ADVICE low): the budget caps VOLUNTARY
    // work (Bench sheds retimes, then the second pass, as the clock
    // approaches it — it never pads the wall), so raising it lengthens the
    // run only on hosts slow enough to need the headroom. The r12 driver
    // run consumed ~750-800 s wall under this default (pass_ends[1]=724.8 s
    // + retimes) and was not truncated (rc=0, total line parsed), so the
    // harness tolerates ≥13 min; a host needing the full 25 min budget is
    // the same 2×-slower host the r11 degradation proved exists. If the
    // harness timeout is ever observed below a completed run's wall, lower
    // this default to just above the observed steady-state wall instead.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "1500").toLong
    val mainStart = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - mainStart) / 1e9
    // Shuffle/spill observability: attribute task metrics to each timed
    // query (sequential execution ⇒ exact windows) and keep the metrics of
    // the run that set the query's best time — the same run the reported
    // seconds come from. The listener is registered BEFORE the untimed
    // pass ([[warm]]) so that pass is measured too: its bytes are the
    // "__warm__" ledger row and its seconds `warm_sec`, so moving work into
    // the untimed region is itself a flagged byte regression (r17 VERDICT #2).
    val acc = new TaskMetricsAcc
    spark.sparkContext.addSparkListener(acc)
    acc.mark()
    val warmT0 = System.nanoTime()
    val warmFailures = warm(spark, names, sfDir)
    val warmRun = acc.delta((System.nanoTime() - warmT0) / 1e9)
    val timed = scala.collection.mutable.HashMap[String, RunMetrics]()
    def runOne(name: String): Double = {
      acc.mark()
      val t0 = System.nanoTime()
      try {
        sink(spark, name, sfDir)
        val t = (System.nanoTime() - t0) / 1e9
        if (timed.get(name).forall(t < _.sec)) timed(name) = acc.delta(t)
        t
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0
      }
    }
    val out = adaptiveMin(names, runOne, () => elapsedSec, budgetSec.toDouble)
    val rec = RunRecord(out, timed.toMap, warmRun, warmFailures)
    // The committed ledger is the only channel a full per-key map survives
    // in: the harness captures a ~2 KB stdout tail. Shuffle bytes are the
    // host-independent drift signal wall time is not.
    val round = sys.env.get("SPARK_GRAFT_ROUND").flatMap(r => scala.util.Try(r.toInt).toOption)
    try {
      val dir = new java.io.File(sys.env.getOrElse("SPARK_GRAFT_METRICS_DIR", "docs/bench"))
      dir.mkdirs()
      val w = new java.io.FileWriter(new java.io.File(dir, "metrics_history.jsonl"), true)
      try w.write(ledgerLine(rec, round, spark.sparkContext.applicationId, sfDir, cpus) + "\n")
      finally w.close()
    } catch { case e: Throwable => System.err.println(s"[bench] metrics file skipped: $e") }
    stdoutLines(rec, sfDir, Runtime.getRuntime.maxMemory() / (1L << 20)).foreach(println)
    spark.stop()
  }
}
