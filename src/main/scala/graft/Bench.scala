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
    /** (shuffle read, shuffle write, spill) bytes since mark + peak task memory. */
    def delta(): (Long, Long, Long, Long) = {
      quiesce()
      (read.get - m0._1, write.get - m0._2, spill.get - m0._3, peak.get)
    }
  }

  /** Per-query metrics of the run that set the best time. */
  final case class QueryMetrics(readB: Long, writeB: Long, spillB: Long, peakB: Long)

  /** Result of the adaptive min-of-runs schedule: per-query best times
    * (-1 = failed in some run — failures dominate, they never masquerade as
    * fast queries), number of FULL passes completed, per-pass sums and wall
    * timestamps, and the queries re-timed by the outlier rounds. */
  final case class Outcome(
      best: Seq[(String, Double)],
      runs: Int,
      passSums: Seq[Double],
      passEnds: Seq[Double],
      retimed: Seq[String])

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
                  elapsed: () => Double, budgetSec: Double,
                  margin: Double = 1.3, slackSec: Double = 30.0,
                  outlierFloorSec: Double = 2.0, medianFactor: Double = 3.0,
                  maxRetimeRounds: Int = 2): Outcome = {
    val order = names.sorted
    val best = scala.collection.mutable.HashMap[String, Double]()
    val failed = scala.collection.mutable.Set[String]()
    val passSums = scala.collection.mutable.ArrayBuffer[Double]()
    val passEnds = scala.collection.mutable.ArrayBuffer[Double]()
    val retimed = scala.collection.mutable.ArrayBuffer[String]()
    def record(name: String, t: Double): Unit =
      if (t < 0) failed += name
      else best.get(name) match {
        case Some(p) => if (t < p) best(name) = t
        case None => best(name) = t
      }
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

  /** The one per-query stdout line, keyed by id prefix (a01.., b01..):
    * failed keys (-1) first, then the costliest, cut before the line would
    * pass `maxChars`. `"n"` is the number of keys run; the full per-key map
    * is the `queries_sec` ledger line. */
  def perQueryLine(results: Seq[(String, Double)], maxChars: Int = 1024): String = {
    val head = """{"per_query_sec":{"""
    val tail = s"""},"n":${results.size}}"""
    val entries = results
      .sortBy { case (_, v) => if (v < 0) Double.MinValue else -v }
      .map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" +
        "%.2f".formatLocal(java.util.Locale.ROOT, v) }
    // each entry costs its length plus one separator; the first has none
    val budget = maxChars - head.length - tail.length + 1
    val ends = entries.scanLeft(0)(_ + _.length + 1).tail
    val kept = entries.zip(ends).takeWhile(_._2 <= budget).map(_._1)
    kept.mkString(head, ",", tail)
  }

  /** Execute `name`'s whole plan at `sfDir` into the noop sink: the plan
    * Verify writes, minus the file encoding. A count() would let Catalyst
    * prune the final sort, windows and whole iterative chains, so the bench
    * would time a different plan. */
  def sink(spark: SparkSession, name: String, sfDir: String): Unit =
    SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()

  /** The untimed pass: each of `names` once into the noop sink at `sfDir`.
    * A key's first execution pays what later ones skip: JIT and codegen,
    * its shared frames' persists, the at-rest layouts it writes once and
    * the plan-keyed caches it fills. Running the keys themselves warms
    * exactly what the timed passes read, and only that. Each key runs in
    * its own try, so one failure cannot skip the keys after it. Returns
    * the keys that failed. */
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
    // pass ([[warm]]) so that pass is measured too: its seconds + shuffle
    // bytes ship as the "__warm__" pseudo-key in the committed ledger (r17
    // VERDICT #2 — growth of the untimed region must be a diffable signal;
    // the per-query rows bill each query's steady-state plan, this row
    // bills every first execution). Its failed keys are surfaced in stdout
    // JSON below: a driver run's stderr is unobservable after the fact,
    // and a silent warm gap reads exactly like a plan regression in the
    // byte ledger (the r16→r17 c02 mis-diagnosis).
    val acc = new TaskMetricsAcc
    spark.sparkContext.addSparkListener(acc)
    acc.mark()
    val warmT0 = System.nanoTime()
    val warmFailures = warm(spark, names, sfDir)
    val warmSec = (System.nanoTime() - warmT0) / 1e9
    val warmMetrics = { val (r, w, sp, pk) = acc.delta(); QueryMetrics(r, w, sp, pk) }
    val qMetrics = scala.collection.mutable.HashMap[String, QueryMetrics]()
    val bestSeen = scala.collection.mutable.HashMap[String, Double]()
    def runOne(name: String): Double = {
      acc.mark()
      val t0 = System.nanoTime()
      try {
        sink(spark, name, sfDir)
        val t = (System.nanoTime() - t0) / 1e9
        if (t < bestSeen.getOrElse(name, Double.MaxValue)) {
          bestSeen(name) = t
          val (r, w, sp, pk) = acc.delta()
          qMetrics(name) = QueryMetrics(r, w, sp, pk)
        }
        t
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0
      }
    }
    val out = adaptiveMin(names, runOne,
      () => elapsedSec, budgetSec.toDouble)
    val results = out.best
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // Output layout (the harness captures only a bounded TAIL of stdout, so
    // the machine-readable summary must be the LAST and SHORTEST line):
    //   1. one {"family":...} detail line per query family, full query
    //      names, 3-decimal secs — human/archival record; may be truncated
    //      away by the tail capture, that's fine;
    //   2. one {"retimed":...} detail line listing the outlier re-runs;
    //   2b. per-query shuffle/spill metrics appended to
    //       docs/bench/metrics_history.jsonl + one per-family shuffle
    //       summary line (see the comment at the write below);
    //   3. ONE bounded {"per_query_sec":...,"n":N} line ([[perQueryLine]]);
    //   4. ONE final {"metric":"total",...} line, compact: per-family
    //      subtotals, full-pass count + sums + wall timestamps, retime
    //      count, and the heap — enough to run a thrash-vs-stall
    //      post-mortem from the artifact alone.
    // The final line is ~1.3 KB — well inside the capture window — and is
    // the only line starting with {"metric", so a parser scanning for the
    // summary cannot pick up a detail line instead.
    def family(name: String): String = name.take(1)
    results.groupBy { case (n, _) => family(n) }.toSeq.sortBy(_._1).foreach {
      case (fam, qs) =>
        val body = qs.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + f(v) }
          .mkString("{", ",", "}")
        println(s"""{"family":"$fam","queries":$body}""")
    }
    println(s"""{"retimed":${out.retimed.map("\"" + _ + "\"").mkString("[", ",", "]")}}""")
    // Per-query shuffle/spill record. The harness captures only the LAST
    // ~2 KB of stdout — a 147-entry byte map cannot ride the tail — so the
    // full map goes to an appended JSONL file (committed with the round, so
    // cross-round shuffle drift is diffable from git history), a per-family
    // archival detail line goes to stdout, and the final total line carries
    // only the 4 whole-run totals. Shuffle volume is the host-independent
    // drift signal wall time is not.
    def mb(v: Long): Long = v >> 20
    val kb = (v: Long) => v >> 10 // KB in the file: fine enough to catch drift on small queries
    // "__warm__" pseudo-key first (kept out of qMetrics — the short-prefix
    // mangling below is for query names): the untimed pass's bytes ride
    // the same drift detector as every query row, so moving work into the
    // untimed region is itself a flagged byte regression.
    val mJson = (s""""__warm__":[${kb(warmMetrics.readB)},${kb(warmMetrics.writeB)},${kb(warmMetrics.spillB)},${kb(warmMetrics.peakB)}]""" +:
      qMetrics.toSeq.sortBy(_._1).map { case (k, m) =>
        "\"" + k.takeWhile(_ != '_') + s"""\":[${kb(m.readB)},${kb(m.writeB)},${kb(m.spillB)},${kb(m.peakB)}]"""
      }).mkString("{", ",", "}")
    // warm-gap observability: [] positively confirms a steady-state ledger;
    // a non-empty list names exactly which keys' first executions may have
    // landed in a timed run. Bounded (≤20 names), so it never grows with
    // query count; both ledger lines carry the same list, so a failed key
    // explains its own gap in the "__warm__" row.
    val warmFailJson = warmFailures.take(20).map("\"" + _ + "\"").mkString("[", ",", "]")
    // Run identity (VERDICT r7 #3): stamp the round so bench_history.py
    // keys runs by it instead of file position. The round comes only from
    // SPARK_GRAFT_ROUND; without it the field is left out (a guessed round
    // once stamped an 8-core scaling run as the next round). The app id
    // ties re-appended lines from the same JVM together, and cpus tells
    // runs of one round on different core counts apart.
    val round = sys.env.get("SPARK_GRAFT_ROUND").flatMap(r => scala.util.Try(r.toInt).toOption)
      .fold("")(r => s""""round":$r,""")
    val runId = s""""app":"${spark.sparkContext.applicationId}","sf":"$sfDir","cpus":$cpus"""
    val histLine = s"""{$round$runId,"unit":"kb_read_write_spill_peak","warm_failures":$warmFailJson,"queries":$mJson}"""
    // Companion SECONDS line (r17 VERDICT #2: the driver captures only a
    // ~2 KB stdout tail, so a full per-query map can never ride it — the
    // committed ledger is the only channel that survives; with this line
    // the next round's PERF per-query table is reconstructible from git
    // alone). Field is "queries_sec", NOT "queries": the drift parser
    // sums v[0]+v[1] over "queries" entries and must keep skipping this
    // line. Pass metadata (runs/pass sums/pass ends/retimes/cpus/budget)
    // rides along so a stall post-mortem is possible per run, and the
    // untimed pass's wall seconds complete the "__warm__" byte row above.
    def fmt2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val secJson = results.sortBy(_._1).map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + fmt2(v) }.mkString("{", ",", "}")
    val secLine = s"""{$round$runId,"unit":"sec","warm_sec":${fmt2(warmSec)},"runs":${out.runs},"pass_sums":${out.passSums.map(fmt2).mkString("[", ",", "]")},"pass_ends":${out.passEnds.map(fmt2).mkString("[", ",", "]")},"retimes":${out.retimed.size},"warm_failures":$warmFailJson,"queries_sec":$secJson}"""
    try {
      val dir = new java.io.File(sys.env.getOrElse("SPARK_GRAFT_METRICS_DIR", "docs/bench"))
      dir.mkdirs()
      val w = new java.io.FileWriter(new java.io.File(dir, "metrics_history.jsonl"), true)
      try w.write(histLine + "\n" + secLine + "\n") finally w.close()
    } catch { case e: Throwable => System.err.println(s"[bench] metrics file skipped: $e") }
    qMetrics.toSeq.groupBy { case (n, _) => family(n) }.toSeq.sortBy(_._1)
      .foreach { case (fam, qs) =>
        println(s"""{"family":"$fam","shuffle_read_mb":${mb(qs.map(_._2.readB).sum)},"shuffle_write_mb":${mb(qs.map(_._2.writeB).sum)},"spill_mb":${mb(qs.map(_._2.spillB).sum)},"peak_task_mb":${mb(qs.map(_._2.peakB).max)}}""")
      }
    // Per-query seconds get their OWN line: at 210 queries embedding the
    // map in the total line pushed the head fields (metric/value/n/failed)
    // past the harness's bounded stdout-tail capture and r8's bench went
    // unparsed. The line is capped at ~1 KB and leads with failures and the
    // costliest keys, so whatever the tail keeps is the part that matters;
    // tools/bench_history.py regex-scans the whole tail.
    println(perQueryLine(results))
    val fams = results.groupBy { case (n, _) => family(n) }.toSeq.sortBy(_._1)
      .map { case (fam, qs) => "\"" + fam + "\":" + f(qs.map(_._2).filter(_ >= 0).sum) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val failed = results.count(_._2 < 0)
    val sums = out.passSums.map(f).mkString("[", ",", "]")
    val ends = out.passEnds.map(f).mkString("[", ",", "]")
    val heapMb = Runtime.getRuntime.maxMemory() / (1L << 20)
    val shufR = mb(qMetrics.valuesIterator.map(_.readB).sum)
    val shufW = mb(qMetrics.valuesIterator.map(_.writeB).sum)
    val spillT = mb(qMetrics.valuesIterator.map(_.spillB).sum)
    val peakT = if (qMetrics.isEmpty) 0L else mb(qMetrics.valuesIterator.map(_.peakB).max)
    // emitted immediately BEFORE the total line so it lands inside the
    // harness's bounded stdout-tail capture (a driver run's stderr is
    // unobservable after the fact)
    println(s"""{"warm_failures":$warmFailJson}""")
    println(s"""{"metric":"total","value":${f(total)},"unit":"sec","n":${results.size},"failed":$failed,"runs":${out.runs},"pass_sums":$sums,"pass_ends":$ends,"retimes":${out.retimed.size},"heap_mb":$heapMb,"shuf_r_mb":$shufR,"shuf_w_mb":$shufW,"spill_mb":$spillT,"peak_mb":$peakT,"families":$fams,"sf":"$sfDir"}""")
    spark.stop()
  }
}
