package graft

import org.scalatest.funsuite.AnyFunSuite

/** The adaptive min-of-runs scheduler is pure (runner + clock injected), so
  * the host-stall scenarios that motivated it — which can't be reproduced on
  * demand — are simulated here. The r4 failure mode under test: a
  * stall-contaminated pass 1 consumed the wall budget, the all-or-nothing
  * pass 2 was skipped, and the contaminated numbers shipped as the official
  * record. The fix must recover the true times via outlier re-runs that fit
  * the remaining budget. The mains' key selection and Bench's stdout and
  * ledger lines are pure too and are checked here without Spark. */
class BenchSchedulerSpec extends AnyFunSuite {

  /** Simulated host: `run` returns the scripted duration for the i-th
    * invocation of each query (last entry repeats) and advances the clock
    * by exactly that much; failures (-1) cost `failCost` wall. */
  private class Sim(script: Map[String, Seq[Double]], default: Double = 0.5,
                    failCost: Double = 0.1) {
    var clock = 0.0
    private val calls = scala.collection.mutable.HashMap[String, Int]()
    def run(name: String): Double = {
      val i = calls.getOrElse(name, 0); calls(name) = i + 1
      val times = script.getOrElse(name, Seq(default))
      val t = times(math.min(i, times.size - 1))
      clock += (if (t < 0) failCost else t)
      t
    }
    def elapsed(): Double = clock
    def callCount(name: String): Int = calls.getOrElse(name, 0)
  }

  private val names = (1 to 5).map(i => f"a$i%02d_q") ++ (1 to 5).map(i => f"b$i%02d_q")

  test("stall in pass 1 + tight budget: pass 2 skipped, outlier re-run recovers the true time") {
    // a03 stalls to 60 s in pass 1 (true cost 0.5 s). After pass 1 the
    // budget can't fit a full pass 2 (64.5 + 1.3*64.5 + 30 > 175) but CAN
    // fit re-timing the one outlier (64.5 + 1.3*60 + 30 = 172.5 < 175).
    val sim = new Sim(Map("a03_q" -> Seq(60.0, 0.5)))
    val out = Bench.adaptiveMin(names, sim.run, sim.elapsed _, budgetSec = 175.0)
    assert(out.runs == 1) // full pass 2 was correctly skipped
    assert(out.retimed == Seq("a03_q"))
    val best = out.best.toMap
    assert(best("a03_q") == 0.5) // the recovered time, not the stall
    assert(names.forall(n => best(n) == 0.5))
  }

  test("calm host, ample budget: two full passes, nothing re-timed") {
    val sim = new Sim(Map.empty)
    val out = Bench.adaptiveMin(names, sim.run, sim.elapsed _, budgetSec = 900.0)
    assert(out.runs == 2)
    assert(out.retimed.isEmpty)
    assert(out.passSums.size == 2 && out.passEnds.size == 2)
    assert(out.best.forall(_._2 == 0.5))
  }

  test("re-time that itself stalls is retried by the second round") {
    // a03 stalls in pass 1 AND in its first re-run; budget 178 skips the
    // full pass 2 (64.5 + 1.3*64.5 + 30 > 178) but both outlier rounds fit.
    val sim = new Sim(Map("a03_q" -> Seq(60.0, 10.0, 0.5)))
    val out = Bench.adaptiveMin(names, sim.run, sim.elapsed _, budgetSec = 178.0)
    assert(out.runs == 1)
    assert(out.retimed == Seq("a03_q", "a03_q"))
    assert(out.best.toMap.apply("a03_q") == 0.5)
  }

  test("genuinely expensive query wastes at most maxRetimeRounds extra runs") {
    // c-free family: a03 really costs 30 s every run — it stays an outlier
    // but the rounds are bounded, so it runs 1 (pass) + 2 (rounds) times.
    val sim = new Sim(Map("a03_q" -> Seq(30.0)))
    val out = Bench.adaptiveMin(names, sim.run, sim.elapsed _, budgetSec = 10000.0)
    assert(out.best.toMap.apply("a03_q") == 30.0)
    assert(sim.callCount("a03_q") <= out.runs + 2)
  }

  test("failures are sticky and excluded from outlier selection") {
    val sim = new Sim(Map("b02_q" -> Seq(-1.0, 0.5)))
    val out = Bench.adaptiveMin(names, sim.run, sim.elapsed _, budgetSec = 900.0)
    val best = out.best.toMap
    assert(best("b02_q") == -1.0) // failed in pass 1 => reported failed
    assert(!out.retimed.contains("b02_q"))
  }

  test("out-of-budget mid-round stops re-timing without losing earlier results") {
    // two stalls; budget admits re-timing only the cheaper one
    // (after pass 1: elapsed = 4+20+40 = 64; retime q20: 64+1.3*20+30=120
    // < 125 ok -> +0.5; retime q40: 64.5+1.3*40+30 = 146.5 > 125 -> stop)
    val sim = new Sim(Map("a02_q" -> Seq(20.0, 0.5), "b04_q" -> Seq(40.0, 0.5)))
    val out = Bench.adaptiveMin(names, sim.run, sim.elapsed _, budgetSec = 125.0)
    val best = out.best.toMap
    assert(out.retimed == Seq("a02_q"))
    assert(best("a02_q") == 0.5 && best("b04_q") == 40.0)
  }

  test("select: no prefixes is every key, sorted") {
    val all = SparkEntry.select(Nil)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("select: a prefix picks every key it starts, a full name picks itself") {
    val b7 = SparkEntry.select(Seq("b7"))
    assert(b7.nonEmpty && b7.forall(_.startsWith("b7")))
    assert(b7 == b7.sorted)
    val full = SparkEntry.queries.keys.filter(_.startsWith("b70_")).toSeq
    assert(full.size == 1)
    assert(SparkEntry.select(full) == full)
    assert(SparkEntry.select(Seq("a01", "b7")) == SparkEntry.select(Seq("a01")) ++ b7)
  }

  test("select: a prefix that matches no key fails, naming every such prefix") {
    val e = intercept[IllegalArgumentException](SparkEntry.select(Seq("a01", "b7O", "zz")))
    assert(e.getMessage.contains("b7O") && e.getMessage.contains("zz"))
    assert(!e.getMessage.contains("a01"))
  }

  test("per-query line: failures first, then costliest, capped near 1 KB") {
    val results = (1 to 300).map(i => f"c$i%03d_q" -> i / 100.0) :+ ("b02_q" -> -1.0)
    val line = Bench.perQueryLine(results)
    assert(line.length <= 1024 && line.length > 1000)
    assert(line.startsWith("""{"per_query_sec":{"b02":-1.00,"c300":3.00,"c299":2.99,"""))
    assert(line.endsWith("""},"n":301}"""))
    assert(Bench.perQueryLine(Seq("a01_q" -> 0.5)) == """{"per_query_sec":{"a01":0.50},"n":1}""")
  }

  private val rec = Bench.RunRecord(
    Bench.Outcome(Seq("a01_q" -> 0.5, "b02_q" -> -1.0, "c03_q" -> 2.25), runs = 2,
      passSums = Seq(3.0, 2.5), passEnds = Seq(10.0, 13.0), retimed = Seq("c03_q")),
    timed = Map("c03_q" -> Bench.RunMetrics(2.25, 3L << 10, 2L << 10, 0L, 5L << 20),
      "a01_q" -> Bench.RunMetrics(0.5, 0L, 0L, 0L, 1L << 10)),
    warm = Bench.RunMetrics(7.5, 100L << 10, 50L << 10, 0L, 1L << 20),
    warmFailures = Seq("b02_q"))

  private def json(line: String) = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)

  test("ledger line: KB rows with __warm__ first, seconds and the run's metadata on one line") {
    val line = Bench.ledgerLine(rec, None, "local-1", "/sf", 4)
    assert(line == """{"app":"local-1","sf":"/sf","cpus":4,"warm_sec":7.50,"runs":2,""" +
      """"pass_sums":[3.00,2.50],"pass_ends":[10.00,13.00],"retimed":["c03_q"],""" +
      """"warm_failures":["b02_q"],"units":{"queries":"kb_read_write_spill_peak","queries_sec":"sec"},""" +
      """"queries":{"__warm__":[100,50,0,1024],"a01":[0,0,0,1],"c03":[3,2,0,5120]},""" +
      """"queries_sec":{"a01":0.50,"b02":-1.00,"c03":2.25}}""")
    assert(!json(line).has("round"))
    val stamped = Bench.ledgerLine(rec, Some(19), "local-1", "/sf", 4)
    assert(stamped == line.replace("""{"app"""", """{"round":19,"app""""))
    assert(json(stamped).get("round").asInt == 19)
  }

  test("stdout: per-query, warm-failures and total lines, the total last, small and carrying warm_sec") {
    val Seq(perQuery, warmFailures, total) = Bench.stdoutLines(rec, "/sf", 20480)
    assert(perQuery == Bench.perQueryLine(rec.outcome.best))
    assert(warmFailures == """{"warm_failures":["b02_q"]}""")
    assert(total == """{"metric":"total","value":2.750,"unit":"sec","n":3,"failed":1,"runs":2,""" +
      """"warm_sec":7.500,"pass_sums":[3.000,2.500],"pass_ends":[10.000,13.000],"retimes":1,""" +
      """"heap_mb":20480,"shuf_r_mb":0,"shuf_w_mb":0,"spill_mb":0,"peak_mb":5,""" +
      """"families":{"a":0.500,"b":0.000,"c":2.250},"sf":"/sf"}""")
    // at the full key count with every key failing its warm-up
    val names = SparkEntry.queries.keys.toSeq.sorted
    val big = rec.copy(outcome = rec.outcome.copy(best = names.map(_ -> 1234.5)),
      warmFailures = names)
    val lines = Bench.stdoutLines(big, "/data/graft/testdata/sf0.1", 20480)
    lines.foreach(l => json(l))
    assert(lines.last.length < 1536)
  }
}
