package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class IterateSpec extends AnyFunSuite {

  test("fixpoint returns the state of the first converged round") {
    var steps = 0
    val got = Iterate.fixpoint(0, maxIter = 10, "count to 3") { s =>
      steps += 1
      (s + 1, s + 1 == 3)
    }
    assert(got == 3 && steps == 3)
  }

  test("fixpoint runs step exactly maxIter times, then throws naming what and maxIter") {
    var steps = 0
    val e = intercept[IllegalStateException] {
      Iterate.fixpoint(0, maxIter = 4, "never") { s => steps += 1; (s + 1, false) }
    }
    assert(steps == 4)
    assert(e.getMessage.contains("never") && e.getMessage.contains("4 rounds"), e.getMessage)
  }

  test("fixpoint converging on the last allowed round returns, not throws") {
    assert(Iterate.fixpoint(0, maxIter = 2, "two") { s => (s + 1, s + 1 == 2) } == 2)
  }

  test("fixpoint rejects a round budget below 1 without calling step") {
    var steps = 0
    intercept[IllegalArgumentException] {
      Iterate.fixpoint(0, maxIter = 0, "none") { s => steps += 1; (s, true) }
    }
    assert(steps == 0)
  }
}

/** Jobs each until-converged operator starts on a fixed chain, counted by
  * a listener. Under the [[Iterate]] round policy a round's one action is
  * its probe, which also materializes the round's lazy checkpoints; the
  * other jobs counted here are the broadcast-exchange builds the planner
  * picks for these small frames, and clusters' edge count on the caller's
  * AQE session (6 jobs). */
class IterateJobsSpec extends SparkSpec {

  private def chainPairs = {
    val s = spark; import s.implicits._
    (0 until 64).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
  }

  test("clusters and followChain run one probe action per round") {
    val s = spark; import s.implicits._
    val chain = (0L until 64L).map(i => (i, if (i == 0) None else Some(i - 1)))
      .toDF("id", "mgr")
    // 6 edge-count jobs + 1 init probe + 6 round probes + 9 broadcasts.
    // With an eager checkpoint and a separate label-sum per round it was 29.
    assert(jobsDuring(Dedup.clusters(chainPairs)) == 22)
    // 7 round probes + 2 broadcasts. With two eager checkpoints and a count
    // per round, plus the same three before the first round, it was 28.
    assert(jobsDuring(Variant.followChain(chain, "id", "mgr")) == 9)
  }

  test("stars CC runs one probe per round and one converged-round check") {
    // 1 init count + 7 round probes + 30 broadcasts + 1 anti-join check.
    // The check's isEmpty is one job: its limit(1) collects through a
    // single-partition exchange, so it does not re-run per partition range.
    assert(jobsDuring(Graph.connectedComponentsStars(chainPairs)) == 39)
  }
}
