package graft.operators

import scala.annotation.tailrec

/** The one until-converged driver loop, shared by [[Dedup.clusters]],
  * [[Graph.connectedComponentsStars]] and [[Variant.followChain]].
  *
  * Round policy (every caller follows it):
  *
  *  - each round's new frames are lazy `localCheckpoint(eager = false)`
  *    frames: the checkpoint cuts the lineage, so every round plans a flat
  *    tree (a self-join over the previous round would otherwise double the
  *    plan per round), and it runs no job of its own (a join the planner
  *    makes a broadcast still collects its build side in one);
  *  - the round runs ONE action, its convergence probe (a count or a
  *    label sum over the new frame), and that job materializes the round's
  *    checkpoints. An eager checkpoint followed by a separate probe would
  *    run two jobs per round, and this operator class pays the per-job
  *    driver latency once per round. Stars adds its exact anti-join diff
  *    on rounds whose counts match;
  *  - the probe reads the frame the next round reads: Spark truncates the
  *    lineage only of the first checkpoint a job's lineage walk reaches,
  *    so a checkpoint materialized merely as another's ancestor keeps its
  *    lineage, and a frame carried across rounds that way would grow it
  *    round by round;
  *  - the probe's scalar rides in the state `S` when the next round
  *    compares against it, so no round re-runs the previous round's probe;
  *  - checkpoint-backed frames are not CacheManager entries, so nothing
  *    unpersists them: dropping the reference lets the ContextCleaner
  *    reclaim their blocks;
  *  - a loop that reaches `maxIter` without converging throws rather than
  *    returning partial state.
  *
  * Fixed-round loops (PageRank, k-core, BPE, k-means) hold no
  * convergence state and stay plain `for` loops.
  */
private[graft] object Iterate {

  /** Calls `step` until it reports convergence and returns the state of
    * that round. Throws `IllegalStateException` naming `what` after
    * `maxIter` rounds without convergence. */
  def fixpoint[S](init: S, maxIter: Int, what: String)(step: S => (S, Boolean)): S = {
    require(maxIter >= 1, s"$what: maxIter must be at least 1, got $maxIter")
    @tailrec def round(s: S, i: Int): S = {
      val (next, converged) = step(s)
      if (converged) next
      else if (i == maxIter) throw new IllegalStateException(
        s"$what did not converge within $maxIter rounds; " +
          "raise the round budget rather than consume partial results")
      else round(next, i + 1)
    }
    round(init, 1)
  }
}
