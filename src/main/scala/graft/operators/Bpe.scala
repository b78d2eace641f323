package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Byte-pair-encoding merge induction ON THE ENGINE — the first `k`
  * tokenizer merge rules learned from the corpus itself, the step every
  * LLM data pipeline runs before anything tokenizes (Sennrich et al.,
  * ACL'16). Each round: count adjacent symbol pairs, pick the most
  * frequent (total-order tiebreak: highest count, then lexicographically
  * GREATEST (left, right) — any total order works, this one is
  * `max(struct(...))` in Spark and `ORDER BY ... DESC LIMIT 1` in SQL),
  * then merge its non-overlapping occurrences LEFTMOST-GREEDILY and
  * recount on the compacted sequence.
  *
  * Exact greedy semantics, not an approximation: overlapping occurrences
  * only arise inside runs of a self-pair (x x x x …), and there the
  * leftmost-greedy rule is "merge the 1st, 3rd, 5th… pair of the run" —
  * computed as even offset within each maximal run (gaps-and-islands,
  * the b57 machinery) rather than by sequential scanning, so the result
  * is deterministic at any parallelism and the DuckDB oracle unrolls the
  * identical algebra.
  *
  * Scale story per round: every window (adjacency lead, run islands, run
  * offsets, right-side drop) shares ONE hashpartitioning(doc) —
  * positions never shuffle on anything else; the pair count is one
  * partial-aggregated groupBy on (tok, ntok); the winning pair is a
  * 1-row aggregate broadcast back (the audited c19 one-row shape). Work
  * is O(corpus positions) per round, merge application is window-local —
  * no joins at all beyond the 1-row broadcast. `k` is small (unrolled
  * plan depth grows linearly with it); real tokenizer training runs this
  * loop to 30k merges with the same per-round shape plus per-round
  * checkpointing (the c17 lineage discipline).
  */
object Bpe {

  /** The first `k` merges over the space-tokenized `textCol`:
    * (rank, lhs, rhs, pair_count) — pair_count is the pre-merge
    * frequency that won the round, the standard BPE statistic.
    *
    * `roundPartitions`: shuffle-partition count for the per-round window
    * passes (default — the small-corpus heuristic min(parallelism, 8),
    * which right-sizes the demo fixtures where per-task scheduling floor
    * dominates). Production callers running real corpora MUST size this
    * to the corpus (positions / target-partition-rows); the default would
    * otherwise silently serialize every round over 8 partitions
    * (r9 ADVICE). */
  def merges(docs: DataFrame, idCol: String, textCol: String, k: Int,
             roundPartitions: Option[Int] = None): DataFrame =
    run(docs, idCol, textCol, k, roundPartitions)._1

  /** Both halves of one `k`-round chain, backed by the SAME per-round
    * checkpoints: the [[merges]] rules, and the corpus AFTER the first `k`
    * merges as (doc, pos, tok) symbol rows — what the learned rules buy,
    * measurable as sequence-length compression (c90). The c88/c90 pair
    * reads both from one chain, so the k rounds run once (guide §2.4:
    * don't compute the same iteration twice). */
  def mergesAndApply(docs: DataFrame, idCol: String, textCol: String, k: Int,
                     roundPartitions: Option[Int] = None): (DataFrame, DataFrame) =
    run(docs, idCol, textCol, k, roundPartitions)

  /** TEST-ONLY plan probe: the same chain with lineage truncation OFF, so
    * the per-round algebra (one hashpartitioning(doc) window family, the
    * 1-row winner broadcast, no sort-merge/cartesian pair join) is
    * visible in the composed physical plan. Production chains always
    * truncate — without the checkpoints plan size doubles per round —
    * so the load-bearing plan properties can only be asserted on this
    * probe (PlanSpec), never on [[merges]]/[[mergesAndApply]] output, which
    * is checkpoint scans by design. Never call with large k: plan size
    * is exponential in k without truncation. */
  private[graft] def planProbe(docs: DataFrame, idCol: String, textCol: String,
                               k: Int): (DataFrame, DataFrame) =
    run(docs, idCol, textCol, k, None, truncateLineage = false)

  private def run(docs: DataFrame, idCol: String, textCol: String, k: Int,
                  roundPartitions: Option[Int] = None,
                  truncateLineage: Boolean = true): (DataFrame, DataFrame) = {
    // truncateLineage=false exists ONLY for the PlanSpec probe ([[planProbe]]);
    // it turns every localCheckpoint below into identity so the full round
    // algebra composes into one inspectable plan
    def ckpt(df: DataFrame): DataFrame =
      if (truncateLineage) df.localCheckpoint(false) else df
    // Plan depth is NOT the binding constraint — the per-round lazy
    // localCheckpoint keeps every round's plan flat, so cost is k
    // sequential rounds of one window pass each. k ≤ 16 is the
    // EXACT-VERIFICATION envelope (c95's generated DuckDB CTE-chain oracle
    // stops at 16); 16 < k ≤ 32 runs the identical per-round algebra but
    // outside the oracle-gated range — unit-law coverage only (r9 ADVICE).
    // Production tokenizer training raises the cap and adds periodic eager
    // checkpoints to cut executor lineage depth.
    require(k >= 1 && k <= 32,
      s"k must be in [1,32] (wall-clock guard; k>16 is outside the exact-oracle envelope), got $k")
    // k sequential rounds each pay per-task scheduling on every shuffle
    // partition, so at depth the round floor — not the data — dominates:
    // run the rounds on a conf-isolated session clone (the Graph/kCore
    // discipline) with right-sized partitions and AQE off (nothing to
    // re-plan in a 1-row-broadcast round; AQE only adds per-round stage
    // re-optimization latency). The caller's session keeps its conf.
    val origin = docs.sparkSession
    val parts = roundPartitions.getOrElse(
      math.max(1, math.min(origin.sparkContext.defaultParallelism, 8)))
    require(parts >= 1, s"roundPartitions must be >= 1, got $parts")
    val sess = Sessions.isolated(origin,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> parts.toString)
    val wd = Window.partitionBy(col("doc")).orderBy(col("pos"))
    var alive = Sessions.reroot(
      docs.select(col(idCol).as("doc"),
        posexplode(graft.functions.Text.tokens(coalesce(col(textCol), lit(""))))
          .as(Seq("pos", "tok")))
        .where(col("tok") =!= ""), sess)
    var out: DataFrame = null
    for (r <- 1 to k) {
      val adj = alive
        .withColumn("ntok", lead(col("tok"), 1).over(wd))
        .withColumn("seq", row_number().over(wd))
      // The round winner is 1 row but its subtree is a full window pass +
      // pair count over this round's corpus. It feeds TWO consumers: the
      // merge application below (via broadcast) and the merges output
      // row. Lazy-checkpointing it (r17, guide §2.4) means the pass runs
      // once — during the application's broadcast build — and the merges
      // output reads the cached 1-row RDD instead of re-running a window
      // + aggregation pass per round when `out` is evaluated (at k=16
      // that re-run was 16 extra passes over 16 corpus snapshots). This
      // is the engine-native form of the driver-side merge list every
      // classic BPE trainer keeps: per-round algorithmic state, held as
      // a 1-row cached frame because builders must stay lazy.
      val best = ckpt(adj.where(col("ntok").isNotNull)
        .groupBy(col("tok"), col("ntok")).agg(count(lit(1)).as("c"))
        .agg(max(struct(col("c"), col("tok"), col("ntok"))).as("b"))
        .select(col("b.c").as("bc"), col("b.tok").as("bt"), col("b.ntok").as("bn")))
      val roundRow = best.select(lit(r).as("rank"), col("bt").as("lhs"),
        col("bn").as("rhs"), col("bc").as("pair_count"))
      out = if (out == null) roundRow else out.union(roundRow)
      // leftmost-greedy application: islands of consecutive matches, even
      // offsets merge, the following position is the consumed right side
      val wisl = Window.partitionBy(col("doc"), col("im")).orderBy(col("pos"))
      val woff = Window.partitionBy(col("doc"), col("isl")).orderBy(col("pos"))
      alive = ckpt(adj.crossJoin(broadcast(best))
        .withColumn("im", col("ntok").isNotNull &&
          col("tok") === col("bt") && col("ntok") === col("bn"))
        .withColumn("isl", when(col("im"), col("seq") - row_number().over(wisl)))
        .withColumn("mg", col("im") &&
          pmod(row_number().over(woff) - 1, lit(2)) === 0)
        .withColumn("pm", lag(col("mg"), 1).over(wd))
        .where(!coalesce(col("pm"), lit(false)))
        .select(col("doc"), col("pos"),
          when(col("mg"), concat(col("tok"), lit(" "), col("ntok")))
            .otherwise(col("tok")).as("tok")))
      // lineage truncation via ckpt (the kCoreApprox discipline): without
      // it each round's subtree re-derives ALL earlier rounds — once on
      // the probe side and once inside the next winner's broadcast build
      // — so plan size doubles per round. Lazy checkpoint keeps the build
      // lazy and the per-round plan flat.
    }
    (Sessions.reroot(out, origin), Sessions.reroot(alive, origin))
  }
}
