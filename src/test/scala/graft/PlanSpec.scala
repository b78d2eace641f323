package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** 100 TB discipline checks (SURVEY.md §7.3): filters reach the parquet
  * scan, projections prune the read schema, dim joins broadcast, and the
  * similarity hot path stays inside whole-stage codegen. Runs on sf0.001. */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def physicalPlan(df: org.apache.spark.sql.DataFrame): String =
    planText(df.queryExecution.executedPlan)

  /** `p` printed with each embedded cached plan once. A materialized
    * `InMemoryRelation`'s adaptive plan prints its final plan above its
    * initial one, so node counts would double once anything ran the cache;
    * the nested `== Final Plan ==` sections are dropped, leaving the
    * initial plan an unmaterialized cache prints. A top-level final plan
    * (column 0) is kept. */
  private def planText(p: org.apache.spark.sql.execution.SparkPlan): String = {
    val out = new StringBuilder
    var skipAt = -1 // column of the Final Plan header being skipped
    p.toString.linesIterator.foreach { l =>
      if (skipAt >= 0 && l.indexOf("+- == Initial Plan ==") == skipAt) skipAt = -1
      if (skipAt < 0) {
        val at = l.indexOf("+- == Final Plan ==")
        if (at > 0) skipAt = at else out.append(l).append('\n')
      }
    }
    out.toString
  }

  /** AQE's AdaptiveSparkPlanExec wrapper is itself a leaf until executed —
    * unwrap to the real tree for leaf inspection. */
  private def unwrapAqe(p: org.apache.spark.sql.execution.SparkPlan)
      : org.apache.spark.sql.execution.SparkPlan = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      a.executedPlan
    case other => other
  }

  test("filter is pushed down to the parquet scan") {
    val df = Tables.t(spark, sf, "lineitem")
      .where(col("l_quantity") > 30.0)
      .select(col("l_orderkey"))
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("l_quantity"),
      s"expected pushed filter in scan:\n$scan")
  }

  test("projection prunes the parquet read schema to selected columns") {
    val df = Tables.t(spark, sf, "lineitem").select(col("l_orderkey"), col("l_quantity"))
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("ReadSchema"))
    assert(!scan.contains("l_extendedprice"),
      s"unselected column leaked into scan:\n$scan")
  }

  test("dim join uses BroadcastHashJoin, fact-fact join does not collect") {
    val plan = physicalPlan(SparkEntry.queries("b02_join_broadcast")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("TPC-H Q1 aggregation has a partial (map-side) aggregate") {
    val plan = physicalPlan(SparkEntry.queries("b01_tpch_q1")(spark, sf))
    assert(plan.contains("HashAggregate"))
    assert(plan.contains("partial_"), s"expected partial aggregation:\n$plan")
  }

  test("codegen cosine expression runs inside WholeStageCodegen") {
    val emb = Tables.t(spark, sf, "embeddings")
    val df = emb.select(graft.functions.Similarity.cosine(col("embedding"), col("embedding")).as("c"))
    // `*(n)` prefixes in the physical plan mark WholeStageCodegen stages;
    // the Project holding cosinesim must carry one.
    val plan = physicalPlan(df)
    assert(plan.linesIterator.exists(l => l.contains("cosinesim") && l.contains("*(")),
      s"cosine fell out of codegen:\n$plan")
  }

  test("linear as-of join plans exactly one shuffle exchange (plus the output sort)") {
    val plan = SparkEntry.queries("b08_join_asof")(spark, sf)
      .queryExecution.executedPlan.toString
    // one hash exchange on user_id for the window; one range exchange for
    // the deterministic output sort; a join-based as-of would add more
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1, s"expected 1 hash exchange, plan:\n$plan")
    assert(!plan.contains("Join"), s"as-of should be join-free:\n$plan")
  }

  test("multi-way star join broadcasts every dimension, never shuffles the fact table") {
    val plan = SparkEntry.queries("b03_join_multi")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).length == 4, plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"), plan)
  }

  test("minhash pipeline reads the persisted shingle index, not three recomputations") {
    val plan = SparkEntry.queries("c02_dedup_minhash")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"), s"shingle index not persisted:\n$plan")
    // the raw documents scan appears only inside the cached relation
    assert("Scan parquet".r.findAllIn(plan).length <=
      "InMemoryRelation".r.findAllIn(plan).length, plan)
    // r17 one-exchange shape: the banded frame shuffles once, the
    // maxBucket cap is a window count over that partitioning, and the
    // bounded collect_list pair expansion runs in the same stage — no
    // band self-join, no hot-set anti-join (they paid the banded
    // exchange twice + a count shuffle; c02 ledger 12,176 KB → halved)
    assert(plan.contains("Window"), s"maxBucket cap must be a window count:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"pair expansion must not be a shuffled self-join:\n$plan")
  }

  test("b130 npy ids-only scan: partial aggregates per part, no joins, no parquet") {
    // the column-pruned consumer must stay the cheapest possible pass:
    // one task per ids file, map-side partial aggregation, a single
    // 1-row final exchange — and it must never touch the parquet
    // original or any vec payload (the layout itself is pre-built by
    // the shared ensureWritten purpose)
    val plan = physicalPlan(SparkEntry.queries("b130_npy_ids_scan")(spark, sf))
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"ids aggregates must map-side combine:\n$plan")
    assert(!plan.contains("Scan parquet"),
      s"ids-only scan must not touch the parquet original:\n$plan")
  }

  test("c121 npy-served ANN: zero parquet scans, one bounded BNLJ, repartitioned probe") {
    // the store-served parity key: both bruteTopK legs must come from
    // the npy layout (no parquet anywhere), the only join is the
    // audited 5-row-broadcast BNLJ (the c06 shape, PLANS.md list), and
    // the item-scoring pass must not run in one task off the
    // single-pair layout (the c104 rule: a numbered repartition must
    // sit between the npy read and the scoring join)
    val plan = physicalPlan(SparkEntry.queries("c121_ann_npy_topk")(spark, sf))
    assert(!plan.contains("Scan parquet"),
      s"npy-served ANN must not touch parquet:\n$plan")
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length == 1 &&
      !plan.contains("CartesianProduct"),
      s"expected exactly the one bounded-broadcast BNLJ:\n$plan")
    assert(plan.contains("Exchange RoundRobinPartitioning"),
      s"npy probe side must be repartitioned off the single-pair layout:\n$plan")
  }

  test("c122 slice-rerank cascade: no parquet, one coarse BNLJ, item table never shuffled to a join") {
    // the PQ/ADC consumer: coarse scoring over the store's dim-slice
    // scan is the one audited bounded-broadcast BNLJ; the exact stage's
    // survivor/query joins must be broadcast hash joins (the item table
    // is never shuffled on a join key — only the two top-k windows and
    // the numbered repartition exchange)
    val plan = physicalPlan(SparkEntry.queries("c122_ann_slice_rerank")(spark, sf))
    assert(!plan.contains("Scan parquet"),
      s"store-served cascade must not touch parquet:\n$plan")
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length == 1 &&
      !plan.contains("CartesianProduct"),
      s"expected exactly the one coarse BNLJ:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"item table must never shuffle on a join key:\n$plan")
  }

  test("c123 npy-served IVF: zero parquet scans, two bounded assignment BNLJs, repartitioned items") {
    // the store-served scale path: both cell assignments (items +
    // queries) are the audited broadcast-codebook BNLJ, the item side
    // must be numbered-repartitioned off the single-pair layout (the
    // c104 rule), and nothing may touch the parquet original
    val plan = physicalPlan(SparkEntry.queries("c123_ann_npy_ivf")(spark, sf))
    assert(!plan.contains("Scan parquet"),
      s"store-served IVF must not touch parquet:\n$plan")
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length == 2 &&
      !plan.contains("CartesianProduct"),
      s"expected exactly the two bounded-broadcast assignment BNLJs:\n$plan")
    assert(plan.contains("Exchange RoundRobinPartitioning"),
      s"item side must be repartitioned off the single-pair layout:\n$plan")
  }

  test("b131 npy dim-slice roundtrip: merge join, no broadcast of the npy read-back") {
    // the b129 join discipline: the slice read-back's stats descend from
    // a LocalRelation of file names, so an unforced plan would broadcast
    // the whole read-back — the key must keep the forced merge join with
    // numbered-repartitioned inputs
    val plan = physicalPlan(SparkEntry.queries("b131_npy_dim_slice")(spark, sf))
    assert(plan.contains("SortMergeJoin"), s"expected forced merge join:\n$plan")
    assert(!plan.contains("BroadcastHashJoin") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"npy read-back must never broadcast:\n$plan")
  }

  test("c120 stream-near-dup readout keeps the banded equi-join shape — no all-pairs") {
    // the r16 graduation key must inherit c37's audited plan: candidates
    // come from the (band, bandsig) equi-join over the persisted shingle
    // index, never a nested-loop/cartesian fallback
    val plan = physicalPlan(SparkEntry.queries("c120_stream_neardup_live")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"banded candidate join fell back to all-pairs:\n$plan")
    assert(plan.contains("bandsig#"), s"band signature key missing from join:\n$plan")
    assert(plan.contains("InMemoryTableScan"), s"shingle index not persisted:\n$plan")
  }

  test("exact embedding similarity join is tiled — no nested-loop or cartesian join") {
    val plan = physicalPlan(SparkEntry.queries("c05_dedup_embedding")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"embedding pair join fell back to an unblocked O(n²) plan:\n$plan")
    // the tile join must be a hash/merge EQUI-join on the tile id (broadcast
    // is fine at tiny scale; the key property is no nested-loop fallback)
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("tile#"), s"tile key missing from join:\n$plan")
  }

  test("LSH ANN candidates come from a bucket equi-join, never a nested loop over items") {
    val plan = physicalPlan(SparkEntry.queries("c22_ann_lsh")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"LSH candidate join fell back to all-pairs:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast equi-join on bucket:\n$plan")
  }

  test("binned range join is an equi-join on (key, bin) — no nested loop") {
    val plan = physicalPlan(SparkEntry.queries("b35_range_join")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join fell back to an unblocked O(n²) plan:\n$plan")
    assert(plan.contains("__bin"), s"bin key missing from join:\n$plan")
  }

  test("stream interval join in batch parity is an equi-join on the key — no nested loop") {
    val plan = physicalPlan(SparkEntry.queries("b42_stream_interval_join")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"interval join fell back to an unblocked O(n²) plan:\n$plan")
    assert(plan.contains("user_id"), s"equi key missing from join:\n$plan")
  }

  test("bucketed fact-fact join plans zero exchanges below the join") {
    val plan = physicalPlan(SparkEntry.queries("b37_bucketed_join")(spark, sf))
    assert(plan.contains("SortMergeJoin"), s"merge-hinted bucketed join missing:\n$plan")
    // bucket co-location: the ONLY hash exchange is the post-join groupBy;
    // a non-bucketed read would add one per join input (3 total)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1,
      s"expected 1 hash exchange (aggregation only), got $hashExchanges:\n$plan")
  }

  test("partitioned layout prunes directories at planning time") {
    val df = SparkEntry.queries("b38_partition_prune")(spark, sf)
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("o_orderpriority"),
      s"expected a partition filter on o_orderpriority in the scan:\n$scan")
    assert(!scan.replaceAll("PartitionFilters: \\[[^\\]]*\\]", "").contains("o_orderpriority")
      || scan.contains("1-URGENT"),
      s"partition predicate did not reach the directory filter:\n$scan")
  }

  test("scd2 as-of: the time predicate reaches the scan; one compaction, no intervals") {
    val plan = physicalPlan(SparkEntry.queries("b89_scd2_asof")(spark, sf))
    assert(plan.contains("PushedFilters") && plan.contains("LessThanOrEqual(ts"),
      s"AS OF predicate must push into the parquet scan:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Join"),
      s"the as-of read must be one compaction aggregate, not interval construction:\n$plan")
  }

  test("snapshot diff: one full-outer equi-join, no version re-scan amplification") {
    val plan = physicalPlan(SparkEntry.queries("b87_snapshot_diff")(spark, sf))
    assert(plan.contains("FullOuter"), s"expected the full-outer version join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("bucketed aggregation plans zero hash exchanges — the scan satisfies the distribution") {
    val plan = physicalPlan(SparkEntry.queries("b86_bucketed_agg")(spark, sf))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"groupBy on the bucket key must not shuffle:\n$plan")
    assert(plan.contains("Bucketed: true"), s"expected the bucketed scan:\n$plan")
  }

  test("partitioned+bucketed layout prunes directories AND joins exchange-free") {
    val df = SparkEntry.queries("b63_partitioned_bucketed")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"merge-hinted bucketed join missing:\n$plan")
    // both layout dimensions at once: the priority filter reaches the
    // directory listing (PartitionFilters), and the only hash exchange is
    // the post-join aggregation — the bucketed sides never shuffle
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("o_orderpriority")).getOrElse("")
    assert(scan.contains("PartitionFilters") && scan.contains("1-URGENT"),
      s"expected the priority predicate in PartitionFilters:\n$scan")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1,
      s"expected 1 hash exchange (aggregation only), got $hashExchanges:\n$plan")
  }

  test("z-ordered scan pushes both box predicates to the parquet reader") {
    val df = SparkEntry.queries("b64_zorder_prune")(spark, sf)
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("o_custkey")
      && scan.contains("o_day"),
      s"expected both box dimensions in PushedFilters:\n$scan")
  }

  test("hilbert scan pushes both box predicates to the parquet reader") {
    val df = SparkEntry.queries("b93_hilbert_prune")(spark, sf)
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("o_custkey")
      && scan.contains("o_day"),
      s"expected both box dimensions in PushedFilters:\n$scan")
  }

  test("hilbert key query is a narrow top-k — per-task heaps, no global sort exchange") {
    val plan = physicalPlan(SparkEntry.queries("b92_hilbert_key")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject (top-k heaps), got:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"key+limit must not plan a global sort:\n$plan")
  }

  test("lsh advisor never materializes a candidate pair — stats aggregates plus one 1-row broadcast") {
    val plan = physicalPlan(SparkEntry.queries("c94_lsh_advisor")(spark, sf))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"advisor must not join candidate pairs:\n$plan")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnlj <= 1, s"expected at most the 1-row n_docs broadcast, got $bnlj:\n$plan")
  }

  test("join-order advisor: cell-grid joins only — the raw tables never join each other") {
    val plan = physicalPlan(SparkEntry.queries("c100_join_order")(spark, sf))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastNestedLoopJoin")
      && !plan.contains("CartesianProduct"),
      s"advisor must join only the tiny cell grids (hash join on (r,bucket)):\n$plan")
  }

  test("tpch q18: lineitem is scanned and aggregated exactly once — no correlated re-scan") {
    val plan = physicalPlan(SparkEntry.queries("b98_tpch_q18")(spark, sf))
    val lineitemScans = "lineitem\\.parquet".r.findAllIn(plan).length
    assert(lineitemScans == 1,
      s"expected exactly 1 lineitem scan (aggregate-once HAVING shape), got $lineitemScans:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected top-100 as TakeOrdered, got:\n$plan")
  }

  test("funnel4: the N-stage funnel still shares ONE user exchange across all four stage windows") {
    val plan = physicalPlan(SparkEntry.queries("b102_funnel4")(spark, sf))
    val userExchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length
    assert(userExchanges == 1,
      s"expected exactly 1 user_id exchange shared by the 4 stage windows, got $userExchanges:\n$plan")
    assert(!plan.contains("Join"), s"funnel must stay join-free:\n$plan")
    assert(plan.contains("Generate stack") || plan.contains("stack("),
      s"expected the stack unpivot:\n$plan")
  }

  test("funnel: one user-partition shuffle shared by all three stage windows, no joins") {
    val plan = physicalPlan(SparkEntry.queries("b94_funnel")(spark, sf))
    val userExchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length
    assert(userExchanges == 1,
      s"expected exactly 1 user_id exchange shared by the stage windows, got $userExchanges:\n$plan")
    assert(!plan.contains("Join"), s"funnel must stay join-free:\n$plan")
    assert(plan.contains("Generate stack") || plan.contains("stack("),
      s"expected the stack unpivot (a union would re-derive the pipeline per stage):\n$plan")
  }

  test("tpch q17: one lineitem scan serves the per-part window and the probe — no correlated re-scan") {
    val plan = physicalPlan(SparkEntry.queries("b104_tpch_q17")(spark, sf))
    val lineitemScans = "lineitem\\.parquet".r.findAllIn(plan).length
    assert(lineitemScans == 1,
      s"expected exactly 1 lineitem scan (window form, not the correlated-subquery double scan), got $lineitemScans:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"filtered part keys must broadcast:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("hard negatives: exactly one bounded BNLJ (broadcast query side), top-k heaps below the exchange") {
    val plan = physicalPlan(SparkEntry.queries("c102_hard_negatives")(spark, sf))
    val bnlj = "BroadcastNestedLoopJoin BuildRight".r.findAllIn(plan).length
    assert(bnlj == 1 && !plan.contains("CartesianProduct"),
      s"expected exactly 1 BNLJ with the tiny query set as the broadcast build side, got $bnlj:\n$plan")
    // partial WindowGroupLimit below the query_id exchange = per-task
    // top-k heaps bound what shuffles (the load-bearing plan feature)
    val wgl = "WindowGroupLimit".r.findAllIn(plan).length
    assert(wgl == 2,
      s"expected partial+final WindowGroupLimit pair around the exchange, got $wgl:\n$plan")
  }

  test("edit-distance pairs: DP side round-robin repartitioned, block side broadcast") {
    // the load-bearing perf property (7.4 s -> sub-s at sf0.1): the
    // quadratic Levenshtein verify must run on the explicitly
    // repartitioned stream side, never serially on a 1-file input layout
    val plan = physicalPlan(SparkEntry.queries("c104_edit_distance_pairs")(spark, sf))
    assert(plan.contains("RoundRobinPartitioning"),
      s"expected the user-specified round-robin exchange spreading the DP:\n$plan")
    assert("BroadcastHashJoin.*BuildRight".r.findFirstIn(plan).isDefined,
      s"block side must broadcast (BuildRight), keeping the DP on the repartitioned side:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("c31 LSH verify: vector frame round-robin repartitioned, round gated by raw prefilter") {
    // the two r13 fixes for the five-round c31 wall-drift flag (settled in
    // docs/bench_notes.md): (1) the candidate verify must run on the
    // explicitly repartitioned vector frame, never serially on the 1-file
    // embeddings scan layout (the c104 pathology — 5.4-7.7 s -> 1.9-2.6 s
    // standalone); (2) the exact round(cos,6) must sit BEHIND the raw
    // cosine prefilter so its per-evaluation BigDecimal runs on
    // near-threshold survivors only, not on the ~12M-candidate stream.
    val plan = physicalPlan(SparkEntry.queries("c31_embedding_lsh_pairs")(spark, sf))
    assert(plan.contains("RoundRobinPartitioning"),
      s"expected the user-specified round-robin exchange spreading the verify:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the prefilter sits LEFT of the round() in the pushed condition (And
    // short-circuits left-to-right in codegen). Asserted on the expression
    // tree, with the expected literal DERIVED from the threshold the same
    // way cosineAtLeast derives it — not on plan-string rendering, which
    // hardcoded both the constant and Spark's double formatting (r13
    // ADVICE): find an And whose left subtree carries `>= threshold−1e-6`
    // and whose right subtree carries the exact Round.
    import org.apache.spark.sql.catalyst.expressions.{And, GreaterThanOrEqual, Literal, Round}
    val threshold = 0.35 // c31's demo threshold (embeddingLshPairs call site)
    // (optimizedPlan, not executedPlan: AdaptiveSparkPlanExec is a leaf
    // node, so tree traversal never reaches the join condition under AQE)
    val exec = SparkEntry.queries("c31_embedding_lsh_pairs")(spark, sf)
      .queryExecution.optimizedPlan
    val gated = exec.flatMap(_.expressions).flatMap(_.collect {
      case a @ And(l, r)
        if l.exists {
             case GreaterThanOrEqual(_, Literal(v: Double, _)) => v == threshold - 1e-6
             case _ => false
           } && r.exists { case _: Round => true; case _ => false } => a
    })
    assert(gated.nonEmpty,
      s"expected raw-cosine prefilter (>= ${threshold - 1e-6}) And-gating round():\n$plan")
  }

  test("c109 classifier: broadcast weight lookup, one partial-agg exchange, no BNLJ") {
    // the r12 VERDICT #5 contract: inference adds NO new exchange class —
    // the weight table joins as a broadcast (never shuffles the feature
    // stream against it) and the per-doc score is a two-phase aggregate
    // (partial_count/partial_sum map-side before the single doc exchange)
    val plan = physicalPlan(SparkEntry.queries("c109_quality_classifier")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"weight lookup must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"no shuffled/nested-loop join allowed in inference:\n$plan")
    assert("partial_(count|sum)".r.findFirstIn(plan).isDefined,
      s"per-doc score must partial-aggregate map-side:\n$plan")
  }

  test("c110/c111/c112 classifier consumers: every slice reads the memoized scored frame") {
    // the load-bearing property of the family: consumers NEVER re-run the
    // feature pass — the per-doc scored frame (docClassifierScores) is
    // the materialized view, and the yield curve / agreement matrix / IVM
    // slices are scans of its cache (InMemoryTableScan), not fresh
    // parquet+explode plans. c111 adds exactly one parquet scan (the
    // heuristic needs text, which the scored frame intentionally drops).
    // leaf inspection, not string counting: InMemoryTableScan's toString
    // embeds the cached BUILD plan (whose parquet scans are paid once in
    // the memo, not per consumer), so leaves are the honest signal
    for ((q, cacheLeaves, parquetLeaves) <- Seq(
        ("c110_classifier_yield", 1, 0),
        ("c111_gate_agreement", 1, 1),
        ("c112_yield_ivm", 3, 0),
        // r14 consumers: the per-source gate monitor adds one slim
        // (doc_id, source) scan; the calibration table adds the c111
        // heuristic projection — both read the scored frame's cache
        ("b122_stream_classifier_parity", 1, 1),
        // c114/c116 read the memoized calibration table (its heuristic
        // scan is paid once in the memo build); c115 ranks the c110 curve
        ("c114_classifier_calibration", 1, 0),
        ("c115_gate_threshold_advisor", 1, 0),
        ("c116_calibration_audit", 1, 0),
        // the drift readout reads TWO caches: the memoized 10-row table
        // (current generation) + the memoized per-doc gate bits frame
        // (re-aggregated under the previous-generation slice filter)
        ("c117_calibration_drift", 2, 0))) {
      val exec = unwrapAqe(SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan)
      val leaves = exec.collectLeaves().map(_.nodeName)
      val mem = leaves.count(_.contains("InMemoryTableScan"))
      val pq = leaves.count(_.contains("Scan"))  - mem
      assert(mem == cacheLeaves && pq == parquetLeaves,
        s"$q: leaves=$leaves, expected $cacheLeaves cache reads + " +
          s"$parquetLeaves parquet scans")
      val plan = exec.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), s"$q:\n$plan")
    }
    // c112's monoid merge is a UNION + one aggregate — states never join
    val plan = physicalPlan(SparkEntry.queries("c112_yield_ivm")(spark, sf))
    assert(plan.contains("Union"), s"c112: states must merge via union:\n$plan")
  }

  test("random negatives: the c102 bounded-BNLJ shape with hash ranking") {
    val plan = physicalPlan(SparkEntry.queries("c108_random_negatives")(spark, sf))
    val bnlj = "BroadcastNestedLoopJoin BuildRight".r.findAllIn(plan).length
    assert(bnlj == 1 && !plan.contains("CartesianProduct"),
      s"expected exactly 1 BNLJ with the query set broadcast, got $bnlj:\n$plan")
    val wgl = "WindowGroupLimit".r.findAllIn(plan).length
    assert(wgl == 2,
      s"expected partial+final WindowGroupLimit pair around the exchange, got $wgl:\n$plan")
  }

  test("bloom advisor probes through bitmap scalars — 1-row crossings only, no raw-key pair join") {
    val plan = physicalPlan(SparkEntry.queries("c96_bloom_advisor")(spark, sf))
    assert(plan.contains("bloommightcontain") || plan.contains("BloomMightContain"),
      s"bloom probe missing from the plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian allowed:\n$plan")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnlj <= 3, s"expected only the per-candidate 1-row stat crossings, got $bnlj:\n$plan")
  }

  test("bloom decontamination prefilters before the verify join, with no nested loop") {
    val plan = physicalPlan(SparkEntry.queries("c34_bloom_decontaminate")(spark, sf))
    assert(plan.contains("bloommightcontain") || plan.contains("BloomMightContain"),
      s"bloom probe missing from the plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"decontamination fell back to an unblocked join:\n$plan")
  }

  test("correlated EXISTS rewrites to a semi join, not per-row subqueries") {
    val plan = physicalPlan(SparkEntry.queries("b39_exists_subquery")(spark, sf))
    assert(plan.contains("LeftSemi"), s"expected a left-semi rewrite:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"EXISTS fell back to an unblocked join:\n$plan")
  }

  test("full outer join is a shuffle-both-sides merge join (broadcast cannot surface unmatched rows)") {
    val plan = physicalPlan(SparkEntry.queries("b45_join_full_outer")(spark, sf))
    assert(plan.contains("FullOuter"), s"expected a FullOuter join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"full outer fell back to a nested loop:\n$plan")
  }

  test("int8-rerank cascade: one bounded query-side BNLJ; survivors broadcast back, items never shuffled") {
    val plan = physicalPlan(SparkEntry.queries("c39_ann_int8_rerank")(spark, sf))
    // coarse stage: the audited c06-shape bounded broadcast (tiny query codes)
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length == 1,
      s"expected exactly the one bounded coarse-stage BNLJ:\n$plan")
    // exact stage: survivors + query vectors reach the item scan as broadcasts
    assert("BroadcastHashJoin".r.findAllIn(plan).length == 2,
      s"expected two broadcast equi-joins in the exact stage:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"item table must never shuffle for a join:\n$plan")
  }

  test("salted skew join shuffles on (key, salt) through a merge join") {
    val plan = physicalPlan(SparkEntry.queries("b47_salted_skew_join")(spark, sf))
    assert(plan.contains("SortMergeJoin"), s"expected the pinned SMJ:\n$plan")
    assert(plan.contains("__salt"), s"salt key missing from the shuffle:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("dup-span stats: hash-key joins only, no pair join anywhere") {
    val plan = physicalPlan(SparkEntry.queries("c44_dup_spans")(spark, sf))
    assert(plan.contains("LeftSemi"),
      s"membership check should be a left-semi join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"span stats must stay linear — no pair join:\n$plan")
  }

  test("pagerank rounds are equi-joins + aggregates, nothing quadratic") {
    val plan = physicalPlan(SparkEntry.queries("c45_pagerank")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"pagerank must not plan a pair join:\n$plan")
  }

  test("provenance/containment queries stay on hash-key joins — nothing quadratic") {
    Seq("c47_dup_run", "c48_source_overlap", "c49_containment").foreach { q =>
      val plan = physicalPlan(SparkEntry.queries(q)(spark, sf))
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"$q must not plan a pair join:\n$plan")
    }
  }

  test("value-cumsum operators: the values window is bucket-partitioned, not global") {
    // r18: equiDepthHistogram/weightedPercentiles run their cumulative
    // window per range-bucket on the shared numbered repartition; the
    // ONLY SinglePartition exchange left is the tiny bucket-offsets
    // table (≤ domain/bucketWidth rows). A second SinglePartition
    // exchange means the values-universe window went global again —
    // the one-task 583k-row sort the rewrite exists to kill.
    for (q <- Seq("b71_equidepth_hist", "b84_weighted_pctile")) {
      val plan = physicalPlan(SparkEntry.queries(q)(spark, sf))
      val single = "Exchange SinglePartition".r.findAllIn(plan).length
      assert(single == 1, s"$q: expected only the bucket-offsets exchange, got $single:\n$plan")
      assert(plan.contains("REPARTITION_BY_NUM"),
        s"$q: expected the numbered bucket repartition:\n$plan")
    }
  }

  test("source span overlap: one set-aggregation per hash, no self-join") {
    // r18 shape: the (src, h) distinct + self-join-on-h became a single
    // partially-aggregated collect_set per hash (the per-hash source set
    // is bounded by |sources|) with a bounded double explode for the
    // pairs. Any Join node reappearing means the self-join shape is back
    // — the corpus subtree then builds once per join leg.
    val plan = physicalPlan(SparkEntry.queries("c48_source_overlap")(spark, sf))
    assert(!plan.contains("Join"), s"span overlap must stay join-free:\n$plan")
    assert(plan.contains("collect_set"), s"expected per-hash source-set aggregation:\n$plan")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 2, s"expected hash exchange + pair-count exchange only, got $hashEx:\n$plan")
  }

  test("bm25 ranking filters terms before the first shuffle and broadcasts idf") {
    val df = SparkEntry.queries("c56_bm25_rank")(spark, sf)
    // the term IN-filter must apply on the exploded scan BEFORE anything
    // aggregates or joins — at 100 TB the per-(doc,term) shuffle carries
    // |terms| rows per doc, not the vocabulary. Assert on the optimized
    // logical plan: the Filter naming the query terms has no Aggregate or
    // Join beneath it (only explode/project/scan → pre-shuffle).
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join}
    val inFilters = df.queryExecution.optimizedPlan.collect {
      case f: Filter if f.condition.toString.contains("dup")
        && f.condition.toString.contains("window") => f
    }
    assert(inFilters.nonEmpty, "term IN-filter missing from the optimized plan")
    assert(inFilters.exists(_.child.collect {
      case a: Aggregate => a; case j: Join => j
    }.isEmpty), "term IN-filter must sit directly on the exploded scan, below every shuffle")
    // the |terms|-row idf side joins by broadcast; nothing in this query
    // should need a shuffled join
    val plan = physicalPlan(df)
    assert(plan.contains("BroadcastHashJoin"), s"idf join should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastNestedLoopJoin"),
      s"c56 must plan only broadcast equi-joins:\n$plan")
  }

  test("hybrid RRF: both legs top-k-partial, fusion joins k-row frames on doc_id only") {
    val df = SparkEntry.queries("c57_hybrid_rrf")(spark, sf)
    val plan = physicalPlan(df)
    // each leg must cut to k via TakeOrderedAndProject — per-partition
    // top-k heaps, never a global sort of the scored corpus
    val topK = "TakeOrderedAndProject".r.findAllIn(plan).length
    assert(topK >= 2, s"both legs must plan TakeOrderedAndProject (got $topK):\n$plan")
    // the only BNLJ is the audited one-row query-vector broadcast (the
    // c19 shape); the fusion full-outer itself must be an equi-join
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnlj == 1, s"exactly the one-row query-vector BNLJ allowed (got $bnlj):\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("FullOuter"), s"fusion must be the full-outer rank join:\n$plan")
    // the fusion join touches only the k-row rank legs, keyed on doc_id:
    // every equi-join in the optimized plan is keyed on doc_id alone
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val joinKeys = df.queryExecution.optimizedPlan.collect {
      case j: Join if j.condition.isDefined => j.condition.get.references.map(_.name).toSet
    }
    assert(joinKeys.exists(_ == Set("doc_id")),
      s"fusion join must key on doc_id only, got $joinKeys")
  }

  test("PQ encode is a zero-shuffle narrow map: broadcast codebook, no window, no hash exchange") {
    val df = SparkEntry.queries("c59_pq_encode")(spark, sf)
    val plan = physicalPlan(df)
    // the codebook row and the query row are the only joins — single-row
    // bounded broadcasts (the c19 shape, audited in docs/PLANS.md)
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnlj == 2, s"expected the 2 single-row broadcasts, got $bnlj:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), s"PQ argmin must be HOF, not a window:\n$plan")
    // encode shuffles NOTHING: the only exchange is the output range sort
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 0,
      s"PQ encode must not shuffle the corpus, got $hashExchanges:\n$plan")
  }

  test("PQ ADC search: coarse top-k is TakeOrdered over the narrow map, rerank is broadcast-only") {
    val df = SparkEntry.queries("c60_pq_adc_rerank")(spark, sf)
    val plan = physicalPlan(df)
    assert(plan.contains("TakeOrderedAndProject"),
      s"coarse ADC cut must be per-partition top-k heaps:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    // the 100-row survivor set and the query vector broadcast back for the
    // rerank; the corpus is never shuffled for a join
    assert(plan.contains("BroadcastHashJoin"),
      s"survivor fetch must be a broadcast hash join:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"no shuffled join anywhere in the cascade:\n$plan")
  }

  test("bigram LM score: position table shuffles once on the bigram key, lookup is vocab-sized") {
    val df = SparkEntry.queries("c58_bigram_lm_score")(spark, sf)
    val plan = physicalPlan(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"c58 must plan only equi-joins:\n$plan")
    // every aggregate is partial+final (no single-point agg of the corpus)
    assert(!plan.contains("SinglePartition"), s"no global single-partition agg:\n$plan")
  }

  test("merge apply: full-outer join reuses the compaction partitioning — no extra exchange") {
    val plan = physicalPlan(SparkEntry.queries("b66_merge_apply")(spark, sf))
    assert(plan.contains("FullOuter"), s"merge must be the full-outer apply join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    // exactly the two compaction aggregates' exchanges; the join itself
    // rides their hash partitioning (the output sort is range, not hash)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 2,
      s"expected 2 hash exchanges (one per compacted side), got $hashExchanges:\n$plan")
  }

  test("latest-state compaction is a pure aggregate — no window, no per-key sort") {
    val plan = physicalPlan(SparkEntry.queries("b58_latest_state")(spark, sf))
    assert(!plan.contains("Window"),
      s"compaction must not plan a window (that sorts the whole log):\n$plan")
    assert(plan.contains("Aggregate"), s"expected the max_by aggregate:\n$plan")
  }

  test("source cap plans a WindowGroupLimit — per-task top-n heaps before the shuffle") {
    val plan = physicalPlan(SparkEntry.queries("c61_source_cap")(spark, sf))
    assert(plan.contains("WindowGroupLimit"),
      s"rank-filter must rewrite to WindowGroupLimit:\n$plan")
  }

  test("equi-depth histogram: bucket totals pre-aggregate on their own tiny leg") {
    // r18 successor of the "aggregates per value BEFORE the
    // single-partition window" pin: the values window is now
    // bucket-partitioned (see the value-cumsum pin above for the
    // SinglePartition count); what this pin keeps is the row-count
    // reduction BELOW every exchange — the bucket-totals leg must
    // partial-aggregate map-side (a raw-rows bucket exchange would ship
    // the table to compute 160 totals).
    val plan = physicalPlan(SparkEntry.queries("b71_equidepth_hist")(spark, sf))
    assert(plan.contains("partial_sum"),
      s"bucket totals must partial-aggregate below their exchange:\n$plan")
  }

  test("triangle counting stays on equi-joins — no nested loop, no cartesian") {
    val plan = physicalPlan(SparkEntry.queries("c62_triangles")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"degree-oriented wedge join must be equi-joins only:\n$plan")
  }

  test("semantic dedup: only the bounded centroid broadcast is a BNLJ; pairing is a cell equi-join") {
    val plan = semanticDedupPlan(sf)
    assert(plan.contains("SortMergeJoin [cell") || plan.contains("ShuffledHashJoin [cell"),
      s"within-cell pairing must be a (cell) equi-join:\n$plan")
  }

  /** c63's printed plan, after asserting its cache-read and nested-loop
    * counts. */
  private def semanticDedupPlan(sf: String): String = {
    val plan = physicalPlan(SparkEntry.queries("c63_semantic_dedup")(spark, sf))
    // the assignment cross-join against the k-row broadcast codebook is the
    // audited bounded-broadcast pattern (c06/c07/c19/c39 family, documented
    // in docs/PLANS.md Notes). The assignment is PERSISTED: it must compute
    // once and be read by all three consumers (both pair-join sides + the
    // keep-join), so every BNLJ in the printout sits inside the cached
    // relation's plan — one per InMemoryRelation print, no free-standing one.
    assert(!plan.contains("CartesianProduct"), plan)
    val scans = "InMemoryTableScan".r.findAllIn(plan).length
    assert(scans == 3, s"assignment must be read from cache 3×, got $scans:\n$plan")
    val bnljs = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    val cached = "InMemoryRelation".r.findAllIn(plan).length
    assert(bnljs == cached,
      s"nested loops ($bnljs) outside the cached assignment ($cached):\n$plan")
    plan
  }

  test("prefix jaccard: equi-joins only — the prefix index needs no nested loop or cap") {
    val plan = physicalPlan(SparkEntry.queries("c67_prefix_jaccard")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"prefix-filter candidate generation must stay on equi-joins:\n$plan")
    assert(plan.contains("Window"), s"per-doc rarest-first ranking window missing:\n$plan")
  }

  test("greedy packing: exactly one hash exchange (the shard key) feeds the sequential fold") {
    val plan = physicalPlan(SparkEntry.queries("c68_pack_sequences")(spark, sf))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 1, s"expected 1 hash exchange on shard, got $hashEx:\n$plan")
    assert(plan.contains("MapPartitions"), s"streaming per-partition fold missing:\n$plan")
  }

  test("attribution: one user-key window pass, no self-join") {
    val plan = physicalPlan(SparkEntry.queries("b74_attribution")(spark, sf))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 1, s"expected 1 hash exchange on user_id, got $hashEx:\n$plan")
    assert(!plan.contains("Join"), s"last-touch must not join the log to itself:\n$plan")
  }

  test("source keyness: the only nested loop is the 1-row grand-total broadcast") {
    val plan = physicalPlan(SparkEntry.queries("c69_source_keyness")(spark, sf))
    val bnljs = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnljs == 1, s"expected exactly the bounded 1-row BNLJ, got $bnljs:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"source totals must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("winsorize: CDF edges broadcast back; clamp side never sort-buffers a group") {
    val plan = physicalPlan(SparkEntry.queries("b75_winsorize")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"edges must broadcast:\n$plan")
    assert(plan.contains("Window"), s"distinct-value CDF window missing:\n$plan")
  }

  test("canonical dedup shuffles on 60-bit hashes, never the raw text") {
    val plan = physicalPlan(SparkEntry.queries("c71_canonical_dedup")(spark, sf))
    // every hash exchange (group key + the distinct-variant stage) must
    // key on the pre-computed long hash attributes, never the text column
    assert(plan.contains("hashpartitioning(ck#"),
      s"group key must be the named canonical-hash attribute:\n$plan")
    assert("hashpartitioning\\([^)]*text#".r.findFirstIn(plan).isEmpty,
      s"raw text leaked into a shuffle key:\n$plan")
  }

  test("CDC chunking: linear — no pairwise operator anywhere") {
    val plan = physicalPlan(SparkEntry.queries("c70_cdc_chunks")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"chunk dedup must be joins/aggs on keys only:\n$plan")
  }

  test("embedding decontam: eval broadcast is the only nested loop; train is never join-shuffled") {
    val plan = physicalPlan(SparkEntry.queries("c72_embedding_decontam")(spark, sf))
    val bnljs = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnljs == 1, s"expected exactly the bounded eval broadcast, got $bnljs:\n$plan")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 1, s"only the flagged-id agg may shuffle, got $hashEx:\n$plan")
  }

  test("expectations: row checks in one partial-agg pass; FK check is a broadcast anti-join") {
    val plan = physicalPlan(SparkEntry.queries("b76_expectations")(spark, sf))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"FK check must broadcast-anti:\n$plan")
    assert(plan.contains("partial_"), s"row checks must map-side combine:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("vocab growth: vocabulary agg keys on the named 60-bit hash attribute") {
    val plan = physicalPlan(SparkEntry.queries("c73_vocab_growth")(spark, sf))
    assert(plan.contains("hashpartitioning(th#"),
      s"vocab agg must shuffle the hash attribute, not tokens:\n$plan")
    assert("hashpartitioning\\([^)]*tok#".r.findFirstIn(plan).isEmpty,
      s"raw token leaked into a shuffle key:\n$plan")
  }

  test("dynamic partition pruning: the dim filter becomes a runtime partition filter on the fact scan") {
    val plan = physicalPlan(SparkEntry.queries("b79_dynamic_partition_prune")(spark, sf))
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamicpruning subquery in the fact scan's PartitionFilters:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"tiny dim must broadcast:\n$plan")
  }

  test("stream HLL parity: partial+final HLL merge, watermark bound is the only nested loop") {
    val plan = physicalPlan(SparkEntry.queries("b78_stream_hll_parity")(spark, sf))
    val bnljs = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnljs == 1, s"expected exactly the 1-row watermark broadcast, got $bnljs:\n$plan")
    assert(plan.contains("partial_"), s"HLL must map-side combine:\n$plan")
  }

  test("embedding standardize: 64-row stats agg + 1-row broadcast apply, narrow transform") {
    val plan = physicalPlan(SparkEntry.queries("c74_embedding_standardize")(spark, sf))
    val bnljs = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnljs == 1, s"expected exactly the 1-row stats broadcast, got $bnljs:\n$plan")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 1, s"only the per-dim stats agg may hash-shuffle, got $hashEx:\n$plan")
  }

  test("jl projection: narrow per-row fold — 1-row sign broadcast, zero hash shuffle") {
    val plan = physicalPlan(SparkEntry.queries("c80_jl_projection")(spark, sf))
    val bnljs = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnljs == 1, s"expected exactly the 1-row sign-matrix broadcast, got $bnljs:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"projection must not hash-shuffle (narrow map only):\n$plan")
  }

  test("cms join-size: sketch-cell aggs only — no join of the token table with itself") {
    val plan = physicalPlan(SparkEntry.queries("c79_cms_join_size")(spark, sf))
    val bnljs = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnljs == 1, s"expected exactly the 1-row estimate broadcast, got $bnljs:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"the join being sized must never be executed:\n$plan")
  }

  test("jl+lsh pairs: staged signature dataflow, banded EQUI-join, no pair cartesian") {
    val plan = physicalPlan(SparkEntry.queries("c82_jl_lsh_pairs")(spark, sf))
    // the 1-row JL sign-matrix broadcast appears once under each side of
    // the (band, sig) self-join — two bounded BNLJs, nothing else; the hp
    // sign table joins by EQUI-key (broadcast)
    val bnljs = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnljs == 2, s"expected the two 1-row JL sign-matrix broadcasts, got $bnljs:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    // the bucket join must be an equi-join on (band, sig) — BHJ at test
    // scale, SMJ at 100 TB — never a nested-loop over the pair space
    assert(plan.contains("BroadcastHashJoin [band") || plan.contains("SortMergeJoin [band"),
      s"expected the (band, sig) bucket equi-join:\n$plan")
    // the staged form puts a physical aggregate between bit and sig
    // computation — the CollapseProject re-evaluation pathology (325 s at
    // sf0.1) cannot reappear without this failing
    assert("HashAggregate".r.findAllIn(plan).length >= 4,
      s"expected staged bit/sig aggregates:\n$plan")
  }

  test("event paths: one window pass, join-free, TakeOrdered top-10 cut") {
    val plan = physicalPlan(SparkEntry.queries("b82_event_paths")(spark, sf))
    assert("Window".r.findAllIn(plan).length == 1, s"expected one window pass:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"expected TakeOrdered cut:\n$plan")
    assert(!plan.contains("Join"), s"path mining must be join-free:\n$plan")
  }

  test("analyze stats: one-pass multi-NDV via Expand, single scan") {
    val plan = physicalPlan(SparkEntry.queries("b83_analyze_stats")(spark, sf))
    assert(plan.contains("Expand"), s"expected the one-pass multi-count-distinct Expand:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).length == 1,
      s"all column stats must come from ONE scan:\n$plan")
  }

  test("plan advisor: only the audited 1-row broadcasts, never the join being planned") {
    val plan = physicalPlan(SparkEntry.queries("c83_plan_advisor")(spark, sf))
    val bnljs = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnljs == 4, s"expected the four 1-row stat broadcasts, got $bnljs:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("contiguous ids: bucket-partitioned rank + broadcast offsets — no global-window trap") {
    val plan = physicalPlan(SparkEntry.queries("c84_contiguous_ids")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket offsets must broadcast-join back:\n$plan")
    // the full-table rank must be partitioned by bkt (parallel); the only
    // unpartitioned window runs over the tiny bucket-count table
    assert(plan.contains("windowspecdefinition(bkt"),
      s"expected the bkt-partitioned full-table rank:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("weighted percentiles: distinct-value compaction precedes the cumulative window") {
    val plan = physicalPlan(SparkEntry.queries("b84_weighted_pctile")(spark, sf))
    // the groupBy(v) partial+final agg must run BELOW the window: the
    // window input is the value universe, not raw lineitem rows
    val aggIdx = plan.indexOf("HashAggregate")
    val winIdx = plan.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 && winIdx < plan.lastIndexOf("HashAggregate"),
      s"expected agg-below-window compaction:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("asof with tolerance: one user shuffle, join-free — the gap test never re-joins") {
    val plan = physicalPlan(SparkEntry.queries("b85_asof_tolerance")(spark, sf))
    // both carried-value windows (click id + click ts) share ONE
    // (user_id) exchange and sort; the range exchange is the output order
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected exactly the user_id shuffle:\n$plan")
    assert("Sort ".r.findAllIn(plan).length <= 2, s"windows must share one sort:\n$plan")
    assert(!plan.contains("Join"), s"tolerance as-of must stay join-free:\n$plan")
  }

  test("degree distribution: partial-aggregated, no node-pair join beyond the edge build") {
    val plan = physicalPlan(SparkEntry.queries("c87_degree_dist")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"expected partial-aggregated degree counts:\n$plan")
    // r18 shape: pair dedup + cust-side degree share ONE custkey-keyed
    // repartition (both union legs carry the identical exchange subtree —
    // reused at runtime); the only other hash exchanges are the tiny
    // supp-side partial-count and the final bin aggregate. A fifth hash
    // exchange appearing means an aggregation stopped riding the
    // repartition's partitioning.
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 4, s"expected repartition(c)×2(reused) + supp + bin, got $hashEx:\n$plan")
  }

  test("bpe merges: output plan is pure winner-checkpoint scans — no recompute") {
    // r17 contract: each round's 1-row winner is lazy-checkpointed inside
    // Bpe.run, so the merges OUTPUT plan is a union of k cached 1-row
    // scans — evaluating the rules must never re-run a window or pair
    // count pass (pre-r17 it re-ran one full window+count pass per round).
    // The per-round window/broadcast discipline itself is pinned
    // behaviorally by PropertySpec's partitioning-invariance and
    // determinism laws (fresh chain per call) and by the k-round oracle
    // gates (c88 k=3 hand-written, c95 k=16 generated CTE chain).
    val plan = physicalPlan(graft.operators.Bpe.merges(
      graft.sources.Tables.t(spark, sf, "documents"), "doc_id", "text", k = 3))
    assert(plan.contains("Scan ExistingRDD"),
      s"expected checkpoint-backed winner scans:\n$plan")
    for (bad <- Seq("BroadcastNestedLoopJoin", "CartesianProduct",
        "SortMergeJoin", "Window", "Exchange hashpartitioning"))
      assert(!plan.contains(bad),
        s"merges output must not recompute round work ($bad found):\n$plan")
  }

  test("bpe round algebra: per-doc window shuffle, 1-row winner broadcasts, no pair join") {
    // the production chain checkpoints every round, so the round subtree
    // is invisible in merges/corpus plans — the load-bearing plan
    // properties are pinned on the truncation-free probe instead (k=2:
    // big enough to compose two rounds, small enough that the
    // untruncated plan stays printable)
    val (mergesP, aliveP) = graft.operators.Bpe.planProbe(
      graft.sources.Tables.t(spark, sf, "documents"), "doc_id", "text", k = 2)
    for ((plan, what) <- Seq((physicalPlan(mergesP), "merges"),
        (physicalPlan(aliveP), "apply"))) {
      // winner attaches via 1-row broadcast nested-loop only — bounded by
      // construction; never a shuffled pair join
      assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
        s"$what: round algebra must not plan a pair join:\n$plan")
      assert(plan.contains("hashpartitioning(doc"),
        s"$what: expected the per-doc window shuffle:\n$plan")
      val bnljs = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
      assert(bnljs <= 3, s"$what: winner broadcasts must stay 1-row-bounded, got $bnljs:\n$plan")
    }
  }

  test("top similar pairs: global top-k is TakeOrdered per-task heaps, never a full sort") {
    val plan = physicalPlan(SparkEntry.queries("c76_top_similar_pairs")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrdered for the k-row cut:\n$plan")
  }

  test("e2e curation: composition adds no shuffle class — rep window, pack exchange, fold") {
    val plan = physicalPlan(SparkEntry.queries("c77_e2e_curation")(spark, sf))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 2, s"expected ck-window + shard exchanges only, got $hashEx:\n$plan")
    assert(plan.contains("MapPartitions"), s"packing fold missing:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("TPC-H Q4: semi-join with the quarter pushed to orders — no correlated rescan") {
    val df = SparkEntry.queries("b106_tpch_q4")(spark, sf)
    val plan = physicalPlan(df)
    assert(plan.contains("LeftSemi"), s"EXISTS must plan as a semi join:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).length == 2,
      s"each table scans exactly once:\n$plan")
    val ordersScan = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("o_orderdate")).get
    assert(ordersScan.contains("GreaterThanOrEqual(o_orderdate"),
      s"quarter filter not pushed:\n$ordersScan")
  }

  test("TPC-H Q13: orders pre-aggregate sits below the outer join, scan prunes to 2 cols") {
    val df = SparkEntry.queries("b108_tpch_q13")(spark, sf)
    val plan = physicalPlan(df)
    assert(plan.contains("LeftOuter"), plan)
    val ordersScan = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("o_custkey")).get
    assert(!ordersScan.contains("o_totalprice") && !ordersScan.contains("o_orderdate"),
      s"pre-aggregation below the join should prune the orders read schema:\n$ordersScan")
  }

  test("TPC-H Q21 rewrite scans lineitem ONCE — never the textbook self-join pair") {
    val df = SparkEntry.queries("b113_tpch_q21")(spark, sf)
    val liScans = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).count(_.contains("l_suppkey"))
    assert(liScans == 1,
      s"aggregated rewrite must touch lineitem once, found $liScans scans")
    val plan = physicalPlan(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    // r18 shape: the double countDistinct planned as an Expand — every
    // joined row tripled into the orderkey exchange. The two-level
    // aggregate must keep the plan Expand-free, and both aggregation
    // levels must ride the single numbered repartition(l_orderkey)
    // (an extra orderkey hash exchange means a level fell off it).
    assert(!plan.contains("Expand"),
      s"two-level rewrite must not plan an Expand:\n$plan")
    val okEx = "Exchange hashpartitioning\\(l_orderkey".r.findAllIn(plan).length
    assert(okEx == 1,
      s"both aggregate levels must share the one orderkey repartition, got $okEx:\n$plan")
  }

  test("funnel attribution shares ONE user_id exchange across stage windows and join") {
    val plan = physicalPlan(SparkEntry.queries("b114_funnel_attribution")(spark, sf))
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length == 1,
      s"stage windows + purchase join must share the user exchange:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("TPC-H Q11 gate is the bounded 1-row broadcast; the value aggregate reuses once run") {
    val plan = physicalPlan(SparkEntry.queries("b117_tpch_q11")(spark, sf))
    val bnlj = "BroadcastNestedLoopJoin BuildRight".r.findAllIn(plan).length
    assert(bnlj == 1 && !plan.contains("CartesianProduct"),
      s"threshold gate must be one 1-row broadcast, got $bnlj:\n$plan")
  }

  test("TPC-H Q15 max-revenue gate: 1-row broadcast cross, winner side broadcasts to supplier") {
    val plan = physicalPlan(SparkEntry.queries("b109_tpch_q15")(spark, sf))
    assert("Cross".r.findAllIn(plan).length == 1 && !plan.contains("CartesianProduct"),
      s"expected exactly the one-row max gate:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"winner probe must broadcast, never shuffle supplier:\n$plan")
  }

  test("TPC-H Q7: ship window pushed to lineitem, nation legs broadcast, one lineitem scan") {
    val df = SparkEntry.queries("b111_tpch_q7")(spark, sf)
    val plan = physicalPlan(df)
    assert(plan.contains("BroadcastHashJoin"), s"nation legs must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert("lineitem\\.parquet".r.findAllIn(plan).length == 1,
      s"lineitem must scan once:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"),
      s"two-year ship window not pushed to the lineitem scan:\n$plan")
  }

  test("TPC-H Q8: market share is ONE aggregate (one lineitem scan), orders window pushed") {
    val df = SparkEntry.queries("b112_tpch_q8")(spark, sf)
    val plan = physicalPlan(df)
    // file-path occurrences, not leaf counts: under AQE the whole plan is
    // one AdaptiveSparkPlan leaf, so collectLeaves can't count scans
    val liScans = "lineitem\\.parquet".r.findAllIn(plan).length
    assert(liScans == 1,
      s"conditional sums must share one aggregate — expected 1 lineitem scan, got $liScans:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"),
      s"order-date window not pushed:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("TPC-H Q9: part-family filter pushed to the part scan, nation broadcast, no loops") {
    val plan = physicalPlan(SparkEntry.queries("b116_tpch_q9")(spark, sf))
    assert(plan.contains("StringContains(p_name"),
      s"part-family filter not pushed to the part scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"nation must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("TPC-H Q12: ship-year window pushed to lineitem, exactly two table scans") {
    val plan = physicalPlan(SparkEntry.queries("b107_tpch_q12")(spark, sf))
    assert("Scan parquet".r.findAllIn(plan).length == 2,
      s"orders and lineitem scan exactly once each:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"),
      s"ship-year window not pushed:\n$plan")
  }

  test("TPC-H Q16: supplier exclusion is an anti join with the balance filter pushed") {
    val plan = physicalPlan(SparkEntry.queries("b118_tpch_q16")(spark, sf))
    assert(plan.contains("LeftAnti"),
      s"NOT IN must plan as an anti join, never a correlated re-scan:\n$plan")
    assert(plan.contains("LessThan(s_acctbal"),
      s"balance filter not pushed to the supplier scan:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("TPC-H Q20: flattened IN-chain is two semi joins, no correlated re-scan, no loops") {
    val plan = physicalPlan(SparkEntry.queries("b119_tpch_q20")(spark, sf))
    assert("LeftSemi".r.findAllIn(plan).length == 2,
      s"part-family and qualified-supplier tests must each be one semi join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("TPC-H Q19: derivable hulls reach both scans; the exact disjunction stays residual") {
    val plan = physicalPlan(SparkEntry.queries("b110_tpch_q19")(spark, sf))
    // PushedFilters substrings chosen to sit BEFORE toString's list
    // truncation; the quantity hull is the one that buys row-group
    // min/max skipping at 100 TB
    assert(plan.contains("GreaterThanOrEqual(l_quantity,1.0)") &&
      plan.contains("LessThanOrEqual(l_quantity,30.0)"),
      s"quantity hull not pushed to the lineitem scan:\n$plan")
    assert(plan.contains("In(p_brand") && plan.contains("GreaterThanOrEqual(p_size,1)"),
      s"brand/size hulls not pushed to the part scan:\n$plan")
    // the OR-of-ANDs itself must survive as a filter (hulls are implied, not a rewrite)
    assert(plan.contains("Brand#23"), "exact disjunction residual missing")
  }

  test("funnel TTC: one user exchange; cumulative machinery shuffles only bucketed frames") {
    val plan = physicalPlan(SparkEntry.queries("b120_funnel_ttc")(spark, sf))
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length == 1,
      s"all four stage windows and the per-user compaction share ONE user exchange:\n$plan")
    // the only other hash exchanges are over the (t, hrs)-bucketed frame —
    // bounded by transitions × funnel-horizon hours, never by user count
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 3,
      s"expected user + histogram + cdf-window exchanges only:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("In(event_type"), s"stage-type filter not pushed:\n$plan")
  }

  test("funnel A/B: one user exchange; arm aggregate partial-compacts before its shuffle") {
    val plan = physicalPlan(SparkEntry.queries("b121_funnel_ab")(spark, sf))
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length == 1,
      s"stage windows + compaction share ONE user exchange:\n$plan")
    assert(plan.contains("partial_count"),
      s"per-arm counts must map-side combine before the 2-key shuffle:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("funnel A/B revenue: one user exchange shared by stage windows and purchase join") {
    funnelAbRevenuePlan(sf)
  }

  private def funnelAbRevenuePlan(sf: String): Unit = {
    // the b123 contract (r13 VERDICT #4), r15-extended shape: the per-user
    // attributed frame lives in the memoized funnelAbRevUserFrame (b123
    // and b128 both consume it), so b123 itself is ONE cache read + the
    // ≤2-row arm aggregate. The attribution join adds NO new exchange
    // key — stage windows, the purchase-row join, and the per-user
    // compaction all hash on user_id; asserted on the frame's embedded
    // BUILD plan (the b124 convention), paid once per (session, sfDir).
    val exec = unwrapAqe(SparkEntry.queries("b123_funnel_ab_revenue")(spark, sf)
      .queryExecution.executedPlan)
    val leaves = exec.collectLeaves().map(_.nodeName)
    assert(leaves.count(_.contains("InMemoryTableScan")) == 1 &&
      !leaves.exists(_.contains("Scan parquet")),
      s"b123 must be one cache read of the memoized rev-user frame, got $leaves")
    val plan = planText(exec)
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length == 1,
      s"the embedded frame build pays exactly ONE user exchange:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"per-arm sums must map-side combine before their shuffle:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("codec roundtrips c118/c119: 1-column scan, narrow map, no joins or hash exchanges") {
    // the real-codec keys must stay embarrassingly parallel: one parquet
    // scan pruned to doc_id, the encode+decode inside a narrow map
    // (pixels/PCM never leave the executor), and NO exchange besides the
    // determinism sort's range partition — at 100 TB this is a pure
    // per-partition pass
    for (k <- Seq("c118_image_codec_roundtrip", "c119_audio_codec_roundtrip")) {
      val plan = physicalPlan(SparkEntry.queries(k)(spark, sf))
      assert("Scan parquet".r.findAllIn(plan).length == 1, s"$k: one scan:\n$plan")
      assert(plan.contains("ReadSchema: struct<doc_id"),
        s"$k: scan must prune to doc_id only:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$k: no hash exchange may appear:\n$plan")
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$k:\n$plan")
    }
  }

  test("b129 npy roundtrip: forced shuffle merge join, no broadcast of the read-back") {
    // the npy read-back's size estimate descends from a LocalRelation of
    // file NAMES — Spark would broadcast the ENTIRE dataset (driver OOM
    // at scale) and run the single-file parquet probe in one task; the
    // builder forces numbered repartitions on both inputs and a merge
    // join (the c104 discipline)
    val plan = physicalPlan(SparkEntry.queries("b129_npy_roundtrip")(spark, sf))
    assert(plan.contains("SortMergeJoin"),
      s"the roundtrip compare must shuffle-merge, never broadcast:\n$plan")
    assert(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastExchange"),
      s"no side may broadcast (npy stats are file-name sized):\n$plan")
    assert("Exchange RoundRobinPartitioning".r.findAllIn(plan).length == 2,
      s"both inputs carry the user-specified numbered repartition:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("b128 revenue contrast: cache reads only; one 1-row broadcast BNLJ joins the legs") {
    // b128's two consumptions of the rev-user frame must both hit the
    // memo — zero parquet leaves (the funnel machinery never replays per
    // consumer); the distribution machinery (cum/tot windows, median
    // flags) runs on the (arm × dollar-bucket)-bounded frame; the two
    // 1-row legs meet in exactly ONE explicit-broadcast BNLJ (the audited
    // b65 1-row class), never a cartesian
    val exec = unwrapAqe(SparkEntry.queries("b128_funnel_ab_rev_contrast")(spark, sf)
      .queryExecution.executedPlan)
    val leaves = exec.collectLeaves().map(_.nodeName)
    assert(leaves.count(_.contains("InMemoryTableScan")) == 2 &&
      !leaves.exists(_.contains("Scan parquet")),
      s"b128 must consume the memoized rev-user frame (2 cache reads), got $leaves")
    val plan = exec.toString
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length == 1,
      s"exactly the 1-row contrast-leg broadcast may nest-loop:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"distribution counts must map-side combine before the arm shuffle:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("b126 stream-parity revenue: one user exchange; only the 1-row watermark broadcast") {
    // the b123 exchange contract on the watermark-cut population: stage
    // windows (now also carrying last_ts — the funnelStageTimes lastTsCol
    // extension, no second horizon aggregate), per-user compaction, and
    // the purchase attribution join share ONE user exchange; the horizon
    // cut's only non-equi join is the audited b65 1-row watermark
    // broadcast (BNLJ count exactly 1, never a cartesian)
    val plan = physicalPlan(SparkEntry.queries("b126_stream_funnel_ab_revenue")(spark, sf))
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length == 1,
      s"stage windows + horizon + purchase join share ONE user exchange:\n$plan")
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length == 1,
      s"exactly the 1-row watermark broadcast may nest-loop:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"per-arm sums must map-side combine before their shuffle:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("b127 calibration monitor: cache-fed small frames; only the 10-row bucket broadcast") {
    // both legs (reference build + live per-score aggregate) must read
    // the memoized gate-bits cache — zero parquet leaves, the heuristic
    // text scan paid once in the memo build; the bucket join is the
    // audited 10-row broadcast BNLJ (the only one); per-score counts
    // map-side combine (docs never sort globally)
    val exec = unwrapAqe(SparkEntry.queries("b127_stream_calibration_monitor")(spark, sf)
      .queryExecution.executedPlan)
    val leaves = exec.collectLeaves().map(_.nodeName)
    assert(leaves.count(_.contains("InMemoryTableScan")) == 2 &&
      !leaves.exists(_.contains("Scan parquet")),
      s"b127 must feed both legs from the gate-bits memo, got $leaves")
    val plan = exec.toString
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length == 1,
      s"exactly the 10-row bucket broadcast may nest-loop:\n$plan")
    assert("partial_(count|sum)".r.findFirstIn(plan).isDefined,
      s"per-score counts must map-side combine:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("c114 calibration: windows run on the per-score frame after a combined aggregate") {
    // the decile machinery must never globally sort DOCS: the per-score
    // aggregate partial-combines map-side, and the cumulative/total
    // windows run over the |distinct scores|-row frame (the c113
    // small-frame discipline)
    val plan = physicalPlan(SparkEntry.queries("c114_classifier_calibration")(spark, sf))
    assert("partial_(count|sum)".r.findFirstIn(plan).isDefined,
      s"per-score counts must map-side combine before the score exchange:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("funnel A/B TTC: one user exchange; latency machinery shuffles only bucketed frames") {
    funnelAbTtcPlan(sf)
  }

  private def funnelAbTtcPlan(sf: String): Unit = {
    // the b120 contract with arm in every key, r15 shape: the user-scale
    // machinery lives in the memoized cum frame (b124 and b125 both
    // consume it), so b124 itself is ONE cache read + bounded-frame
    // aggregates. The stage windows' single user exchange is asserted on
    // the frame's embedded BUILD plan (InMemoryTableScan's toString
    // carries it), which is paid once per (session, sfDir), not per
    // consumer.
    val exec = unwrapAqe(SparkEntry.queries("b124_funnel_ab_ttc")(spark, sf)
      .queryExecution.executedPlan)
    val leaves = exec.collectLeaves().map(_.nodeName)
    assert(leaves.count(_.contains("InMemoryTableScan")) == 1 &&
      !leaves.exists(_.contains("Scan parquet")),
      s"b124 must be one cache read of the memoized TTC frame, got $leaves")
    val plan = planText(exec)
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length == 1,
      s"the embedded frame build pays exactly ONE user exchange:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("In(event_type"), s"stage-type filter not pushed:\n$plan")
  }

  test("funnel A/B TTC contrast: cache reads only; verdict runs on the bounded frame") {
    // b125's three consumptions of the TTC frame must all hit the memo —
    // zero parquet leaves (the funnel machinery never replays per
    // consumer), no cartesian/BNLJ, and the coverage leg broadcasts
    // (≤3-key join on t)
    val exec = unwrapAqe(SparkEntry.queries("b125_funnel_ab_ttc_contrast")(spark, sf)
      .queryExecution.executedPlan)
    val leaves = exec.collectLeaves().map(_.nodeName)
    assert(leaves.count(_.contains("InMemoryTableScan")) == 3 &&
      !leaves.exists(_.contains("Scan parquet")),
      s"b125 must consume the memoized TTC frame (3 cache reads), got $leaves")
    val plan = exec.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the ≤3-key coverage/pivot joins must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("TPC-H Q2 min-cost filter is a window on the partkey exchange, not a re-join") {
    tpchQ2Plan(sf)
  }

  private def tpchQ2Plan(sf: String): Unit = {
    val plan = physicalPlan(SparkEntry.queries("b115_tpch_q2")(spark, sf))
    assert(plan.contains("Window"), s"correlated min must be the window form:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    val liScans = "Scan parquet".r.findAllIn(plan).length
    assert(liScans <= 5, s"each table once (no correlated rescan), got $liScans scans:\n$plan")
  }

  test("cached-plan counts hold once the caches are materialized") {
    // on a private copy, so the shared sf0.001 caches stay cold for the
    // tests above; the untimed bench pass runs each key once, which
    // materializes every cache the four plans embed
    val priv = sf0001Copy("graft-plan-cached")
    val keys = Seq("c63_semantic_dedup", "b123_funnel_ab_revenue", "b124_funnel_ab_ttc",
      "b115_tpch_q2")
    assert(Bench.warm(spark, keys, priv) == Seq.empty)
    // the materialized assignment's real size is small enough at sf0.001
    // that the within-cell pairing may plan as a broadcast; it stays an
    // equi-join on cell
    val c63 = semanticDedupPlan(priv)
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cell".r.findFirstIn(c63).isDefined,
      s"within-cell pairing must be a (cell) equi-join:\n$c63")
    funnelAbRevenuePlan(priv)
    funnelAbTtcPlan(priv)
    tpchQ2Plan(priv)
  }

  test("b70 interpolation has no (currentRow, unboundedFollowing) row frame") {
    import org.apache.spark.sql.catalyst.expressions.{CurrentRow, RowFrame,
      SpecifiedWindowFrame, UnboundedFollowing}
    // Spark re-scans such a frame once per row: quadratic in a key's span
    val analyzed = SparkEntry.queries("b70_interpolate")(spark, sf).queryExecution.analyzed
    val frames = analyzed.flatMap(_.expressions.flatMap(_.collect {
      case f: SpecifiedWindowFrame => f
    }))
    assert(frames.nonEmpty, s"b70's window frames went missing:\n$analyzed")
    assert(!frames.contains(SpecifiedWindowFrame(RowFrame, CurrentRow, UnboundedFollowing)),
      s"quadratic frame in b70:\n$analyzed")
  }

  test("no query in the declared inventory collects to the driver") {
    // structural check: building every DataFrame must not trigger an action
    // (any collect-based operator would run here); constructing the plans on
    // sf0.001 must stay lazy and cheap. The at-rest-layout queries
    // (b33/b34 roundtrip sinks, b37 bucketed tables, b38 partitioned
    // layout) write their scratch output at most ONCE per application
    // (ensureWritten/_SUCCESS, catalog tableExists) — the write IS the
    // surface under test, and repeat builds here are action-free.
    analyzedPlans.foreach { case (name, plan) => assert(plan != null, name) }
  }

  /** Every declared key built at sf0.001, with its analyzed plan: the
    * subtrees of the shared frames it reads are part of it. */
  private lazy val analyzedPlans = SparkEntry.queries.toSeq.sortBy(_._1).map {
    case (name, fn) => name -> fn(spark, sf).queryExecution.analyzed
  }

  /** Keys whose plans hold partition-less windows, with how many. Such a
    * window runs in one task whatever the input size, so a key that gains
    * one fails the sweep below until the new window is reviewed and
    * listed here. Each listed window's input is an aggregate or a top-k
    * (buckets, deciles, strata, advisor candidates); the
    * `Scale.keySkewProfile` row_number of b81 and c83 still runs over one
    * row per distinct key and is the known straggler. A window in a
    * subtree a plan reads twice counts twice. */
  private val auditedGlobalWindows = Map(
    "b71_equidepth_hist" -> 2, "b77_period_over_period" -> 1, "b81_skew_profile" -> 1,
    "b84_weighted_pctile" -> 2, "b127_stream_calibration_monitor" -> 5,
    "b128_funnel_ab_rev_contrast" -> 1, "c24_pack_shards" -> 1, "c33_target_mix" -> 1,
    "c57_hybrid_rrf" -> 3, "c60_pq_adc_rerank" -> 1, "c65_sorted_neighborhood" -> 2,
    "c83_plan_advisor" -> 1, "c84_contiguous_ids" -> 1, "c94_lsh_advisor" -> 1,
    "c96_bloom_advisor" -> 1, "c100_join_order" -> 1, "c101_temperature_mix" -> 1,
    "c105_ivf_probe_advisor" -> 1, "c106_epoch_allocation" -> 10,
    "c113_eval_apportionment" -> 3, "c114_classifier_calibration" -> 2,
    "c116_calibration_audit" -> 4, "c117_calibration_drift" -> 5)

  test("partition-less windows only from the audited list; no (currentRow, unboundedFollowing) row frame") {
    import org.apache.spark.sql.catalyst.expressions.{CurrentRow, RowFrame,
      SpecifiedWindowFrame, UnboundedFollowing}
    import org.apache.spark.sql.catalyst.plans.logical.Window
    val nodes = analyzedPlans.map { case (name, plan) =>
      name -> plan.collectWithSubqueries { case p => p } }
    val global = nodes.map { case (name, ns) =>
      name -> ns.count { case w: Window => w.partitionSpec.isEmpty; case _ => false } }
      .filter(_._2 > 0).toMap
    assert(global == auditedGlobalWindows,
      s"partition-less windows changed; now ${global.toSeq.sorted.mkString(", ")}")
    // Spark re-scans such a frame once per row: quadratic in a partition's size
    val quadratic = nodes.collect { case (name, ns)
      if ns.exists(_.expressions.exists(_.exists(
        _ == SpecifiedWindowFrame(RowFrame, CurrentRow, UnboundedFollowing)))) => name }
    assert(quadratic.isEmpty, s"(currentRow, unboundedFollowing) row frames in $quadratic")
  }
}
