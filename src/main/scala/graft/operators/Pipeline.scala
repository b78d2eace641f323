package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Text

/** Training-data pipeline stages (SURVEY.md §2C): the corpus-management
  * operations that sit between a deduplicated document table and a
  * training run — deterministic splitting, token-budget sharding, and
  * train/eval contamination detection. All pure DataFrame transforms;
  * every shuffle is on a uniform hash or a dense id.
  */
object Pipeline {

  /** Uniform bucket in [0, buckets) from the md5 of a key column —
    * deterministic across runs, engines and cluster layouts (never use
    * partition-dependent randomness for split assignment; resplitting on
    * every relayout would leak eval data into training). Same 60-bit md5
    * construction as [[graft.functions.Text.tokenHash]] — one definition,
    * so the SQL-oracle portability argument lives in one place. */
  def hashBucket(key: Column, buckets: Int): Column =
    pmod(graft.functions.Text.tokenHash(key.cast("string")), lit(buckets.toLong))

  /** Deterministic train/val/test assignment by hashed key: stable under
    * reordering, repartitioning and incremental corpus growth (a document's
    * split never depends on the other documents). Narrow map, no shuffle. */
  def split(df: DataFrame, keyCol: String,
            trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"percentages must be non-negative and sum <= 100: train=$trainPct val=$valPct")
    val b = hashBucket(col(keyCol), 100)
    df.withColumn("split",
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Pack rows into contiguous shards of ~`budget` total `weightCol`
    * (token-budget sharding for training): rows are taken in `idCol` order
    * and row r lands in shard floor(cumsum_before(r) / budget).
    *
    * The global running sum is computed in two distributed phases — NOT
    * one global window (a `Window.orderBy` with no partition key collapses
    * to a single task, the classic cumsum scale-killer): (1) range-
    * partition by id and cumsum within each partition; (2) aggregate one
    * total per partition — thousands of rows at most, one per partition,
    * never data-sized — window those into exclusive prefix offsets, and
    * broadcast-join the offsets back. The result is invariant to where the
    * range boundaries fall, so sampling nondeterminism in
    * `repartitionByRange` cannot change the assignment.
    *
    * The per-partition cumsum frame is locally CHECKPOINTED (eager) and
    * both downstream consumers — the row side and the offsets side — read
    * that one materialization: pid membership and boundaries are decided
    * exactly once, so there is no window where two evaluations of the
    * range exchange could sample different boundaries; a lost checkpoint
    * block fails the job loudly instead of silently resampling.
    */
  def packByBudget(df: DataFrame, idCol: String, weightCol: String,
                   budget: Long, numShardsHint: Int = 32): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val parts = math.max(1, math.min(
      df.sparkSession.sparkContext.defaultParallelism, numShardsHint))
    val local = df.select(col(idCol), col(weightCol))
      .repartitionByRange(parts, col(idCol))
      .sortWithinPartitions(col(idCol))
      .withColumn("pid", spark_partition_id())
      .withColumn("lcum",
        sum(col(weightCol)).over(Window.partitionBy("pid").orderBy(idCol)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .localCheckpoint()
    // partition total = the last (max) inclusive cumsum of the partition —
    // derived from the same checkpointed rows, never a second evaluation
    val offsets = local.groupBy("pid").agg(max(col("lcum")).as("psum"))
      .withColumn("offset",
        coalesce(sum(col("psum")).over(Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("offset"))
    local.join(broadcast(offsets), "pid")
      // exclusive prefix: everything strictly before this row in id order
      .withColumn("cum_before", col("offset") + col("lcum") - col(weightCol))
      // integer floor division (weights are non-negative token counts, so
      // div ≡ floor): the former floor(x / budget.toDouble) was exact only
      // below 2^53 — past ~9e15 cumulative tokens the double conversion
      // quantizes and can misassign boundary rows (r17 review)
      .select(col(idCol), col(weightCol),
        call_function("div", col("cum_before"), lit(budget)).as("shard"))
  }

  /** Greedy capacity-reset sequence packing: fill fixed-size context
    * windows with WHOLE documents, opening a new pack whenever the next
    * doc would overflow `capacity` — the standard pretraining batch-packing
    * discipline (contrast [[packByBudget]], which cuts contiguous
    * token-budget shards and lets a document straddle a boundary). A doc
    * heavier than `capacity` gets a pack of its own.
    *
    * The fold is inherently sequential per shard (pack k's boundary
    * depends on every doc before it), so parallelism is the shard key the
    * caller supplies, not the row: one hash exchange on `shardCol`, a
    * within-partition (shard, id) sort, then a single streaming
    * iterator-to-iterator pass with O(1) state — the one documented
    * `mapPartitions` case (per-partition imperative logic no relational
    * operator expresses; a window can't reset its own accumulator). At
    * 100 TB: shard = hash(doc) % (≈4× cores) keeps every fold short and
    * the exchange balanced; state never grows with shard size, and a
    * partition holding several shards resets the fold at each shard
    * boundary, so the shard count may exceed the partition count freely.
    * Pack ids are deterministic: (shard, id) is a total order.
    */
  def packGreedy(df: DataFrame, idCol: String, weightCol: String,
                 capacity: Long, shardCol: String = "shard"): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    val spark = df.sparkSession
    import spark.implicits._
    val in = df
      .select(col(shardCol).cast("long"), col(idCol).cast("long"),
        col(weightCol).cast("long"))
      .repartition(col(shardCol))
      .sortWithinPartitions(col(shardCol), col(idCol))
      .as[(Long, Long, Long)]
    in.mapPartitions { it =>
      var curShard = Long.MinValue
      var fill = 0L
      var pack = -1L
      it.map { case (shard, id, w) =>
        if (shard != curShard || pack < 0) { curShard = shard; pack = -1L; fill = 0L }
        if (pack < 0 || fill + w > capacity) { pack += 1; fill = w } else fill += w
        (id, shard, pack, w)
      }
    }.toDF(idCol, shardCol, "pack", weightCol)
  }

  /** Per-stratum deterministic downsampling — the training-mix stage that
    * rebalances a corpus (e.g. cap the dominant language at 30%) without
    * sampling randomness: a row is kept iff its hash bucket falls under
    * its stratum's percentage, so membership is stable under relayout and
    * reruns, and strata can be re-weighted without reshuffling anything.
    * Narrow filter, no shuffle. */
  def stratifiedSample(df: DataFrame, strataCol: Column, keyCol: String,
                       ratesPct: Map[String, Int], defaultPct: Int = 100): DataFrame = {
    require((ratesPct.values ++ Seq(defaultPct)).forall(r => r >= 0 && r <= 100),
      s"rates must be percentages in [0,100]: $ratesPct default=$defaultPct")
    val rate = ratesPct.foldLeft(lit(defaultPct)) { case (acc, (k, v)) =>
      when(strataCol === k, lit(v)).otherwise(acc)
    }
    df.where(hashBucket(col(keyCol), 100) < rate)
  }

  /** Per-source token keyness: the top-k tokens whose frequency in a
    * source deviates most from the corpus-wide rate, ranked by the
    * one-cell chi-square statistic (obs − exp)²/exp with
    * exp = src_total·global/grand — the corpus-drift diagnostic that
    * flags what a source over/under-represents before it skews a
    * training mix.
    *
    * Determinism contract (c33 pattern): every count is an exact long;
    * the deviation `dev = obs·grand − src_total·global` (the (obs−exp)
    * numerator with denominators cleared) is an exact long and is the
    * value OUTPUT; chi2 = (double(dev)·double(dev)) / double(den) with
    * den = src_total·global·grand is used for RANKING only, computed in
    * exactly this op order — two IEEE ops on integers-as-doubles, so
    * both engines produce bit-identical doubles and hence the same
    * ranking (ties broken by token asc). Overflow bounds: dev needs
    * obs·grand < 2^63 and den < 2^63 — holds to ~10^9 grand tokens per
    * analyzed stratum; beyond that, shard the analysis (e.g. per
    * language) or rescale counts first; the statistic is scale-free.
    *
    * Shuffles: one token-level groupBy (map-side combined — the only
    * pass over the text), then reaggregations of that (already small)
    * table; source totals and the grand total are broadcast (the 1-row
    * grand join is an audited bounded-broadcast, docs/PLANS.md). The
    * top-k window partitions by source over per-source vocab. */
  def sourceKeyness(df: DataFrame, sourceCol: String, textCol: String,
                    topK: Int = 5): DataFrame = {
    val toks = df.select(col(sourceCol).as("source"),
      explode(Text.tokens(coalesce(col(textCol), lit("")))).as("tok"))
    val obs = toks.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("obs"))
    val glob = obs.groupBy(col("tok")).agg(sum(col("obs")).as("glob"))
    val srcTot = obs.groupBy(col("source")).agg(sum(col("obs")).as("src_tot"))
    val grand = srcTot.agg(sum(col("src_tot")).as("grand"))
    val dev = col("obs") * col("grand") - col("src_tot") * col("glob")
    val den = col("src_tot") * col("glob") * col("grand")
    val chi2 = (dev.cast("double") * dev.cast("double")) / den.cast("double")
    obs.join(glob, "tok")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(grand))
      .withColumn("dev", dev)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("source")).orderBy(chi2.desc, col("tok"))))
      .where(col("rnk") <= topK)
      .select(col("source"), col("tok"), col("obs"), col("dev"),
        col("rnk").cast("int").as("rnk"))
  }

  /** Choose each dedup cluster's surviving representative by a quality
    * score instead of min-id — the keep-best-duplicate policy. One shuffle
    * on the cluster id for the per-cluster top-1 window; deterministic via
    * the (score DESC, id ASC) total order. */
  def bestRepresentative(clusters: DataFrame, scores: DataFrame,
                         idCol: String = "id", repCol: String = "cluster_rep",
                         scoreIdCol: String = "doc_id", scoreCol: String = "score"): DataFrame = {
    val j = clusters.join(scores, clusters(idCol) === scores(scoreIdCol))
    val w = Window.partitionBy(col(repCol)).orderBy(col(scoreCol).desc, clusters(idCol))
    j.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
      .select(col(repCol), clusters(idCol).as("best_doc"), col(scoreCol).as("best_score"))
  }

  /** Cross-document boilerplate statistics: per document, how many of its
    * distinct shingles occur in at least `minDf` documents corpus-wide
    * (headers, footers, licence blocks — the RefinedWeb/CCNet-style
    * boilerplate signal, which is a *cross-document* property, unlike the
    * within-document repetition ratio). Takes the shared `(id, hs)` shingle
    * index so the shingle pass is paid once across the dedup family.
    *
    * Scale: explode is narrow; the document-frequency groupBy shuffles on
    * the uniform 60-bit shingle hash; the surviving boilerplate set is a
    * tiny fraction of the shingle space (df >= minDf), so the membership
    * join auto-broadcasts under AQE, and the per-doc count shuffles on the
    * doc id. No all-pairs anything.
    */
  def boilerplateStats(sets: DataFrame, minDf: Long): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2 to mean 'shared', got $minDf")
    val ex = sets.select(col("id"), explode(col("hs")).as("g"))
    val boiler = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf).select(col("g"))
    val per = ex.join(boiler, "g")
      .groupBy(col("id")).agg(count(lit(1)).as("n_boiler"))
    sets.select(col("id"), size(col("hs")).cast("long").as("n_sh"))
      .join(per, Seq("id"), "left")
      .withColumn("n_boiler", coalesce(col("n_boiler"), lit(0L)))
      .withColumn("boiler_ratio",
        col("n_boiler").cast("double") / col("n_sh").cast("double"))
  }

  /** Per-stratum length-band corpus filter (the Gopher-style "drop the
    * tails" stage): keep rows whose `valueCol` lies within the stratum's
    * [loPct, hiPct] discrete percentile band — percentile_disc semantics,
    * i.e. the cutoff is the smallest value whose cumulative count reaches
    * the percentile. All-integer arithmetic (`cum*100 >= pct*n`), so the
    * result is bit-identical in any engine.
    *
    * Scale: the corpus side pays ONE partial-aggregated groupBy on
    * (stratum, value) — the compact histogram, at most |strata| × |distinct
    * values| rows — and the cumulative window runs over that histogram, not
    * the data (a per-stratum window over raw rows would collapse each
    * stratum into one task). Histogram values are unique per stratum, so
    * the rows-frame cumsum has no tie ambiguity. Cutoffs (|strata| rows)
    * broadcast back; the filter itself is narrow. */
  def lengthBandFilter(df: DataFrame, strataCol: String, valueCol: String,
                       loPct: Int = 5, hiPct: Int = 95): DataFrame = {
    require(0 <= loPct && loPct <= hiPct && hiPct <= 100,
      s"need 0 <= loPct <= hiPct <= 100, got lo=$loPct hi=$hiPct")
    val hist = df.groupBy(col(strataCol), col(valueCol))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col(strataCol)).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col(strataCol))))
    val cuts = cum.groupBy(col(strataCol)).agg(
      min(when(col("cum") * 100 >= lit(loPct.toLong) * col("n"), col(valueCol))).as("lo_cut"),
      min(when(col("cum") * 100 >= lit(hiPct.toLong) * col("n"), col(valueCol))).as("hi_cut"))
    df.join(broadcast(cuts), strataCol)
      .where(col(valueCol) >= col("lo_cut") && col(valueCol) <= col("hi_cut"))
      .drop("lo_cut", "hi_cut")
  }

  /** Per-stratum top-quality gate (the "keep the best X% of each
    * language" curation stage): keeps rows whose integer nano score
    * ([[graft.functions.Text.qualityScoreNano]]) falls in the stratum's
    * top `keepPct` percent — by milli-bucket, not exact rank. A true rank
    * cut needs a full per-stratum sort: one task per stratum at 100 TB.
    * Bucketing the score to millis first (`nano div 10⁶`, ≤ 1001 distinct
    * values since score ∈ [0,1]) bounds the histogram at
    * |strata| × 1001 rows, the cumulative window runs over that tiny
    * frame, and the per-stratum cutoff bucket broadcasts back — the
    * [[lengthBandFilter]] shape.
    *
    * Exact, deterministic semantics: scanning buckets from the top, the
    * cutoff is the first (largest) bucket at which the cumulative count
    * reaches `keepPct`% (integer test `cum·100 ≥ keepPct·n`); every row
    * at or above it is kept, so the kept fraction is ≥ keepPct with ties
    * resolved corpus-stably (same bucket ⇒ same fate, regardless of
    * layout). All-integer arithmetic end-to-end. */
  def qualityGate(df: DataFrame, strataCol: String, scoreNanoCol: Column,
                  keepPct: Int): DataFrame = {
    require(1 <= keepPct && keepPct <= 100,
      s"keepPct must be in [1,100], got $keepPct")
    val withB = df.withColumn("qmilli",
      call_function("div", scoreNanoCol, lit(1000000L)))
    val hist = withB.groupBy(col(strataCol), col("qmilli"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col(strataCol)).orderBy(col("qmilli").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col(strataCol))))
    val cuts = cum.groupBy(col(strataCol)).agg(
      max(when(col("cum") * 100 >= lit(keepPct.toLong) * col("n"), col("qmilli"))).as("q_cut"))
    withB.join(broadcast(cuts), strataCol)
      .where(col("qmilli") >= col("q_cut"))
      .drop("q_cut")
  }

  /** fastText-style linear quality-classifier INFERENCE as a pure columnar
    * pass (Joulin et al., arXiv:1607.01759 — the bag-of-hashed-ngrams
    * linear model every large-scale curation stack runs as its learned
    * quality gate next to heuristics like c09 and count filters like
    * c64's CCNet stage): features are token unigrams + bigrams, hashed
    * into a fixed bucket space by the md5 tokenHash convention; the model
    * is a (bucket → integer weight) table; a document's score is the
    * EXACT integer sum of its feature weights and the gate is
    * score ≥ 0. Fixed-point integer weights make inference bit-identical
    * on any engine at any parallelism — the float dot product a real
    * fastText checkpoint computes is reproduced by quantizing the trained
    * weights once at export (the c40 nano-integer discipline).
    *
    * Weights-as-data: `weights` is a DataFrame (bucket: long, w: long)
    * covering every bucket in [0, buckets) — trained coefficients arrive
    * as data, never code. Inference = one broadcast join.
    *
    * Scale (100 TB): the explode is map-side (features of a doc stay in
    * its partition); the weight table is k buckets × 16 B (2²⁴ buckets ≈
    * 256 MB worst case — still a broadcast on 8-GB executors; this demo
    * uses 2¹⁶); the only exchange is the per-doc partial-sum aggregate,
    * one row per doc entering the shuffle (partial aggregation compacts
    * per-task). Raw text never shuffles.
    */
  def linearClassifierScore(df: DataFrame, idCol: String, textCol: String,
                            weights: DataFrame, buckets: Int,
                            carryCols: Seq[String] = Nil): DataFrame = {
    val feats = classifierFeatures(df, idCol, textCol, buckets, carryCols)
    val carried = carryCols.map(col)
    feats.join(broadcast(weights.select(col("bucket"), col("w"))), "bucket")
      .groupBy(col("id") +: carried: _*)
      .agg(count(lit(1)).as("n_feats"), sum(col("w")).as("score"))
      .select(col("id") +: carried :+ col("n_feats") :+ col("score") :+
        (col("score") >= 0L).as("kept"): _*)
  }

  /** The classifier's feature pipeline — (id, carryCols…, bucket), one row
    * per unigram/bigram feature — shared by [[linearClassifierScore]] (the
    * batch kernel, re-aggregating per doc) and the streaming monitor's
    * emit-once scorer (graft.streaming.Streams.streamCalibrationMonitor),
    * so the feature definition can never fork between batch and stream.
    * carryCols: per-doc constants riding alongside id (b127's kept_h bit)
    * — avoids a second pass over the text, which on a STREAM would be a
    * stream-stream self-join. */
  def classifierFeatures(df: DataFrame, idCol: String, textCol: String,
                         buckets: Int, carryCols: Seq[String] = Nil): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val toks = Text.tokens(coalesce(col(textCol), lit("")))
    // unigrams ++ bigrams ("w1 w2"), same window convention as the
    // shingle/span family; a doc of n tokens emits 2n−1 features.
    // zip_with of two slices, NOT transform + element_at(toks, i): a
    // captured array reference inside a HOF lambda re-evaluates its
    // whole subtree (split) PER ELEMENT — the c82 CollapseProject
    // pathology; zip_with evaluates each argument array once per row.
    // (The family's residual per-query wall at test scale is
    // driver/scheduling floor; the query suite additionally shares one
    // memoized scored frame — SparkEntry.docClassifierScores.)
    val bigrams = when(size(toks) >= 2,
      zip_with(slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b)))
      .otherwise(array().cast("array<string>"))
    val carried = carryCols.map(col)
    df.select(col(idCol).as("id") +: carried :+
        explode(concat(toks, bigrams)).as("feat"): _*)
      .select(col("id") +: carried :+
        pmod(Text.tokenHash(col("feat")), lit(buckets.toLong)).as("bucket"): _*)
  }

  /** Per-stratum yield STATE of the classifier gate at each threshold —
    * the (stratum → total docs, kept docs, kept chars per threshold) wide
    * frame behind the c110 yield curve, computed from an ALREADY-SCORED
    * frame carrying (strataCol, charsCol, score). Scores are per-doc, so
    * the state of any corpus slice is the state of the filtered scored
    * frame — the right materialized view for the whole c109–c112 family
    * — and every column is a sum monoid: states from disjoint slices
    * merge by addition ([[Ivm.mergeStates]]), a retraction is the
    * negated state, which is what lets a 100 TB pipeline maintain its
    * yield report by scoring only the daily delta (c112) instead of
    * rescanning the corpus. One stratum exchange. */
  def classifierYieldStateFromScored(scored: DataFrame, strataCol: String,
                                     charsCol: String,
                                     thresholds: Seq[Long]): DataFrame = {
    val aggs = thresholds.zipWithIndex.flatMap { case (tv, i) => Seq(
      sum(when(col("score") >= tv, 1L).otherwise(0L)).as(s"kd$i"),
      sum(when(col("score") >= tv, col(charsCol)).otherwise(0L)).as(s"kc$i")) }
    scored.groupBy(col(strataCol))
      .agg(count(lit(1)).as("total_docs"), aggs: _*)
  }

  /** The deterministic demo weight fixture for [[linearClassifierScore]]:
    * w(bucket) = (bucket·2654435761) mod 2001 − 1000 ∈ [−1000, 1000]
    * (Knuth multiplicative constant; products ≤ 2⁴⁸ so BIGINT-exact in
    * any engine). Stands in for an exported checkpoint — the oracle
    * replays the same closed form instead of shipping a file. */
  def demoClassifierWeights(spark: org.apache.spark.sql.SparkSession,
                            buckets: Int): DataFrame =
    spark.range(buckets).select(col("id").as("bucket"),
      (pmod(col("id") * lit(2654435761L), lit(2001L)) - 1000L).as("w"))

  /** Stratified sample of EXACTLY k rows, strata quotas by the
    * largest-remainder (Hamilton) apportionment — the eval-set selection
    * problem: "give me exactly 10,000 held-out docs, proportional to the
    * language mix". Floor-only quotas undershoot (Σ⌊k·nₗ/N⌋ < k whenever
    * any stratum has a remainder); Hamilton distributes the shortfall to
    * the strata with the largest integer remainders (k·nₗ mod N), ties
    * broken by stratum name — every step exact BIGINT, so the allocation
    * (and therefore the sample) is engine- and run-reproducible. Within a
    * stratum, membership is the bottom-allocₗ docs by the md5 tokenHash of
    * the key ([[split]]'s doctrine: never partition-dependent randomness).
    *
    * Scale (100 TB): per-stratum counts are one map-side-combined
    * exchange; the apportionment runs on the |strata|-row frame (two tiny
    * windows); the membership pass is one stratum-keyed window over the
    * hashed keys — the same repartition+sort-within-stratum relayout any
    * per-stratum selection pays (alloc is a per-stratum COLUMN, so the
    * constant-limit WindowGroupLimit rewrite doesn't apply; strata are
    * languages/sources — dozens — and the sort key is 8 bytes).
    * Guarantees: Σ alloc = min(k, N); alloc ≤ n per stratum is NOT
    * enforced separately because Hamilton can't exceed it when k ≤ N
    * (quota ≤ n ⇒ floor+1 ≤ n unless remainder 0, which never receives a
    * bonus... except quota exactly n gives remainder 0 — safe). */
  def apportionedSample(df: DataFrame, strataCol: String, keyCol: String,
                        k: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("n"))
    val total = Window.partitionBy()
    val wRem = Window.partitionBy().orderBy(col("rem").desc, col(strataCol))
    val alloc = counts
      .withColumn("nn", sum(col("n")).over(total))
      .withColumn("base", expr(s"(n * ${k}L) div nn"))
      .withColumn("rem", expr(s"(n * ${k}L) % nn"))
      .withColumn("leftover",
        lit(k) - sum(col("base")).over(total))
      .withColumn("bonus",
        (row_number().over(wRem) <= col("leftover")).cast("long"))
      .select(col(strataCol), (col("base") + col("bonus")).as("alloc"))
    val wIn = Window.partitionBy(col(strataCol))
      .orderBy(Text.tokenHash(col(keyCol).cast("string")), col(keyCol))
    df.select(col(strataCol), col(keyCol))
      .withColumn("rk", row_number().over(wIn))
      .join(broadcast(alloc), strataCol)
      .where(col("rk") <= col("alloc"))
      .select(col(strataCol), col(keyCol), col("rk"), col("alloc"))
  }

  /** Weight-proportional sample without replacement ("pick k docs with
    * probability ∝ weight") in ALL-INTEGER arithmetic: each row enters
    * min(weight, cap) lottery tickets, ticket j is the 60-bit md5 of
    * "id:j", a row's key is its MINIMUM ticket, and the sample is the k
    * smallest keys. P(row i outdraws row j) = wᵢ/(wᵢ+wⱼ) — the
    * replicated-ticket form of Efraimidis–Spirakis bottom-k, exact for
    * integer weights. The textbook float form (u^(1/w)) needs pow(),
    * whose 1-ulp cross-engine variance can flip near-tie ranks; tickets
    * here stay BIGINT end-to-end, so the draw is bit-stable in any
    * engine and under any layout ([[split]]'s md5 doctrine).
    *
    * Scale: one map-side explode (≤ cap× the rows, no shuffle — all of a
    * row's tickets stay in its partition, so partial aggregation reduces
    * them to one row per id before the groupBy moves anything), then a
    * global bottom-k (TakeOrdered, never a full sort). `cap` bounds the
    * fan-out; heavier weights clip to it (at 100 TB keep cap modest or
    * log-bucket the weights). */
  def weightedSample(df: DataFrame, idCol: String, weightCol: Column,
                     k: Int, cap: Int = 64): DataFrame = {
    require(k >= 1 && cap >= 1, s"need k >= 1 and cap >= 1, got k=$k cap=$cap")
    df.select(col(idCol), least(weightCol, lit(cap.toLong)).cast("int").as("__w"))
      .where(col("__w") >= 1)
      .select(col(idCol), explode(sequence(lit(0), col("__w") - 1)).as("__j"))
      .select(col(idCol),
        graft.functions.Text.tokenHash(
          concat(col(idCol).cast("string"), lit(":"), col("__j").cast("string"))).as("ticket"))
      .groupBy(col(idCol)).agg(min(col("ticket")).as("tick_min"))
      .orderBy(col("tick_min"), col(idCol)).limit(k)
  }

  /** Train/eval contamination: training docs sharing at least
    * `minShingles` distinct shingles with any eval doc — the n-gram
    * overlap check run before training to keep benchmark text out of the
    * corpus. Takes a precomputed `(id, hs)` shingle index (share the
    * persisted one) and an eval-membership predicate on the id.
    *
    * Scale: both sides explode to (shingle, id) and equi-join on the
    * shingle hash — the inverted-index shape. The eval side is broadcast
    * (a real benchmark suite is tiny next to the corpus), so the training
    * side — the 100 TB side — is never shuffled for the join; only the
    * matched (train, eval) rows reach the overlap aggregation. Never
    * all-pairs.
    *
    * r18 (guide §2.3): both exploded sides are made per-id distinct at
    * the source (a narrow array_distinct — free on [[Dedup.shingleSets]]
    * output, which is already distinct), so every matched row is unique
    * per (train, eval, g) and the overlap is a PLAIN count. The previous
    * countDistinct(g) forced the whole matched stream through a
    * (train, eval, g)-keyed dedup exchange; the plain count partial-
    * aggregates map-side to one row per (train, eval) pair per
    * partition — contaminated pairs share MANY shingles, so this is the
    * operator's big compression step (c25: 11.8 → 1.6 MB r+w).
    */
  def contamination(sets: DataFrame, isEval: Column,
                    minShingles: Int = 5): DataFrame = {
    require(minShingles >= 1, s"minShingles must be >= 1, got $minShingles")
    val ev = sets.where(isEval)
      .select(col("id").as("eval_id"), explode(array_distinct(col("hs"))).as("g"))
    val tr = sets.where(!isEval)
      .select(col("id").as("train_id"), explode(array_distinct(col("hs"))).as("g"))
    tr.join(broadcast(ev), "g")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("novl"))
      .where(col("novl") >= minShingles)
      .groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_eval_hits"), max(col("novl")).as("max_overlap"))
  }

  /** Token-budget document chunking with overlap — the pretokenization
    * relayout every training pipeline runs before packing: each document
    * becomes ⌈(n−overlap)/stride⌉ chunks of ≤ `sizeTokens` whitespace
    * tokens, consecutive chunks sharing `overlap` tokens (stride =
    * sizeTokens − overlap). Documents shorter than one chunk yield exactly
    * one chunk (never zero — empty docs must stay visible to downstream
    * accounting).
    *
    * Pure narrow pass: tokenize → per-row chunk-count arithmetic →
    * posexplode of slices. No shuffle, no UDF — `slice`/`transform`/
    * `array_join` stay in codegen; chunk boundaries depend only on the
    * row, so the operator is embarrassingly parallel and relayout-stable
    * (same chunks whatever the partitioning). Feed the output to
    * [[packByBudget]] for shard assembly.
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            sizeTokens: Int, overlap: Int = 0): DataFrame = {
    require(sizeTokens >= 1, s"sizeTokens must be >= 1, got $sizeTokens")
    require(overlap >= 0 && overlap < sizeTokens,
      s"overlap must be in [0, sizeTokens), got $overlap")
    val stride = sizeTokens - overlap
    df.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("toks"))
      .withColumn("nchunks",
        greatest(lit(1),
          ceil((size(col("toks")) - lit(overlap)).cast("double") / stride).cast("int")))
      .select(col("id"), posexplode(transform(
        sequence(lit(0), col("nchunks") - 1),
        i => struct(
          array_join(slice(col("toks"), i * stride + 1, lit(sizeTokens)), " ").as("chunk_text"),
          size(slice(col("toks"), i * stride + 1, lit(sizeTokens))).as("n_tokens")))))
      .select(col("id"), col("pos").as("chunk_idx"),
        col("col.chunk_text").as("chunk_text"), col("col.n_tokens").as("n_tokens"))
  }

  /** Downsample-only target-mix rebalancing (the "data recipe" stage: hit a
    * target corpus composition — 40% en, 20% code, … — without upsampling).
    * With actual per-stratum weight w_c and target share t_c, the largest
    * corpus achievable by downsampling alone with mix exactly t is
    * T = min_c(w_c / t_c); each stratum keeps rate_c = t_c·T / w_c (the
    * binding stratum keeps everything). Rates are floored to ppm and applied
    * with the same deterministic md5 bucketing as [[stratifiedSample]], so
    * membership is stable under relayout/reruns and the whole computation —
    * IEEE-754 division order included — reproduces bit-identically in any
    * engine. Strata absent from `targets` are dropped (their target share
    * is zero).
    *
    * Scale: one partial-aggregated groupBy builds the |strata|-row weight
    * table; the min and the rates are computed on that tiny frame (the
    * unpartitioned window is over |strata| rows, never data); rates
    * broadcast back and the sampling filter itself is narrow. */
  def targetMix(df: DataFrame, strataCol: String, keyCol: String,
                weightCol: String, targets: Map[String, Double]): DataFrame = {
    require(targets.nonEmpty, "targets must be non-empty")
    require(targets.values.forall(v => v > 0 && v <= 1),
      s"target shares must be in (0,1]: $targets")
    val tgt = targets.foldLeft(lit(null).cast("double")) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    val acts = df.groupBy(col(strataCol))
      .agg(sum(col(weightCol)).cast("long").as("w"))
      .withColumn("tgt", tgt)
      .where(col("tgt").isNotNull)
      .withColumn("cap", col("w").cast("double") / col("tgt"))
    // rate_c·1e6 = floor(((t_c · T) / w_c) · 1e6) — keep this exact op
    // order in any oracle reimplementation (IEEE doubles are deterministic
    // but not associative)
    val rates = acts
      .withColumn("mcap", min(col("cap")).over(Window.partitionBy()))
      .select(col(strataCol),
        floor(col("tgt") * col("mcap") / col("w").cast("double") * lit(1000000.0))
          .cast("long").as("ppm"))
    df.join(broadcast(rates), strataCol)
      .where(hashBucket(col(keyCol), 1000000) < col("ppm"))
  }

  /** Temperature-scaled mixture sampling at T = 2 — the "soften the source
    * distribution" stage multilingual / multi-source training recipes use
    * (sampling share ∝ (w_c/W)^(1/T), the exponent-smoothing recipe of
    * multilingual LM training): larger strata are downsampled so stratum
    * c's kept mass is ∝ sqrt(w_c) — between proportional (T=1, no change)
    * and uniform (T→∞).
    *
    * Downsample-only water-filling ([[targetMix]]'s algebra with computed
    * targets t_c ∝ sqrt(w_c)) collapses to a closed form: the normalizer
    * S = Σ_c sqrt(w_c) cancels between the target share and the binding
    * cap (cap_c = w_c/t_c = S·sqrt(w_c), minimized by the smallest
    * stratum), leaving rate_c = sqrt(w_min)/sqrt(w_c) — the smallest
    * stratum keeps everything and NO distributed float summation exists
    * anywhere (the fixed-order-normalizer concern dissolves: no
    * normalizer survives the cancellation). The only float ops are two
    * correctly-rounded IEEE sqrts, one division and one multiply in the
    * documented order
    *
    *   ppm_c = floor(sqrt(w_min) / sqrt(w_c) · 1e6)
    *
    * — bit-identical in any IEEE-754 engine. T = 2 is pinned because
    * sqrt is correctly rounded by the standard while pow(x, 1/T) for
    * general T is not; a general-T variant would need the c33
    * fixed-order-rational treatment. Membership uses the same md5 ppm
    * bucketing as [[targetMix]] (stable under relayout/rerun/growth).
    *
    * Scale: one partial-aggregated groupBy builds the |strata|-row weight
    * table; the min runs on that tiny frame (unpartitioned window over
    * |strata| rows, never data); rates broadcast back; the sampling
    * filter itself is narrow. */
  def temperatureMix(df: DataFrame, strataCol: String, keyCol: String,
                     weightCol: String): DataFrame = {
    val acts = df.groupBy(col(strataCol))
      .agg(sum(col(weightCol)).cast("long").as("w"))
    val rates = acts
      .withColumn("wmin", min(col("w")).over(Window.partitionBy()))
      .select(col(strataCol),
        floor(sqrt(col("wmin").cast("double")) / sqrt(col("w").cast("double"))
          * lit(1000000.0)).cast("long").as("ppm"))
    df.join(broadcast(rates), strataCol)
      .where(hashBucket(col(keyCol), 1000000) < col("ppm"))
  }

  /** Token-budget epoch allocation across sources — the data-recipe
    * planner's water-filling step: distribute a training budget of
    * `T = totalTokens·budgetNum div budgetDen` tokens across sources,
    * proportional to per-source WEIGHT (doc count here — the
    * every-document-equally-often prior), but no source may contribute
    * more than `maxEpochs` passes over its own tokens. Small sources hit
    * the epoch cap; their unused share flows to the rest (the
    * water-filling level λ rises until the budget is exhausted):
    * alloc_i = min(cap_i, λ·w_i) with Σ alloc = T.
    *
    * CLOSED FORM, no iteration: sort sources by r_i = cap_i/w_i
    * ascending — exactly the sources that cap out first. If the first k
    * are capped, λ_k = (T − Σ_{≤k} cap) / (W − Σ_{≤k} w), and k is valid
    * iff r_k ≤ λ_k < r_{k+1}. Both conditions clear to pure BIGINT
    * products (cap_k·(W − prefW_k) ≤ (T − prefCap_k)·w_k, and the lead
    * form for the right edge), so the split choice is engine-exact; the
    * sort key r_i is the one double (a correctly-rounded quotient of two
    * BIGINTs — the c33 discipline — with the source name as tiebreak).
    * k = n (everything capped, T ≥ Σcap) falls out of the same algebra
    * (the left condition degenerates to T ≥ Σcap); k = 0 is the
    * aggregate-over-empty null path, coalesced.
    *
    * Scale: one partial-aggregated groupBy to the |sources|-row frame;
    * prefix sums, the split pick, and λ all run on that tiny frame
    * (unpartitioned window over |sources| rows, never documents); the
    * 1-row chosen split crosses back as the audited b65-style broadcast.
    * The cleared products are ≤ cap·W — BIGINT-safe into the ~10^5-source
    * × 10^13-token regime; past that, run the same algebra in
    * DECIMAL(38,0). Output per source: (source, tokens, docs,
    * cap_tokens, alloc_tokens, capped, epochs_ppm). Σ alloc_tokens = T
    * up to the per-source floor. */
  def epochAllocation(df: DataFrame, sourceCol: String, weightCol: String,
                      maxEpochs: Int = 4, budgetNum: Long = 2L,
                      budgetDen: Long = 1L): DataFrame = {
    require(maxEpochs >= 1, s"maxEpochs must be >= 1, got $maxEpochs")
    require(budgetNum >= 1 && budgetDen >= 1,
      s"budget multiplier must be positive, got $budgetNum/$budgetDen")
    val strata = df.groupBy(col(sourceCol).as("source"))
      .agg(sum(col(weightCol)).cast("long").as("tokens"),
        count(lit(1)).as("docs"))
    val tot = broadcast(strata.agg(sum(col("tokens")).as("tot_tokens"),
      sum(col("docs")).as("tot_w")))
    val base = strata.crossJoin(tot)
      .withColumn("t_budget", expr(s"(tot_tokens * $budgetNum) div $budgetDen"))
      .withColumn("cap_tokens", col("tokens") * maxEpochs)
      .withColumn("r", col("cap_tokens").cast("double") / col("docs").cast("double"))
    val ws = Window.orderBy(col("r"), col("source"))
    val run = ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pref = base
      .withColumn("rk", row_number().over(ws))
      .withColumn("pref_cap", sum(col("cap_tokens")).over(run))
      .withColumn("pref_w", sum(col("docs")).over(run))
      .withColumn("next_cap", lead(col("cap_tokens"), 1).over(ws))
      .withColumn("next_w", lead(col("docs"), 1).over(ws))
    val condA = col("cap_tokens") * (col("tot_w") - col("pref_w")) <=
      (col("t_budget") - col("pref_cap")) * col("docs")
    val condB = col("next_cap").isNull ||
      (col("t_budget") - col("pref_cap")) * col("next_w") <
        col("next_cap") * (col("tot_w") - col("pref_w"))
    val split = broadcast(pref.where(condA && condB)
      .agg(coalesce(max(col("rk")), lit(0)).as("k_rank"),
        coalesce(max_by(col("pref_cap"), col("rk")), lit(0L)).as("k_cap"),
        coalesce(max_by(col("pref_w"), col("rk")), lit(0L)).as("k_w")))
    pref.crossJoin(split)
      .withColumn("capped", col("rk") <= col("k_rank"))
      .withColumn("alloc_tokens", when(col("capped"), col("cap_tokens"))
        .otherwise(expr(
          "((t_budget - k_cap) * docs) div nullif(tot_w - k_w, 0)")))
      .select(col("source"), col("tokens"), col("docs"), col("cap_tokens"),
        col("alloc_tokens"), col("capped"),
        expr("(alloc_tokens * 1000000) div nullif(tokens, 0)").as("epochs_ppm"))
  }

  /** One-pass Poisson bootstrap over corpus statistics — the
    * uncertainty-estimation pattern for 100 TB metrics: instead of
    * resampling the corpus B times (B full passes), each row draws a
    * Poisson(1) multiplicity PER REPLICATE from a deterministic hash
    * (the standard Poisson-bootstrap approximation of multinomial
    * resampling; exact as n → ∞), and every replicate's statistics
    * accumulate in ONE narrow pass. The spread across replicates is the
    * sampling variance of the metric — the error bar corpus dashboards
    * need without B scans.
    *
    * Determinism: the multiplicity is a ppm-bucket lookup on the 60-bit
    * md5 of "key:replicate" ([[hashBucket]] — same construction as every
    * split/sample in this engine) against the FLOORED cumulative
    * Poisson(1) pmf in ppm (367879 / 735758 / 919698 / 981011 / 996340,
    * multiplicities ≥ 5 collapsed into 5 — ppm quantization, documented);
    * both engines compute identical integer weights, so the replicate
    * stats hash-match exactly.
    *
    * Scale: the replicate explode amplifies rows B× but only map-side —
    * partial aggregation compacts to B rows per task before the (tiny)
    * shuffle; no state grows with the corpus. */
  def bootstrapStats(df: DataFrame, keyCol: String, valCol: String,
                     replicates: Int = 8): DataFrame = {
    require(replicates >= 1 && replicates <= 64,
      s"replicates must be in [1,64], got $replicates")
    val bucket = hashBucket(
      concat(col("k").cast("string"), lit(":"), col("replicate").cast("string")),
      1000000)
    val weight = when(bucket < 367879, 0L).when(bucket < 735758, 1L)
      .when(bucket < 919698, 2L).when(bucket < 981011, 3L)
      .when(bucket < 996340, 4L).otherwise(5L)
    df.select(col(keyCol).as("k"), col(valCol).cast("long").as("v"),
        explode(sequence(lit(0), lit(replicates - 1))).as("replicate"))
      .withColumn("w", weight)
      .groupBy(col("replicate"))
      .agg(sum(col("w")).as("drawn"), sum(col("w") * col("v")).as("val_sum"))
      .select(col("replicate"), col("drawn"), col("val_sum"),
        expr("(val_sum * 1000) div nullif(drawn, 0)").as("mean_milli"))
  }

  /** Source-level reputation gate (the curation stage that drops whole
    * domains/feeds rather than individual documents): keep documents whose
    * SOURCE's mean quality clears `minMeanNano` (mean scaled to 1e-9).
    * Integer-exact end-to-end: `scoreNano` must already be an exact long
    * (e.g. [[graft.functions.Text.qualityScoreNano]] — a pure-rational
    * integer form, never `round()` of a double, whose half-ulp behavior
    * differs between engines), sums are longs — a distributed `avg(double)`
    * is not order-reproducible (partial-aggregation tree order changes the
    * IEEE rounding) — and the mean test is `sum_nano ≥ minMeanNano·n` with
    * both sides integers, so the gate is bit-identical across engines and
    * relayouts with no floating point anywhere.
    *
    * Scale: one partial-aggregated groupBy to the |sources|-row reputation
    * table (tiny — domains, not documents), broadcast back, narrow filter.
    * The per-doc score is computed once, inside the same scan.
    *
    * The output carries (id, source, src_docs) — the gate DECISION and the
    * source's size, not the raw score sum. The sum is an internal: exposing
    * it makes the result exactly as fragile as the scoring kernel in every
    * engine that re-derives it, whereas the keep/drop decision is robust to
    * any per-doc scoring drift smaller than the gate margin (the r5 driver
    * run agreed on all 300 gated rows while disagreeing on a score sum). */
  def sourceReputation(df: DataFrame, sourceCol: String, idCol: String,
                       scoreNano: Column, minMeanNano: Long): DataFrame = {
    require(minMeanNano >= 0, s"minMeanNano must be non-negative, got $minMeanNano")
    val q = df.select(col(idCol), col(sourceCol),
      scoreNano.cast("long").as("qn"))
    val rep = q.groupBy(col(sourceCol))
      .agg(sum(col("qn")).as("src_sum_nano"), count(lit(1)).as("src_docs"))
      .where(col("src_sum_nano") >= lit(minMeanNano) * col("src_docs"))
    q.join(broadcast(rep), sourceCol)
      .select(col(idCol), col(sourceCol), col("src_docs"))
  }

  /** EMBEDDING-space train/eval decontamination: flag every training
    * vector whose cosine against ANY eval vector reaches `threshold` —
    * the semantic sibling of the n-gram checks ([[contamination]],
    * [[bloomDecontamination]]) that catches paraphrased benchmark leakage
    * sharing no exact n-grams. Returns (id, n_hits) for flagged training
    * rows; callers anti-join to drop them.
    *
    * Plan at 100 TB: recall here is non-negotiable (a missed eval
    * neighbor poisons the benchmark), so no LSH — the eval side is
    * BROADCAST whole and every training vector is checked exactly. That
    * is sound because eval sets are structurally tiny (benchmarks:
    * 10³–10⁵ rows) while train is the 100 TB side: work is
    * |train|·|eval| dot products map-side with NO shuffle of train
    * (the c06 audited bounded-broadcast shape), and the output agg
    * shuffles only flagged ids. Norms hoisted; cosine rounded to 6dp
    * pre-threshold (the c05 cross-engine convention). */
  def embeddingDecontam(train: DataFrame, evalSet: DataFrame,
                        idCol: String, vecCol: String,
                        threshold: Double): DataFrame = {
    val dot = graft.plans.VectorExpressions.dotProduct _
    val tr = train.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val ev = evalSet.select(col(idCol).as("eid"), col(vecCol).as("ev"))
      .withColumn("enrm", sqrt(dot(col("ev"), col("ev"))))
    tr.crossJoin(broadcast(ev))
      .withColumn("cosr", dot(col("v"), col("ev")) / (col("nrm") * col("enrm")))
      // prefilter-gated exact threshold test (the r13 rule — proof and
      // constants in VectorExpressions.cosineAtLeast): |train|·|eval|
      // candidates flow through here, so the per-evaluation BigDecimal of
      // a bare round() must run only on near-threshold survivors
      .where(graft.plans.VectorExpressions.cosineAtLeast(col("cosr"), threshold))
      .groupBy(col("id")).agg(count(lit(1)).as("n_hits"))
  }

  /** Exact train/eval decontamination with a Bloom prefilter — the 100 TB
    * shape of [[contamination]] when the eval n-gram universe is too big to
    * broadcast raw: build one m-bit Bloom bitmap over the eval side's
    * shingle hashes (map-side partial OR-merge, only bitmaps move), deliver
    * it to probe tasks as a scalar subquery, and drop every training
    * shingle whose probe misses BEFORE the verify join's shuffle. The Bloom
    * has no false negatives, so prefilter + exact semi-join ≡ exact
    * semi-join — the filter only removes rows the join would drop anyway —
    * and false positives merely cost a little extra verify work
    * (~0.6^k·|train shingles| rows at the classic m/n sizing).
    *
    * Returns the distinct contaminated training ids: training docs sharing
    * at least one shingle with any eval doc. Takes a prebuilt `(id, hs)`
    * shingle index (use a longer n-gram than the dedup index — 5-8 words —
    * so a hit means copied text, not a common phrase).
    *
    * Cache retention contract: the eval shingle universe is persisted and
    * INTENTIONALLY not unpersisted here — builders are lazy (PlanSpec
    * forbids actions), so there is no materialization point to unpersist
    * after. Retention is bounded: Spark's CacheManager keys entries by
    * canonicalized plan, so re-invocations over the same (sets, isEval)
    * share one spill-safe MEMORY_AND_DISK entry, and the eval universe is
    * the small side by construction. A long-lived service cycling many
    * distinct eval sets should `spark.catalog.clearCache()` between them.
    */
  def bloomContaminated(sets: DataFrame, isEval: Column,
                        mBits: Int = 1 << 20, k: Int = 5): DataFrame = {
    // both the Bloom build (scalar subquery) and the verify semi-join read
    // the eval shingle universe; persist so its explode + distinct shuffle
    // runs once, not once per consumer
    val ev = sets.where(isEval)
      .select(explode(col("hs")).as("g")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bloom = ev.agg(graft.functions.Bloom.build(col("g"), mBits, k).as("bf")).scalar()
    sets.where(!isEval)
      .select(col("id"), explode(col("hs")).as("g"))
      .where(graft.plans.BloomExpressions.mightContain(bloom, col("g"), k))
      .join(ev, Seq("g"), "left_semi")
      .select(col("id")).distinct()
  }

  /** Bloom sizing advisor — the c83/c94 measure-then-decide pattern
    * pointed at [[bloomContaminated]]'s (mBits, k) dials: per candidate
    * bitmap size, the exact measured key count next to the integer
    * sizing rule and a MEASURED false-positive probe of the actually
    * built filter.
    *
    * The rule: at the optimal operating point k = (m/n)·ln 2 the false
    * positive rate is exactly 2^−k, so for a 2^−k target the bitmap must
    * satisfy m ≥ n·k/ln 2 — integerized as
    * `min_bits = (n·k·10000 + 6930) div 6931` (⌈·⌉ against ln 2 ≈
    * 0.6931, both engines' BIGINT). `chosen` = the smallest eligible
    * candidate. The measured side builds each candidate filter for real
    * and probes it with `nProbes` keys provably outside the member set
    * (distinct hash prefix AND an anti-join): `fp_ok` certifies the
    * chosen-size rate stays under 4× target (the b18/b78 bound-boolean
    * pattern — the raw count is engine-measured, the bound is what the
    * oracle asserts). `fp_count` is REPORTED, not asserted: fp rates
    * falling as m grows is statistically expected but not theorem-backed
    * across independently hashed filters (r9 ADVICE), so callers read the
    * counts and oracles verify only the bound.
    *
    * Scale: members hash-distinct once (persisted, shared by all
    * candidates); each candidate is one bitmap aggregate (bitmaps cross
    * the wire, never rows) + one narrow probe scan; the decision runs on
    * a |candidates|-row frame. Nothing here grows with the corpus except
    * the one distinct pass the sizing needs anyway. */
  /** Bounded cache for [[bloomAdvisor]]'s distinct member-hash sets (see
    * the persist note inside). Small bound: each entry is O(n_keys) rows.
    * Keyed by the 128-bit md5 of the canonicalized key plan + hash
    * expression ([[graft.sources.Memo.planKey]] — not the 32-bit
    * semanticHash, whose collisions would silently serve the wrong member
    * set). Plan-keyed ⇒ assumes the key table is immutable for the app's
    * life. */
  private val memberHashMemo = new graft.sources.Memo[DataFrame](maxEntries = 4)(_.unpersist())

  def bloomAdvisor(keys: DataFrame, keyHash: Column,
                   candMBits: Seq[Int] = Seq(1 << 14, 1 << 16, 1 << 18),
                   k: Int = 10, nProbes: Int = 1 << 16): DataFrame = {
    require(candMBits.nonEmpty && candMBits.forall(m => m > 0 && m % 64 == 0),
      s"candidate sizes must be positive multiples of 64, got $candMBits")
    require(k >= 1 && k <= 16, s"k must be in [1,16], got $k")
    // Bounded-memo'd, not bare-persisted (r9 VERDICT #4): the distinct
    // member-hash set is O(n_keys) rows — NOT tiny at scale — and a bare
    // persist pins it MEMORY_AND_DISK for the app's life. The Memo bounds
    // live entries (LRU, unpersist on eviction) and dedupes repeat advisor
    // calls over the same key set.
    val exprMd5 = graft.sources.Memo.md5Hex(
      org.apache.spark.sql.graftglue.ColumnGlue.expression(keyHash)
        .canonicalized.toString)
    val memoKey = s"bloomAdvisor:$exprMd5:${graft.sources.Memo.planKey(keys)}"
    val hs = memberHashMemo.getOrElseUpdate((keys.sparkSession, memoKey)) {
      keys.select(keyHash.as("h")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val nKeys = broadcast(hs.agg(count(lit(1)).as("n_keys")))
    val probes = keys.sparkSession.range(nProbes.toLong)
      .select(graft.functions.Text.tokenHash(
        concat(lit("p"), col("id").cast("string"))).as("h"))
    val perConfig = candMBits.map { m =>
      val bloom = hs.agg(graft.functions.Bloom.build(col("h"), m, k).as("bf")).scalar()
      val fp = broadcast(probes
        .where(graft.plans.BloomExpressions.mightContain(bloom, col("h"), k))
        .join(hs, Seq("h"), "left_anti")
        .agg(count(lit(1)).as("fp_count")))
      nKeys.crossJoin(fp).select(lit(m).as("m_bits"), lit(k).as("k_hashes"),
        col("n_keys"),
        expr(s"(n_keys * $k * 10000 + 6930) div 6931").as("min_bits"),
        col("fp_count"))
    }.reduce(_.unionAll(_))
    // decision windows run on the |candidates|-row frame, never on data
    val w = org.apache.spark.sql.expressions.Window.orderBy(
      col("eligible").desc, col("m_bits"))
    val wm = org.apache.spark.sql.expressions.Window.orderBy(col("m_bits"))
    perConfig
      .withColumn("eligible", col("m_bits") >= col("min_bits"))
      .withColumn("chosen", row_number().over(w) === 1)
      .withColumn("fp_ok",
        !col("eligible") || col("fp_count") * 256 <= lit(nProbes.toLong))
      .select(col("m_bits"), col("k_hashes"), col("n_keys"), col("min_bits"),
        col("eligible"), col("chosen"), col("fp_ok"), col("fp_count"))
  }

  /** Integer-exact BM25-lite relevance ranking of every document against a
    * fixed bag of query terms — the retrieval scorer a curation pipeline
    * uses to pull topic-relevant documents out of a crawl. Classic BM25
    * with k1 = 6/5 and b = 3/4; clearing denominators turns the whole
    * per-(doc, term) score into one integer division:
    *
    *   score_t = idf_t · tf(k1+1) / (tf + k1(1−b+b·dl/avgdl))
    *           = idf_t · 44·tf·A / (20·tf·A + 6·A + 18·dl·N)
    *
    * with N docs, A total tokens (avgdl = A/N substituted and the rational
    * multiplied out), dl the doc's token count and tf the term's count in
    * the doc. idf is the log-free rank-equivalent complement
    * `idf_milli = (1000·(2(N−df)+1)) div (2·df+1)` — the classic
    * (N−df+.5)/(df+.5) with denominators cleared. (A floor-log2 idf — the
    * c54 `length(bin(n))−1` trick — is the right shape for a natural
    * vocabulary, but it quantizes to {0} on a head-heavy synthetic one;
    * the linear complement keeps the same df ordering at full integer
    * resolution.) Every quantity is a BIGINT and every division is a
    * floor division, so any engine produces identical scores bit-for-bit
    * — never a float log or a distributed double sum. Magnitudes:
    * idf_milli·44·tf·A·1000 needs A·tf ≲ 2·10¹¹ — fine to ~10⁹-token
    * corpora; past that, drop the milli scale or move the numerator to
    * DECIMAL(38,0).
    *
    * Plan: one explode + groupBy(doc, term) over ONLY rows matching the
    * |terms|-literal IN filter (the scan drops everything else), per-doc
    * dl from a narrow map, corpus stats (N, A) delivered to tasks as
    * scalar subqueries (the c34 pattern — one long each, never a row
    * join), per-term idf as a |terms|-row broadcast. Shuffles: the
    * (doc, term) tf aggregate and the final per-doc sum, both
    * partial-aggregated; work scales with occurrences of the query
    * terms, not the corpus. */
  def bm25LiteMilli(df: DataFrame, idCol: String, textCol: String,
                    terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "bm25LiteMilli needs at least one query term")
    val docs = df.select(col(idCol), Text.tokens(col(textCol)).as("toks"))
    val dl = docs.select(col(idCol), size(col("toks")).cast("long").as("dl"))
    val nDocs = dl.agg(count(lit(1)).as("n_docs")).scalar()
    val aTokens = dl.agg(sum(col("dl")).as("a_tokens")).scalar()
    val tf = docs
      .select(col(idCol), explode(col("toks")).as("tok"))
      .where(col("tok").isin(terms: _*))
      .groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val idf = tf.groupBy(col("tok")).agg(count(lit(1)).cast("long").as("df_t"))
      .select(col("tok"),
        call_function("div",
          lit(1000L) * (lit(2L) * (nDocs - col("df_t")) + lit(1L)),
          lit(2L) * col("df_t") + lit(1L)).as("idf_milli"))
    tf.join(broadcast(idf), Seq("tok"))
      .join(dl, Seq(idCol))
      .select(col(idCol),
        call_function("div",
          col("idf_milli") * lit(44L) * col("tf") * aTokens,
          lit(20L) * col("tf") * aTokens + lit(6L) * aTokens
            + lit(18L) * col("dl") * nDocs).as("term_milli"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms"), sum(col("term_milli")).as("score_milli"))
  }

  /** Per-group cap: keep the `n` best rows of each group under `ord` (which
    * must be a total order for determinism — end it with the id).
    *
    * The web-corpus curation rule "at most N documents per domain/source"
    * (the Common-Crawl-style skew guard: one spammy host must not dominate
    * the training mix). Plan at scale: the rank-filter shape is rewritten
    * by Spark to WindowGroupLimit — every map task keeps a per-group top-n
    * heap BEFORE the shuffle, so a hot group ships ~n rows per task, never
    * its full population (the b41 plan property; asserted for this
    * operator in PlanSpec).
    */
  def capPerGroup(df: DataFrame, group: Column, ord: Seq[Column], n: Int,
                  rankName: String = "rank"): DataFrame = {
    require(n >= 1, s"cap must be positive, got $n")
    val w = Window.partitionBy(group).orderBy(ord: _*)
    df.withColumn(rankName, row_number().over(w)).where(col(rankName) <= n)
  }

  /** Top-`k` retrieval ranks for one fusion leg: rows densely numbered
    * 1..k by (`scoreCol` DESC, `idCol` ASC) — a total order, so the ranks
    * are reproducible in any engine, including across the k-th-place
    * boundary.
    *
    * Plan: `orderBy(…).limit(k)` is TakeOrderedAndProject — every
    * partition keeps a local top-k heap and only k rows per partition
    * reach the single-point merge; no global sort of the scored corpus
    * ever happens (the c46 TakeOrdered pattern applied to retrieval). The
    * row_number window then runs over one k-row partition — constant
    * work regardless of corpus size. */
  def topKRanks(scored: DataFrame, idCol: String, scoreCol: String,
                k: Int, rankName: String): DataFrame = {
    val ord = Seq(col(scoreCol).desc, col(idCol).asc)
    scored.orderBy(ord: _*).limit(k)
      .withColumn(rankName, row_number().over(Window.orderBy(ord: _*)))
      .select(col(idCol), col(rankName))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR'09):
    * score(d) = Σ over legs of 1/(rrfK + rank_leg(d)), a doc absent from
    * a leg contributing 0 — the standard rank-based way to fuse a lexical
    * and a dense retrieval run without comparable scores.
    *
    * Integer-exact: each contribution is the floor-scaled rational
    * `10⁹ div (rrfK + rank)` — one BIGINT floor division any engine
    * computes identically (the c56 cleared-denominator discipline), never
    * a float sum. Adjacent-rank contributions at the ppb scale stay
    * distinct out to rank ≈ 30 000, far past any practical leg depth, so
    * no fusion ordering is lost to the scaling.
    *
    * Each leg is a (idCol, uniquely-named rank column) frame, e.g. from
    * [[topKRanks]]. Plan: legs are k-row frames, so the full-outer fusion
    * joins hash tiny sides on `idCol` only — fusion cost is O(Σ leg
    * sizes), independent of corpus size; all corpus-sized work happened
    * inside each leg's own (partial-aggregated / TakeOrdered) plan. */
  def rrfFuse(legs: Seq[DataFrame], idCol: String, rrfK: Int = 60): DataFrame = {
    require(legs.size >= 2, "rrfFuse needs at least two legs")
    val rankCols = legs.map(_.columns.filterNot(_ == idCol).toSeq)
    rankCols.foreach(rc => require(rc.lengthCompare(1) == 0,
      s"each leg must be exactly ($idCol, rank), got ${rc.mkString(",")}"))
    require(rankCols.flatten.distinct.lengthCompare(legs.size) == 0,
      "leg rank columns must be uniquely named")
    val joined = legs.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val contrib = rankCols.flatten.map(rc =>
      coalesce(call_function("div", lit(1000000000L), lit(rrfK.toLong) + col(rc)),
        lit(0L)))
    joined.withColumn("rrf_ppb", contrib.reduce(_ + _))
  }
}
