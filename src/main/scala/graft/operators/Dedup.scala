package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Similarity, Text}

/** Deduplication operators for LLM-scale corpora (SURVEY.md §2C).
  *
  * Scale design (100 TB): every variant is bounded by shuffles on explicit,
  * well-distributed keys — band signatures (minhash), hash chunks (simhash),
  * shingle hashes (inverted index), never an unblocked O(n²) cross join.
  * Exact-verification joins happen only on candidate pairs, whose cardinality
  * the banding/blocking keeps near-linear. No driver-side state, no collect.
  */
object Dedup {

  import Text.P

  /** Exact dedup: canonical representative (min id) per identical value.
    * Plain hash aggregation — one shuffle on the dedup key, map-side
    * partial aggregation for free. */
  def exact(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_dups"))

  /** Deterministic affine minhash permutations h_i(x) = (a_i·x + b_i) mod P.
    * Constants from a fixed LCG so Spark and the oracle agree. */
  private[graft] def coeffA(i: Int): Long = (1103515245L * (i + 1) + 12345L) % P match {
    case 0L => 1L; case a => a
  }
  private[graft] def coeffB(i: Int): Long = (69069L * (i + 1) + 1L) % P

  /** numPerm-long minhash signature of a distinct-hash set column —
    * codegen'd ([[graft.plans.VectorExpressions.MinHashSig]]). */
  def minhashSignature(hashes: Column, numPerm: Int): Column =
    graft.plans.VectorExpressions.minhashSig(hashes, numPerm,
      (0 until numPerm).map(coeffA), (0 until numPerm).map(coeffB))

  /** Interpreted HOF form of [[minhashSignature]] — identical arithmetic,
    * kept for equivalence testing. */
  def minhashSignatureHof(hashes: Column, numPerm: Int): Column =
    transform(sequence(lit(0), lit(numPerm - 1)), i => {
      val a = element_at(array((0 until numPerm).map(j => lit(coeffA(j))): _*), i + 1)
      val b = element_at(array((0 until numPerm).map(j => lit(coeffB(j))): _*), i + 1)
      array_min(transform(hashes, h => pmod(a * pmod(h, lit(P)) + b, lit(P))))
    })

  /** The shared shingle-set index: one row per doc with its distinct
    * 60-bit shingle hashes — the common input of [[minhashPairsOf]] and
    * [[ngramJaccardPairsOf]]. Persist (and reuse) it when running several
    * similarity operators over the same corpus: the hashing kernel is the
    * expensive pass, and the index is small relative to the corpus and
    * disk-spillable — the "cache the dedup index" pattern. */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
                  shingleN: Int = 3): DataFrame =
    df.select(col(idCol).as("id"),
        array_distinct(Text.shingleHashes(col(textCol), shingleN)).as("hs"))
      .where(size(col("hs")) > 0)

  /** MinHash + LSH near-dup pairs, exact-verified.
    *
    * shingle → 60-bit md5 hash set → numPerm minhashes → `bands` bands of
    * `numPerm/bands` rows; docs sharing any band signature are candidates;
    * candidates are verified with exact jaccard ≥ `threshold`.
    *
    * With numPerm=64, bands=16 (r=4): P(candidate | j) = 1-(1-j⁴)¹⁶, i.e.
    * ≥ 99.98% at j=0.8 and ~1e-5 at the corpus background j≈0.03 — so the
    * result equals the exact-jaccard answer with near-certainty, which is
    * precisely what the DuckDB oracle computes by brute force at small sf.
    *
    * Scale: the only shuffles are groupBy/join on (band, signature) and the
    * candidate-pair verification join on doc ids. Band buckets are capped
    * (`maxBucket`) to drop degenerate towers (standard LSH skew guard).
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, numPerm: Int = 64, bands: Int = 16,
                   threshold: Double = 0.8, maxBucket: Int = 1000): DataFrame =
    minhashPairsOf(
      shingleSets(df, idCol, textCol, shingleN)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      numPerm, bands, threshold, maxBucket)

  /** [[minhashPairs]] over a precomputed (id, hs) shingle index — pass a
    * persisted index to share it across operators (re-persisting the same
    * plan is a no-op, so standalone callers are unaffected).
    *
    * Plan note (one banded exchange, tower-safe): the banded frame
    * shuffles ONCE on (band, bandsig); a window count over that
    * partitioning applies the `maxBucket` cap, and the within-bucket
    * pair expansion (collect_list + double explode) runs in the SAME
    * stage because its grouping keys match the window's partitioning —
    * no second exchange, no hot-set broadcast. Safety split: the window
    * buffers a degenerate tower's rows in a spillable row array
    * (ExternalAppendOnlyUnsafeRowArray), while collect_list — whose
    * single aggregation buffer CANNOT spill — only ever sees
    * post-filter buckets of ≤ maxBucket ids (≤ ~8 KB).
    *
    * The trade, stated honestly: a tower's rows DO cross the exchange
    * here and spill at their reducer before the count discards them —
    * disk-bounded and non-fatal, but a straggler on a degenerately
    * skewed corpus; the prior hot-count + broadcast-anti-join shape
    * dropped towers map-side BEFORE any exchange, at the price of the
    * banded exchange twice plus a near-banded-sized count shuffle on
    * NORMAL data (r17 ledger: c02 12,176 → 6,854 KB r+w from this
    * re-shape). This shape optimizes the common case because
    * identical-doc towers cannot reach a production near-dup pass at
    * all — exact/canonical dedup (c01/c71) runs first in every
    * curation pipeline, including this repo's own (c77) — and residual
    * near-identical towers are orders smaller. A corpus skipping exact
    * dedup should prefer [[incrementalMinhashPairs]]'s anti-join
    * discipline (it keeps the pre-exchange drop because its corpus
    * side must never shuffle at all). */
  def minhashPairsOf(sets: DataFrame, numPerm: Int = 64, bands: Int = 16,
                     threshold: Double = 0.8, maxBucket: Int = 1000): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    val r = numPerm / bands
    val sigs = sets.withColumn("sig", minhashSignature(col("hs"), numPerm))
    val banded = sigs.select(col("id"), posexplode(
        array((0 until bands).map(b =>
          array_join(transform(slice(col("sig"), b * r + 1, r), _.cast("string")), "_")): _*)))
      .toDF("id", "band", "bandsig")
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bandsig"))
    val cands = banded
      .withColumn("n", count(lit(1)).over(wb))
      .where(col("n").between(2, maxBucket))
      .groupBy(col("band"), col("bandsig"))
      .agg(collect_list(col("id")).as("ids"))
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .where(col("a") < col("b"))
      .distinct()
    val withSets = cands
      .join(sets.select(col("id").as("a"), col("hs").as("ha")), "a")
      .join(sets.select(col("id").as("b"), col("hs").as("hb")), "b")
    withSets
      .withColumn("inter", size(array_intersect(col("ha"), col("hb"))))
      .withColumn("uni", size(array_union(col("ha"), col("hb"))))
      .where(col("inter") >= col("uni") * threshold)
      .select(col("a"), col("b"))
  }

  /** Incremental near-dup pairs: a NEW batch against the existing corpus,
    * plus within-batch pairs — never corpus×corpus. This is the
    * daily-ingest shape at 100 TB: re-running [[minhashPairsOf]] over the
    * whole corpus per batch re-pays the full pair search every day, while
    * here candidate volume is proportional to the BATCH. The corpus's
    * banded signatures are computed once per corpus version (in
    * production, persisted at ingest time next to the data); each arriving
    * batch joins its own banded signatures — broadcast, a batch is small
    * by definition — against that index, so the corpus side is scanned but
    * never shuffled. Candidates are exact-jaccard verified in-stream (the
    * shingle set rides the band rows, as in the LSH embedding verify), so
    * at the c02 operating point (numPerm=64, bands=16: recall ≥ 99.98% at
    * j=0.8) the result equals the exact jaccard join restricted to pairs
    * touching the batch.
    *
    * Cache retention contract: the batch's banded signatures are persisted
    * and INTENTIONALLY not unpersisted here — builders are lazy (PlanSpec
    * forbids actions), so there is no materialization point to unpersist
    * after. Retention is bounded: Spark's CacheManager keys cache entries
    * by canonicalized plan, so re-invocations over the same (sets, isNew)
    * share one spill-safe MEMORY_AND_DISK entry, and a batch index is small
    * by definition. A long-lived service cycling many distinct corpora
    * should `spark.catalog.clearCache()` between corpus versions (the same
    * contract as the shared shingle index in [[minhashPairs]]).
    */
  def incrementalMinhashPairs(sets: DataFrame, isNew: Column,
                              numPerm: Int = 64, bands: Int = 16,
                              threshold: Double = 0.8,
                              maxBucket: Int = 1000): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    val r = numPerm / bands
    def banded(df: DataFrame): DataFrame =
      df.withColumn("sig", minhashSignature(col("hs"), numPerm))
        .select(col("id"), col("hs"), posexplode(
          array((0 until bands).map(b =>
            array_join(transform(slice(col("sig"), b * r + 1, r), _.cast("string")), "_")): _*)))
        .toDF("id", "hs", "pos", "bandsig")
        .select(col("id"), col("hs"), col("pos").as("band"), col("bandsig"))
    // degenerate-tower cap, same rationale as minhashPairsOf's maxBucket: a
    // band signature shared by massively many docs (empty/boilerplate
    // texts) would fan every matching row out |bucket|-fold through one
    // skewed join task. The hot set counts over CORPUS ∪ BATCH — a tower
    // internal to the batch (first ingest, a re-crawl of near-identical
    // pages) must cap the within-batch leg too, and a bucket whose
    // corpus and batch halves only jointly exceed the cap fans out
    // corpus×batch in the cross leg — then anti-joins off both sides
    // (map-side-combined count, usually empty; the hot-shingle cut shape
    // from ngramJaccardPairsOf).
    // corpusAll feeds two plan positions (hot count + anti-join) and is
    // deliberately NOT persisted: at scale the banded corpus (16 band rows
    // × signature × shingle set per doc) dwarfs executor storage, so the
    // kernel recompute is the cheaper leg. The BATCH side is persisted
    // below — it is ingest-sized, and it feeds three positions.
    val corpusAll = banded(sets.where(!isNew))
    val batchAll = banded(sets.where(isNew))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = corpusAll.select(col("band"), col("bandsig"))
      .unionAll(batchAll.select(col("band"), col("bandsig")))
      .groupBy(col("band"), col("bandsig"))
      .agg(count(lit(1)).as("n")).where(col("n") > maxBucket)
      .select(col("band"), col("bandsig"))
    val corpus = corpusAll.join(broadcast(hot), Seq("band", "bandsig"), "left_anti")
    // batchAll is persisted above so the batch minhash kernel runs ONCE
    // (it feeds the hot count AND this anti-join); the anti-joined frame
    // is persisted too because it feeds three positions (the cross-leg
    // broadcast and both within-leg sides) and the broadcast must not
    // re-run the anti-join per consumer. Both frames are ingest-sized.
    val batch = batchAll
      .join(broadcast(hot), Seq("band", "bandsig"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cross = corpus.as("c").join(broadcast(batch).as("n"),
        col("c.band") === col("n.band") && col("c.bandsig") === col("n.bandsig"))
      .select(col("c.id").as("x"), col("n.id").as("y"),
        col("c.hs").as("hx"), col("n.hs").as("hy"))
    val within = batch.as("p").join(broadcast(batch).as("q"),
        col("p.band") === col("q.band") && col("p.bandsig") === col("q.bandsig") &&
          col("p.id") < col("q.id"))
      .select(col("p.id").as("x"), col("q.id").as("y"),
        col("p.hs").as("hx"), col("q.hs").as("hy"))
    cross.unionByName(within)
      .withColumn("inter", size(array_intersect(col("hx"), col("hy"))))
      .withColumn("uni", size(array_union(col("hx"), col("hy"))))
      .where(col("inter") >= col("uni") * threshold)
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .distinct()
  }

  /** Batch parity of the STREAMING near-dup detector
    * ([[graft.streaming.Streams.streamNearDupCandidates]] / c37): pairs
    * sharing ≥1 LSH band whose minhash signatures agree on ≥ `minAgree`
    * of `numPerm` permutations — the estimate a stream can check IN-STATE
    * without a second pass (exact jaccard would need the earlier doc's
    * shingle set; the stream's state deliberately keeps only the 64-long
    * signature). Direction is arrival order in the stream; this batch
    * form fixes arrival = id order, so the output is
    * (doc_id = later, dup_of = earlier, n_agree). With the defaults,
    * `n/64 ≥ 0.7` in IEEE doubles ⇔ `n ≥ 45` exactly (45/64 is the first
    * representable value ≥ 0.7), so the integer criterion equals the
    * streaming operator's double threshold — StreamingSpec asserts the
    * equality against a live MemoryStream run.
    *
    * Scale: the banded-LSH shape of [[minhashPairsOf]] — shuffles only on
    * (band, bandsig) and the pair distinct; hot buckets anti-joined off
    * (the c36 cap); signatures ride the band rows so the agreement check
    * runs in-stream with no re-join of a signature table (the c31
    * lesson — ~0.5 KiB/band-row of extra shuffle instead of a second
    * join over the whole corpus).
    */
  def signatureAgreementPairs(sets: DataFrame, numPerm: Int = 64,
                              bands: Int = 16, minAgree: Int = 45,
                              maxBucket: Int = 1000): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    require(minAgree >= 1 && minAgree <= numPerm, s"minAgree out of range: $minAgree")
    val r = numPerm / bands
    val banded = sets.withColumn("sig", minhashSignature(col("hs"), numPerm))
      .select(col("id"), col("sig"), posexplode(
        array((0 until bands).map(b =>
          array_join(transform(slice(col("sig"), b * r + 1, r), _.cast("string")), "_")): _*)))
      .toDF("id", "sig", "band", "bandsig")
    val hot = banded.groupBy(col("band"), col("bandsig"))
      .agg(count(lit(1)).as("n")).where(col("n") > maxBucket)
      .select(col("band"), col("bandsig"))
    val ok = banded.join(broadcast(hot), Seq("band", "bandsig"), "left_anti")
    ok.as("x").join(ok.as("y"),
        col("x.band") === col("y.band") && col("x.bandsig") === col("y.bandsig") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("dup_of"), col("y.id").as("doc_id"),
        aggregate(zip_with(col("x.sig"), col("y.sig"),
          (a, b) => (a === b).cast("int")), lit(0), _ + _).as("n_agree"))
      .where(col("n_agree") >= minAgree)
      .distinct()
      .select(col("doc_id"), col("dup_of"), col("n_agree"))
  }

  /** Sketch-calibration report: for every exact near-dup pair (jaccard ≥
    * `threshold` over the capped inverted index), the exact intersection
    * and union sizes NEXT TO the minhash signature agreement count — the
    * "n_agree/numPerm estimates inter/uni" guarantee as hash-checked
    * output columns rather than a unit-test claim (the b18/c42 pattern
    * applied to minhash). Everything is integer and md5-deterministic, so
    * an independent engine reproduces every column bit-for-bit.
    *
    * Scale: the pair discovery is [[ngramJaccardPairsOf]]'s capped
    * inverted-index join; signatures join on doc id (near-dup-pair-sized
    * relation, two hash joins). Nothing new shuffles beyond the pair graph.
    */
  def jaccardCalibration(sets: DataFrame, threshold: Double = 0.8,
                         numPerm: Int = 64, maxPosting: Int = 10000): DataFrame =
    jaccardCalibrationOf(cappedCoCounts(sets, maxPosting), sets, threshold, numPerm)

  /** [[jaccardCalibration]] over a precomputed [[cappedCoCounts]] frame
    * (r17 sharing variant — see [[containmentPairsOf]]); `sets` is still
    * needed for the minhash signatures of the surviving pairs.
    *
    * INVARIANT (r17 ADVICE): `co` MUST be [[cappedCoCounts]] of this
    * very `sets` frame (same rows, same `maxPosting`) — the
    * (a, b, inter, sza, szb) columns are only meaningful against the
    * sets they were counted from, and a mismatched pair silently
    * produces inconsistent calibration rows. Production callers keep a
    * single producer: EntryShared.docCoCounts over
    * EntryShared.docShingleSets is the only call site. */
  private[graft] def jaccardCalibrationOf(co: DataFrame, sets: DataFrame,
                           threshold: Double = 0.8,
                           numPerm: Int = 64): DataFrame = {
    val pairs = co
      .withColumn("uni", col("sza") + col("szb") - col("inter"))
      .where(col("inter") >= col("uni") * threshold)
      .select(col("a"), col("b"), col("inter"), col("uni"))
    val sigs = sets.select(col("id"), minhashSignature(col("hs"), numPerm).as("sig"))
    pairs
      .join(sigs.select(col("id").as("a"), col("sig").as("siga")), "a")
      .join(sigs.select(col("id").as("b"), col("sig").as("sigb")), "b")
      .select(col("a"), col("b"), col("inter"), col("uni"),
        aggregate(zip_with(col("siga"), col("sigb"),
          (x, y) => (x === y).cast("int")), lit(0), _ + _).as("n_agree"))
  }

  /** Milli-quantized LSH S-curve threshold (1/b)^(1/r) — the jaccard at
    * which a (bands=b, rows=r) banding reaches ~50 % candidate
    * probability. Driver-side constant (b, r are plan literals), so both
    * engines see the same integer. */
  private[graft] def lshThresholdMilli(bands: Int, r: Int): Long =
    math.round(1000.0 * math.pow(1.0 / bands, 1.0 / r))

  /** Milli-quantized candidate recall 1−(1−j^r)^b of a (bands, r) banding
    * at jaccard `jMilli` — the S-curve evaluated at the operating point.
    * Driver-side constant for the same reason as [[lshThresholdMilli]]. */
  private[graft] def lshRecallMilli(bands: Int, r: Int, jMilli: Long): Long = {
    val j = jMilli.toDouble / 1000.0
    math.round(1000.0 * (1.0 - math.pow(1.0 - math.pow(j, r), bands)))
  }

  /** LSH parameter advisor — c83's "measure, then decide" pattern applied
    * to [[minhashPairsOf]]'s own dials: for each candidate band count it
    * MEASURES the banding's bucket occupancy on the actual corpus
    * signatures (hot buckets, max bucket size, total candidate pairs =
    * Σ n·(n−1)/2) and places the analytic S-curve columns — the 50 %
    * threshold and the recall 1−(1−j^r)^b at the target jaccard — next to
    * the measured cost, then marks the config a planner should run: the
    * CHEAPEST one (fewest candidate pairs) whose target-jaccard recall
    * clears `recallFloorMilli` and whose candidate volume fits the
    * verification budget (`pairBudgetPerDoc` × corpus size). More bands ⇒
    * more recall AND more candidates — this makes that trade-off a
    * measured table instead of folklore, closing the loop on the
    * c02/c31/c82 recall dials (docs/PLANS.md holds the measured-recall
    * side: numPerm=64/bands=16, the config this rule selects, is the c02
    * operating point with measured recall ≥ 99.98 % at j=0.8).
    *
    * Determinism: signatures are the md5/LCG minhash (engine-portable
    * integers), bucket stats are counts, threshold/recall are driver-side
    * literals, and the chosen flag is a total-order rank (eligibility,
    * cand_pairs, bands) over the config frame — every column reproduces
    * bit-for-bit on any engine at any parallelism.
    *
    * Scale: one signature pass over the corpus (the shared persisted
    * index pattern), then per config one groupBy on (band, bandsig) whose
    * input is |docs|·bands short rows and whose output is compacted by
    * map-side partial aggregation; the decision runs on a |configs|-row
    * frame. No pair is ever materialized — the advisor costs a vanishing
    * fraction of the join it prices, which is the point of running it
    * BEFORE committing to a banding at 100 TB. */
  def lshParamAdvisor(sets: DataFrame, numPerm: Int = 64,
                      candBands: Seq[Int] = Seq(8, 16, 32),
                      targetJaccardMilli: Long = 800L,
                      recallFloorMilli: Long = 990L,
                      pairBudgetPerDoc: Long = 20L): DataFrame = {
    require(candBands.nonEmpty && candBands.forall(b => b >= 1 && numPerm % b == 0),
      s"every candidate band count must divide numPerm=$numPerm; got $candBands")
    val sigs = sets.withColumn("sig", minhashSignature(col("hs"), numPerm))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = broadcast(sigs.agg(count(lit(1)).as("n_docs")))
    val perConfig = candBands.map { b =>
      val r = numPerm / b
      val banded = sigs.select(col("id"), posexplode(
          array((0 until b).map(i =>
            array_join(transform(slice(col("sig"), i * r + 1, r), _.cast("string")), "_")): _*)))
        .toDF("id", "band", "bandsig")
      banded.groupBy(col("band"), col("bandsig"))
        .agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(expr("(n * (n - 1)) div 2")), lit(0L)).as("cand_pairs"),
          coalesce(sum(when(col("n") >= 2, 1L).otherwise(0L)), lit(0L)).as("hot_buckets"),
          coalesce(max(col("n")), lit(0L)).cast("long").as("max_bucket"))
        .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
          lit(lshThresholdMilli(b, r)).as("threshold_milli"),
          lit(lshRecallMilli(b, r, targetJaccardMilli)).as("recall_milli"),
          col("hot_buckets"), col("max_bucket"), col("cand_pairs"))
    }.reduce(_.unionAll(_))
    // decision over the |configs|-row frame (bounded by the candidate
    // list, never by data) — the unpartitioned window is safe here
    val w = org.apache.spark.sql.expressions.Window.orderBy(
      col("eligible").desc, col("cand_pairs"), col("bands"))
    perConfig.crossJoin(nDocs)
      .withColumn("eligible", col("recall_milli") >= lit(recallFloorMilli) &&
        col("cand_pairs") <= col("n_docs") * pairBudgetPerDoc)
      // chosen REQUIRES eligibility: when no candidate clears the recall
      // floor within the pair budget, every chosen is false (the caller
      // must widen the candidate list), never a silently under-recall
      // pick; eligible is exposed so the consumer can see why
      .withColumn("chosen", col("eligible") && row_number().over(w) === 1)
      .select(col("bands"), col("rows_per_band"), col("threshold_milli"),
        col("recall_milli"), col("hot_buckets"), col("max_bucket"),
        col("cand_pairs"), col("eligible"), col("chosen"))
  }

  /** Exact n-gram jaccard similarity join via inverted index (the
    * scalable exact path next to minhash's approximate one).
    *
    * posting list (shingle-hash → doc) self-joined on the shingle, counting
    * co-occurrences per pair = |intersection|; set sizes give the union.
    * Shuffles: one on shingle hash (well distributed — md5), one groupBy on
    * the pair. Hot shingles are capped (`maxPosting`) — a document-frequency
    * cut that bounds the pair blowup, standard for similarity joins.
    *
    * Cap semantics: set sizes are taken from the SAME capped posting list
    * as the intersection counts, so when the cap fires the result is the
    * exact jaccard over the sub-universe of non-hot shingles — numerator
    * and denominator stay consistent (capping only the intersection would
    * silently drop near-threshold pairs). When no shingle's document
    * frequency exceeds `maxPosting` (checkable via [[cappedShingleCount]])
    * the result is the exact jaccard, full stop.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, threshold: Double = 0.8,
                        maxPosting: Int = 10000): DataFrame =
    ngramJaccardPairsOf(
      shingleSets(df, idCol, textCol, shingleN)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      threshold, maxPosting)

  /** The capped inverted-index co-count core shared by every exact
    * set-overlap operator ([[ngramJaccardPairsOf]], [[containmentPairs]],
    * [[jaccardCalibration]]): all pairs sharing ≥ 1 non-hot shingle, with
    * |intersection| and both (cap-consistent) set sizes.
    *
    * The posting list re-explodes from the (persisted) `sets` index on
    * each consumer — cache scans + explode, no recomputed kernel. The
    * hot-shingle cut is a broadcast anti-join: the document-frequency agg
    * is map-side-combined and the hot set is tiny (usually empty), so the
    * posting list itself never pays an extra shuffle or window sort.
    * Sizes are computed from the SAME capped posting list as the
    * intersections, so numerator and denominator stay consistent when the
    * cap fires.
    *
    * Exposed package-private (r17 optimization round) so a caller running
    * SEVERAL overlap operators over one shingle index can build the
    * co-count frame once, persist it, and feed the `...Of` variants
    * ([[containmentPairsOf]], [[topSimilarPairsOf]],
    * [[jaccardCalibrationOf]]) — at suite level the three consumers were
    * each re-paying this kernel's self-join shuffle (~40 MB/run at sf0.1,
    * the single largest repeated exchange in the bench ledger). The
    * returned frame is (a, b, inter, sza, szb), a < b.
    */
  private[graft] def cappedCoCounts(sets: DataFrame, maxPosting: Int): DataFrame = {
    val postings = sets.select(col("id"), explode(col("hs")).as("h"))
    val hot = postings.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .where(col("df") > maxPosting).select(col("h"))
    val capped = postings.join(broadcast(hot), Seq("h"), "left_anti")
    val sizes = capped.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    capped.as("x").join(capped.as("y"),
        col("x.h") === col("y.h") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("a"), col("sz").as("sza")), "a")
      .join(sizes.select(col("id").as("b"), col("sz").as("szb")), "b")
  }

  /** [[ngramJaccardPairs]] over a precomputed (id, hs) shingle index (see
    * [[minhashPairsOf]] for the sharing pattern). */
  def ngramJaccardPairsOf(sets: DataFrame, threshold: Double = 0.8,
                          maxPosting: Int = 10000): DataFrame =
    cappedCoCounts(sets, maxPosting)
      .where(col("inter") >= (col("sza") + col("szb") - col("inter")) * threshold)
      .select(col("a"), col("b"))

  /** Threshold-free similarity ranking: the k most similar document
    * pairs in the corpus by exact shingle jaccard, scored in integer
    * MILLI-jaccard (`(1000·inter) div union` — exact, engine-portable,
    * and a total order with the (a, b) tie-break). The exploratory
    * companion to the thresholded joins: "what are the worst near-dups"
    * without guessing a cutoff first.
    *
    * Plan: the [[ngramJaccardPairsOf]] co-count kernel (capped inverted
    * index — only pairs sharing ≥1 shingle are ever materialized, which
    * is also exactly the set with jaccard > 0), then a global top-k —
    * Spark plans TakeOrdered (per-task k-row heaps, no full sort,
    * nothing single-partition until k rows). */
  def topSimilarPairs(sets: DataFrame, k: Int = 20,
                      maxPosting: Int = 10000): DataFrame =
    topSimilarPairsOf(cappedCoCounts(sets, maxPosting), k)

  /** [[topSimilarPairs]] over a precomputed [[cappedCoCounts]] frame
    * (r17 sharing variant — see [[containmentPairsOf]]). */
  private[graft] def topSimilarPairsOf(co: DataFrame, k: Int = 20): DataFrame =
    co.select(col("a"), col("b"),
        expr("(1000 * inter) div (sza + szb - inter)").as("milli_jaccard"))
      .orderBy(col("milli_jaccard").desc, col("a"), col("b"))
      .limit(k)

  /** Number of shingles whose document frequency exceeds `maxPosting` —
    * when 0, [[ngramJaccardPairs]] is exact over the full shingle universe.
    * An action; run it as a data-quality check, not in the query path. */
  def cappedShingleCount(df: DataFrame, idCol: String, textCol: String,
                         shingleN: Int = 3, maxPosting: Int = 10000): Long =
    df.select(col(idCol).as("id"),
        explode(array_distinct(Text.shingleHashes(col(textCol), shingleN))).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .where(col("df") > maxPosting)
      .count()

  /** Prefix-filtered exact jaccard join (the PPJoin family: Chaudhuri et
    * al. SSJoin 2006, Xiao et al. PPJoin 2008; behavioral kin of oamap's
    * exact-dedup goal, reference symbols per SURVEY provenance note).
    * Same semantics as [[ngramJaccardPairsOf]] — ALL pairs with jaccard ≥
    * `tNum/tDen` over the distinct-shingle sets — but a different, strictly
    * sub-inverted-index candidate generator:
    *
    * Under any total order on the shingle universe, if J(x,y) ≥ t then the
    * FIRST common shingle of x and y (in that order) lies within the first
    * `|x| − ⌈t·|x|⌉ + 1` shingles of x AND the first `|y| − ⌈t·|y|⌉ + 1`
    * of y (if it didn't, the ≥⌈t·|x|⌉ common shingles would all have to
    * fit in the ⌈t·|x|⌉−1 suffix — pigeonhole). So it suffices to index
    * only each set's (1−t)-fraction PREFIX under a global
    * rarest-first order (document frequency asc, hash asc): the indexed
    * postings are both ~5× fewer (t=0.8) and, by construction, each doc's
    * RAREST shingles — the posting lists that drive the pair blowup in the
    * plain inverted index are exactly the ones the prefix drops. No
    * hot-shingle cap is needed for exactness; a size filter
    * (`tDen·min ≥ tNum·max`) prunes candidates whose length ratio alone
    * caps jaccard below t.
    *
    * Shuffle story at 100 TB: df agg on shingle hash (map-side combined),
    * df join back (shuffle on hash), per-doc prefix ranking (one window,
    * partition = doc — bounded by doc length), candidate self-join on the
    * prefix hash (shuffle on hash, posting lists rare-by-construction),
    * verify joins on id. Every stage is key-partitioned; nothing is
    * quadratic except genuinely similar pairs. Threshold is a rational
    * `tNum/tDen` and all comparisons are integer cross-multiplications —
    * no float on any engine-compared path.
    */
  def prefixJaccardPairsOf(sets: DataFrame, tNum: Int = 4, tDen: Int = 5): DataFrame = {
    val postings = sets.select(col("id"), size(col("hs")).as("sz"), explode(col("hs")).as("h"))
    val dfTab = postings.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val ranked = postings.join(dfTab, Seq("h"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("df"), col("h"))))
    // rn ≤ sz − ⌈t·sz⌉ + 1  ⟺  sz·tNum ≤ (sz − rn + 1)·tDen  (ceil(x) ≤ n
    // ⟺ x ≤ n for integer n) — pure integer arithmetic, no division
    val prefix = ranked.where(
      col("sz") * tNum <= (col("sz") - col("rn") + 1) * tDen)
    val candidates = prefix.as("x").join(prefix.as("y"),
        col("x.h") === col("y.h") && col("x.id") < col("y.id") &&
          least(col("x.sz"), col("y.sz")) * tDen >= greatest(col("x.sz"), col("y.sz")) * tNum)
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
    val full = sets.select(col("id"), col("hs"), size(col("hs")).as("sz"))
    candidates
      .join(full.select(col("id").as("a"), col("hs").as("hsa"), col("sz").as("sza")), "a")
      .join(full.select(col("id").as("b"), col("hs").as("hsb"), col("sz").as("szb")), "b")
      .withColumn("inter", size(array_intersect(col("hsa"), col("hsb"))).cast("long"))
      .where(col("inter") * tDen >= (col("sza") + col("szb") - col("inter")) * tNum)
      .select(col("a"), col("b"))
  }

  /** [[prefixJaccardPairsOf]] from raw text (shingle index built inline —
    * share a persisted [[shingleSets]] via the `...Of` form when running
    * several similarity operators over one corpus). */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         shingleN: Int = 3, tNum: Int = 4, tDen: Int = 5): DataFrame =
    prefixJaccardPairsOf(
      shingleSets(df, idCol, textCol, shingleN)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      tNum, tDen)

  /** 60-bit hash of the canonical form of a text column (lowercase +
    * punctuation map + empty-token drop — the c71 normalization), for
    * grouping without ever shuffling raw text. */
  def canonicalKey(textCol: Column): Column = {
    val punct = ".,!?;:()\"'"
    Text.tokenHash(array_join(
      filter(split(lower(translate(coalesce(textCol, lit("")),
        punct, " " * punct.length)), " "), x => x =!= ""), " "))
  }

  /** Canonicalizing exact dedup: lowercase, map sentence punctuation to
    * spaces, drop the resulting empty tokens, and group on the 60-bit
    * hash of the re-joined canonical form — the CCNet/Gopher-style
    * normalization pass that catches trivial reformattings ("Hello,
    * world!" ≡ "hello world") which byte-exact dedup (c01) misses while
    * staying deterministic enough for an oracle (no Unicode tables, no
    * locale: ASCII lower + a FIXED punctuation map, reproducible in any
    * engine). Returns one row per canonical group: representative min id,
    * member count, and how many distinct RAW texts the group merged
    * (n_variants > 1 ⟺ the canonicalizer earned its keep on that group).
    *
    * Scale: one narrow canonicalization map, then a groupBy whose shuffle
    * keys are 60-bit hashes ONLY — the group key is the canonical hash
    * and the variant counter is count(distinct hash(text)), so no stage
    * ships document bytes (c01's group-by-text does; the distinct-raw
    * counter over the text column itself would too). */
  def canonicalExact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.select(col(idCol), canonicalKey(col(textCol)).as("ck"),
        Text.tokenHash(col(textCol)).as("th"))
      .groupBy(col("ck"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_dups"),
        countDistinct(col("th")).as("n_variants"))
      .drop("ck")
  }

  /** Survivorship policy over canonical-dup groups: within each
    * [[canonicalKey]] group keep the single best member by
    * (weightCol desc, id asc) — the "keep the longest/highest-quality
    * variant" rule real dedup pipelines apply instead of
    * [[canonicalExact]]'s min-id representative (which keeps the
    * EARLIEST, not the BEST). The tiebreak on id makes the survivor a
    * total-order choice, deterministic in any engine.
    *
    * Scale: one shuffle on the 60-bit canonical hash (never raw text
    * bytes); the rank and the group size are two window functions over
    * the SAME (ck) partitioning — one sort, one exchange. Weight must be
    * a precomputed exact column (e.g. n_chars), not a float score. */
  def keepBest(df: DataFrame, idCol: String, textCol: String,
               weightCol: String): DataFrame = {
    val wck = org.apache.spark.sql.expressions.Window.partitionBy(col("ck"))
    df.select(col(idCol), col(weightCol), canonicalKey(col(textCol)).as("ck"))
      .withColumn("rn", row_number().over(
        wck.orderBy(col(weightCol).desc, col(idCol))))
      .withColumn("group_size", count(lit(1)).over(wck))
      .where(col("rn") === 1)
      .select(col(idCol), col(weightCol), col("group_size"))
  }

  /** Edit-distance (Levenshtein) near-dup pairs over a short derived key —
    * the typo-granular member of the dedup family (minhash c02 = set
    * overlap, simhash c03 = bit distance, this = character edits: the
    * right notion for titles/names/IDs where one transposition is one
    * unit of difference, not one shingle).
    *
    * Key: the first `keyTokens` whitespace tokens of the lowercased text
    * (the "title"); quadratic DP cost is bounded by the key length, never
    * the document length. Candidates: same FIRST token (blocked candidate
    * generation — like LSH banding, a recall-bounded heuristic: an edit
    * inside the lead token escapes the block; it is the sorted-key analog
    * of c65's sorted-neighborhood) pre-filtered by the length theorem
    * |len(a) − len(b)| ≤ maxDist, which is a NECESSARY condition for
    * lev ≤ maxDist, evaluated row-local before any DP runs. Verify:
    * builtin `levenshtein` (classic Wagner–Fischer; identical algorithm
    * in the oracle engine, exact integer result).
    *
    * Scale: one shuffle of (id, title) keyed by the block token — raw
    * documents never move; the DP runs only inside blocks. Block
    * population is corpus-dependent; at 100 TB block on (lead token,
    * length band) or feed candidates from c65's sorted neighborhood, and
    * cap degenerate blocks with the maxBucket discipline — the verify
    * stage is unchanged. `maxBlock` IS that cap (the maxBucket
    * discipline): a block keeps only its `maxBlock` lowest-id members —
    * deterministic, so the oracle replicates the cut exactly — bounding
    * any block's pair work at maxBlock²/2 no matter how degenerate the
    * lead-token distribution gets (every doc starting with "the").
    * Output: (doc_a, doc_b, dist), doc_a < doc_b. */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        keyTokens: Int = 8, maxDist: Int = 14,
                        maxBlock: Int = 4096): DataFrame = {
    require(keyTokens >= 2, s"keyTokens must be >= 2, got $keyTokens")
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(maxBlock >= 2, s"maxBlock must be >= 2, got $maxBlock")
    val toks = Text.tokens(lower(col(textCol)))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("blk")).orderBy(col("id"))
    val keyed = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        array_join(slice(toks, 1, keyTokens), " ").as("title"),
        element_at(toks, 1).as("blk"))
      .withColumn("rn", row_number().over(wb))
      .where(col("rn") <= maxBlock)
      .drop("rn")
    // The DP cost lives in the PAIR stream, not the (tiny) keyed rows —
    // if the blocked join broadcasts, the probe side inherits the input
    // file layout (often 1 parquet file = 1 task) and the quadratic
    // verify runs serially. The explicit numbered repartition is
    // user-specified, so AQE will not coalesce it back down by byte
    // size (bytes here wildly understate work). Measured: 7.4 s → sub-s
    // at sf0.1 (417k DP verifies).
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val a = keyed.repartition(parts)
      .select(col("id").as("doc_a"), col("title").as("ta"), col("blk"))
    val b = keyed.select(col("id").as("doc_b"), col("title").as("tb"), col("blk"))
    a.join(b, Seq("blk"))
      .where(col("doc_a") < col("doc_b") &&
        abs(length(col("ta")) - length(col("tb"))) <= maxDist)
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("ta"), col("tb")).as("dist"))
      .where(col("dist") <= maxDist)
  }

  /** Content-defined chunking (CDC) duplicate-span detection: split every
    * doc into variable-length chunks at ROLLING-HASH boundaries (a chunk
    * starts wherever the positional w-gram hash ≡ 0 mod `gearMod` — the
    * gear/Rabin discipline from dedup storage systems), then find chunks
    * shared verbatim across documents. Because boundaries are decided by
    * local content, not offsets, an insertion near the top of a copied
    * passage shifts every position yet the chunks downstream of the next
    * boundary re-align — the property fixed-stride spans (c44 family)
    * lack, and the chunk-granular middle ground between whole-doc exact
    * dedup (c01) and per-position span stats (c44).
    *
    * Chunk identity is the 60-bit [[Text.tokenHash]] of the chunk's
    * ordered hash sequence (rendered as space-joined decimal strings) —
    * collision odds ~n_chunks²/2^60, and the same md5 construction is
    * computable in the oracle. Per doc: total chunks, chunks appearing in
    * ≥2 distinct docs, and the token positions those cover.
    *
    * Shuffle story: positions shuffle once on doc id (both windows and
    * the chunk groupBy are satisfied by that one hashpartitioning — the
    * chunk number is a within-doc running sum); the cross-doc frequency
    * agg and its join shuffle on the chunk hash (uniform md5). Nothing
    * is pairwise; work is linear in corpus positions, the dup check is
    * an O(#chunks) aggregation. */
  def cdcChunkDedup(df: DataFrame, idCol: String, textCol: String,
                    w: Int = 2, gearMod: Int = 8): DataFrame = {
    val pos = df.select(col(idCol).as("id"),
      posexplode(Text.spanHashes(coalesce(col(textCol), lit("")), w)).as(Seq("pos", "h")))
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
      .orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val chunks = pos
      .withColumn("chunk",
        sum((pmod(col("h"), lit(gearMod.toLong)) === 0).cast("long")).over(wDoc))
      .groupBy(col("id"), col("chunk"))
      .agg(count(lit(1)).as("chunk_len"),
        Text.tokenHash(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("h")))),
            x => x.getField("h").cast("string")), " ")).as("ch"))
    val freq = chunks.groupBy(col("ch")).agg(countDistinct(col("id")).as("nd"))
    chunks.join(freq, "ch")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum((col("nd") > 1).cast("long")).as("dup_chunks"),
        sum(when(col("nd") > 1, col("chunk_len")).otherwise(0L)).as("dup_tokens"))
  }

  /** 64-bit SimHash: bit j of the signature is the sign of the sum over
    * distinct tokens of ±1 depending on bit j of the token's 64-bit md5
    * hash. Codegen'd kernel ([[graft.plans.TextExpressions.SimHash64Expr]]).
    *
    * 64 bits (not the md5-parse-friendly 60 or the former 48) so the
    * pigeonhole blocking in [[simhashPairs]] gets full 16-bit chunk keys.
    * Signed-long overflow never bites: the signature is assembled with
    * bitwise OR, and every cross-engine comparison (the DuckDB oracle)
    * happens on the two POSITIVE 32-bit halves — see the c03 oracle SQL.
    */
  def simhash64(toks: Column): Column =
    graft.plans.TextExpressions.simhash64(toks)

  /** Interpreted HOF form of [[simhash64]] — identical arithmetic, kept
    * for equivalence testing. The 64-bit token hash is taken as two 32-bit
    * md5 halves (hex chars 1–8 / 9–16) exactly like the oracle, so every
    * intermediate stays positive. */
  def simhash64Hof(toks: Column): Column = {
    val halves = transform(array_distinct(toks), t => struct(
      conv(substring(md5(t), 1, 8), 16, 10).cast("long").as("hi"),
      conv(substring(md5(t), 9, 8), 16, 10).cast("long").as("lo")))
    // per-token ±1 vote vector over the 64 bits, summed with one fold, then
    // reassembled into the signature — one pass over the tokens.
    val bitVotes = transform(halves, h =>
      array((0 until 64).map { j =>
        val bit =
          if (j < 32) shiftright(h.getField("lo"), j)
          else shiftright(h.getField("hi"), j - 32)
        when(bit.bitwiseAND(1) === 1, 1).otherwise(-1)
      }: _*))
    val votes = aggregate(bitVotes, array_repeat(lit(0), 64),
      (acc, v) => zip_with(acc, v, (a, b) => a + b))
    (0 until 64).map(j =>
      when(element_at(votes, j + 1) > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming, banded.
    *
    * Pigeonhole blocking: split 64 bits into (maxHamming+1) chunks — pairs
    * within distance k must agree on ≥1 chunk, so candidates come from an
    * equi-join on (chunk index, chunk value), then exact popcount verify.
    * Shuffle keys are chunk values (uniform); no cross join anywhere.
    *
    * Candidate math at scale: each chunk table contributes ~n²/2^bitsPer
    * random-collision candidates. At the default maxHamming=3 the chunks
    * are 16 bits wide, so 10⁹ docs yield ~n/65536 ≈ 15k docs per bucket —
    * 16× fewer verify pairs than the former 48-bit/12-bit layout. Raising
    * maxHamming narrows the chunks (64/(k+1)); past k≈5 prefer Manku-style
    * multi-table permutation blocking.
    *
    * `maxBucket` is the standing hot-key cap (CLAUDE.md scale checklist):
    * a tower of identical/empty texts collides in EVERY chunk table and
    * would otherwise join tower × tower uncapped; buckets over the cap
    * are dropped from pairing (their members are not examined — the same
    * conservative overflow rule as minhash's maxBucket). Default sits
    * well above the ~15k legit bucket population at 10⁹ docs, so only
    * true degeneracy trips it.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 100000): DataFrame = {
    // 64 chunks of >= 1 bit is the hard ceiling; and chunks = maxHamming+1
    // must leave bitsPer >= 1 or every chunk masks to 0 and the banded
    // join collapses into ONE all-pairs bucket
    require(maxHamming >= 0 && maxHamming <= 63,
      s"maxHamming must be in [0,63], got $maxHamming")
    val chunks = maxHamming + 1
    val bitsPer = 64 / chunks
    // 1L<<64 wraps to 1 (mask 0): the single-chunk case (maxHamming=0,
    // exact-signature blocking) must keep the whole signature
    val mask = if (bitsPer == 64) -1L else (1L << bitsPer) - 1
    // persist the signatures: the banded self-join reads them from both
    // sides, and the simhash kernel pass is the expensive part.
    val sh = df.select(col(idCol).as("id"),
      Dedup.simhash64(Text.tokens(col(textCol))).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // arithmetic shiftright sign-extends the top chunk; the mask keeps every
    // chunk value positive 16-bit (full-width single chunk may be negative —
    // only equality is joined on)
    val bandedAll = sh.select(col("id"), col("sh"), posexplode(
        array((0 until chunks).map(c =>
          shiftright(col("sh"), c * bitsPer).bitwiseAND(mask)): _*)))
      .toDF("id", "sh", "chunk", "val")
    val hot = bandedAll.groupBy(col("chunk"), col("val"))
      .agg(count(lit(1)).as("n")).where(col("n") > maxBucket)
      .select(col("chunk"), col("val"))
    val banded = bandedAll.join(broadcast(hot), Seq("chunk", "val"), "left_anti")
    banded.as("x").join(banded.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.val") === col("y.val") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
      .distinct()
  }

  /** Connected components over a near-dup pair list: every document in a
    * component gets the component's minimum doc id as its cluster
    * representative — the end stage that turns pairwise similarity into
    * dedup groups.
    *
    * Accelerated min-label propagation (pointer jumping): each node starts
    * labeled with itself; every round does (1) a neighbor-min step — each
    * node takes the minimum label among itself and its neighbors — and
    * (2) a pointer-jump step — each node shortcuts to its label's label
    * (`lbl := lbl(lbl)`), doubling the propagation distance. A path of
    * length d therefore collapses in O(log d) rounds, not O(d) — the same
    * asymptotics as large-star/small-star contraction — so deep near-dup
    * chains (the pathological shape for plain propagation) converge within
    * the default `maxIter` (2^20 ≈ 10⁶-hop chains). Asserted by the
    * 300-node-chain fixture in SimilarityAndDedupSpec.
    *
    * The fixed point is unique (min id reachable from each node), so the
    * result is deterministic regardless of execution order. Each round is
    * two joins + one groupBy on node ids and follows the [[Iterate]] round
    * policy: its label frames are lazy local checkpoints (truncating
    * lineage — the jump self-join would otherwise double the plan every
    * round), and its one action is the label-sum probe that materializes
    * them. The driver-side loop holds only that scalar, never data. If
    * the loop exits without reaching the fixed point it THROWS rather than
    * silently returning partially-propagated labels.
    *
    * Graph-side intermediates (symmetrized edge list, and the pair list
    * unless the caller persisted it) are unpersisted on exit, converged or
    * not. The returned labels are checkpoint-backed: there is nothing to
    * unpersist ([[Iterate]]).
    *
    * The rounds need operator-specific conf (AQE off, right-sized
    * shuffle.partitions); they run on a conf-isolated `newSession()` clone
    * ([[Sessions]]) so queries planned concurrently on the caller's session
    * never see those settings. The returned labels are re-rooted back onto
    * the caller's session.
    */
  def clusters(pairs: DataFrame, idA: String = "a", idB: String = "b",
               maxIter: Int = 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel.{MEMORY_AND_DISK, NONE}
    // symmetrization reads the pair list twice — persist it so an expensive
    // upstream (e.g. a similarity join) runs once. If the CALLER already
    // persisted it (shared memoized pair graphs), leave its cache marker
    // alone — persisting again is a no-op but unpersisting on exit would
    // silently evict the caller's shared intermediate.
    val callerPersisted = pairs.storageLevel != NONE
    val p = if (callerPersisted) pairs else pairs.persist(MEMORY_AND_DISK)
    // symmetrized edge list WITH self-loops: (u,u) makes each node its own
    // neighbor, so the per-round "min over self and neighbors" collapses to
    // a single join+groupBy over edges — no separate left-join step
    val rawEdges = p.select(col(idA).as("src"), col(idB).as("dst"))
      .union(p.select(col(idB).as("src"), col(idA).as("dst")))
      .union(p.select(col(idA).as("src"), col(idA).as("dst")))
      .union(p.select(col(idB).as("src"), col(idB).as("dst")))
      .distinct().persist(MEMORY_AND_DISK)
    // the pair graph is normally orders of magnitude smaller than the
    // corpus; size the iteration partitioning to the graph, not the session
    // default, so each round's joins don't pay full-width scheduling
    val parts = math.max(1, math.min(
      pairs.sparkSession.sparkContext.defaultParallelism,
      (rawEdges.count() / 50000L).toInt + 1))
    val edgesOrigin = rawEdges.repartition(parts, col("dst")).persist(MEMORY_AND_DISK)
    // The ROUNDS run with AQE off and shuffle.partitions = parts:
    // partitioning is already sized explicitly to the measured edge count,
    // every round re-plans the same stages, and AQE's stage-by-stage
    // materialization adds a fixed re-optimization cost to each of the
    // O(log d) rounds — for iterative graph workloads that per-round
    // overhead dominates what runtime re-planning could save. That conf
    // lives on a conf-isolated session clone, NOT the caller's session
    // (concurrent queries keep their AQE/partition settings — asserted in
    // SimilarityAndDedupSpec); the one-time edge build above runs on the
    // caller's session with AQE untouched (it may want skew splits).
    val origin = pairs.sparkSession
    val sess = Sessions.isolated(origin,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> parts.toString)
    val edges = Sessions.reroot(edgesOrigin, sess)
    // labels only ever decrease, so the label sum is strictly monotone
    // until the fixed point — the round's probe is one agg, not a
    // join-based diff. sum() of an empty frame is NULL — an empty pair
    // list (a corpus with no near-dups) must converge to an empty label
    // frame, not NPE
    def labelSum(labels: DataFrame): java.math.BigDecimal =
      Option(labels.agg(sum(col("lbl").cast("decimal(38,0)"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    try {
      // Initialization fuses the first neighbor-min step (lbl₀ = min(id,
      // min neighbor)) into the node-set aggregation — one round for free.
      val labels0 = edges.groupBy(col("src"))
        .agg(min(col("dst")).as("m"))
        .select(col("src").as("id"), least(col("src"), col("m")).as("lbl"))
        .localCheckpoint(eager = false)
      val (labels, _) = Iterate.fixpoint((labels0, labelSum(labels0)), maxIter,
          "Dedup.clusters (a component deeper than 2^maxIter hops?)") {
        case (labels, sum0) =>
          // min over self and neighbors in one join+groupBy (self-loops
          // above make lbl(u) itself part of the aggregation); the jump
          // self-join below reads `stepped` twice, and its checkpoint
          // computes it once for both sides
          val stepped = edges.join(labels, edges("dst") === labels("id"))
            .groupBy(col("src")).agg(min(col("lbl")).as("lbl"))
            .select(col("src").as("id"), col("lbl"))
            .localCheckpoint(eager = false)
          // pointer jump: labels are node ids, so every label has a row — an
          // inner self-join resolves lbl -> lbl(lbl) (which is ≤ lbl, labels
          // only decrease)
          val next = stepped.as("n")
            .join(stepped.select(col("id").as("jid"), col("lbl").as("jlbl")),
              col("n.lbl") === col("jid"))
            .select(col("n.id").as("id"), col("jlbl").as("lbl"))
            .localCheckpoint(eager = false)
          val nextSum = labelSum(next)
          ((next, nextSum), nextSum.compareTo(sum0) == 0)
      }
      // labels is checkpoint-backed (LogicalRDD) — re-rooting onto the
      // caller's session hands back a plan with no tie to the clone
      Sessions.reroot(
        labels.select(col("id"), col("lbl").as("cluster_rep")), origin)
    } finally {
      edgesOrigin.unpersist(); rawEdges.unpersist()
      if (!callerPersisted) p.unpersist()
    }
  }

  /** Embedding near-dup: ALL pairs with cosine ≥ threshold — exact.
    *
    * An exact similarity join at a low threshold (e.g. 0.35 over
    * near-isotropic vectors) is inherently Θ(n²) comparisons: no LSH/IVF
    * blocking can guarantee recall when qualifying pairs sit in the bulk of
    * the random-pair cosine distribution (hyperplane-LSH collision
    * probability at cos 0.35 is only ~0.61/bit). What CAN scale is the
    * *plan*: instead of a BroadcastNestedLoopJoin (one whole side broadcast
    * to every task — dies when the table outgrows executor memory), vectors
    * are tiled into a `numBlocks × numBlocks` upper-triangular grid and the
    * pair generation becomes an equi-join on the tile id:
    *
    *   - block(v) = pmod(hash(id), numBlocks); a vector in block p is
    *     replicated to row-tiles (p,j) j≥p and column-tiles (i,p) i≤p —
    *     every unordered block pair meets in exactly one tile;
    *   - the tile join is a plain shuffled equi-join: per-task state is two
    *     blocks of ~n/numBlocks vectors (size it to executor memory by
    *     raising numBlocks ∝ n — shuffle volume grows as (numBlocks+1)·n
    *     vector copies, work stays the inherent Θ(n²) spread over
    *     numBlocks(numBlocks+1)/2 independent tiles that AQE can
    *     split/coalesce);
    *   - exact cosine verify inside each tile, rounded to 6dp before
    *     thresholding so the cross-engine comparison is stable.
    *
    * This is the standard MapReduce theta-join tiling (Okcan & Riedewald,
    * SIGMOD'11) applied to a self-join. **Default at scale:**
    * [[embeddingLshPairs]] below — the banded hyperplane-LSH sibling of
    * this operator (same output contract, measured ≥0.93 recall at its
    * oracle parameters, docs/PLANS.md) — is what a 100 TB corpus should
    * run; reach for this exact tiled pass only when guaranteed-total
    * recall at a low threshold is worth Θ(n²). For *high* thresholds the
    * other sub-quadratic candidate generators in this file
    * (minhash/simhash) or [[graft.operators.Ann.ivfTopK]] cell blocking
    * also apply.
    *
    * Norms are hoisted out of the pairwise work: each vector's
    * `sqrt(dot(v,v))` is computed once before replication, and the tile
    * inner loop is a plain dot product — bit-identical to in-loop cosine
    * because the accumulation order is unchanged
    * ([[graft.plans.VectorExpressions.DotProduct]] doc; asserted in
    * SimilarityAndDedupSpec).
    */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, numBlocks: Int = 16): DataFrame = {
    val dot = graft.plans.VectorExpressions.dotProduct _
    // zero-norm vectors have no direction: cos = 0/0 = NaN, and Spark's
    // NaN-greatest comparison semantics would pass NaN through ANY
    // threshold — a failed/padded embedding would emit as a "near-dup"
    // of everything. Excluded from pairing by contract (same rule in
    // embeddingLshPairs / semanticDedupBlocked).
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .where(col("nrm") > 0)
      .withColumn("blk", pmod(hash(col("id")), lit(numBlocks)))
    // tile id = i*numBlocks + j with i ≤ j (upper triangle, one tile per
    // unordered block pair)
    val xs = v.withColumn("tile",
      explode(transform(sequence(col("blk"), lit(numBlocks - 1)),
        j => col("blk") * numBlocks + j)))
    val ys = v.withColumn("tile",
      explode(transform(sequence(lit(0), col("blk")),
        i => i * numBlocks + col("blk"))))
    xs.as("x").join(ys.as("y"), Seq("tile"))
      // cross-block pairs meet in exactly one tile (x from the lower block);
      // diagonal tiles hold both orders + self-pairs, so dedup by id there
      .where(col("x.blk") =!= col("y.blk") || col("x.id") < col("y.id"))
      .select(least(col("x.id"), col("y.id")).as("a"),
        greatest(col("x.id"), col("y.id")).as("b"),
        (dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm"))).as("cosr"))
      // prefilter-gated exact threshold test — proof and constants live
      // in graft.plans.VectorExpressions.cosineAtLeast (bit-identical
      // output; O(pairs) BigDecimal constructions → O(survivors))
      .where(graft.plans.VectorExpressions.cosineAtLeast(col("cosr"), threshold))
      .select(col("a"), col("b"), round(col("cosr"), 6).as("cos"))
  }

  /** Embedding near-dup AT SCALE: hyperplane-LSH candidate pairs + exact
    * cosine verify — the sub-quadratic front for [[embeddingPairs]] (which
    * stays the exact oracle / recall baseline).
    *
    * Construction (classic banded LSH, e.g. Leskovec/Rajaraman/Ullman MMDS
    * ch.3 applied to random-hyperplane signatures):
    *   - `tables` independent hash tables, table t keyed by a `bits`-bit
    *     sign bucket over the deterministic md5-sign planes
    *     `[t·bits, (t+1)·bits)` ([[Ann.hyperplane]] — pure integer
    *     arithmetic, so an SQL oracle can replicate the construction
    *     bit-for-bit);
    *   - candidate pair = same bucket in ≥1 table (`a < b`, distinct — a
    *     pair colliding in several tables is verified once);
    *   - exact cosine on the candidates only, rounded to 6dp, `>= threshold`.
    *
    * Scale shape: signatures are one narrow pass (tables·bits codegen'd dot
    * products per vector); each table is a shuffled self-equi-join on
    * (table, bucket) — per-bucket fan-in ~n/2^bits, so `bits` is the knob
    * that keeps candidate volume (~tables·n²/2^bits) near-linear as n
    * grows: size 2^bits ∝ n for a bounded per-bucket population and the
    * whole operator is ~tables·bucketSize·n work. Vectors RIDE THE
    * SIGNATURE ROWS into the bucket join (tables × ~256 B/vector of extra
    * shuffle — nothing) and the exact cosine runs in-stream on the joined
    * rows; only pairs that PASS the threshold reach the final distinct.
    * The alternative — distinct the candidate ids first, then re-join both
    * vector sides — ships each candidate pair through three extra
    * shuffles and turns a few-hundred-MB stream into tens of GB the
    * moment candidates are pair-heavy. No broadcast of either full side,
    * no BNLJ (plan-asserted). A pair colliding in k>1 tables costs k-1
    * redundant dot products (expected multiplicity at random is
    * 1+(tables-1)/2^bits ≈ 1) — cheaper than any dedup shuffle that
    * would avoid them.
    *
    * Recall = 1-(1-p^bits)^tables per pair, p = 1 - acos(cos)/π. At a
    * *near-dup* threshold (cos ≥ 0.8 → p ≈ 0.80) defaults (bits=8,
    * tables=16) give ≥ 0.95 recall while scanning ~16/256 of the pair
    * space. At the c05 demo threshold 0.35 (p ≈ 0.61, the bulk of the
    * random-pair distribution — SURVEY §8a) NO blocking scheme is both
    * sub-quadratic and high-recall; measured recall vs exact c05 is
    * reported in docs/PLANS.md.
    */
  def embeddingLshPairs(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, dim: Int,
                        bits: Int = 8, tables: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 62, s"bits must be in [1,62], got $bits")
    require(tables >= 1, s"tables must be positive, got $tables")
    val dot = graft.plans.VectorExpressions.dotProduct _
    // norms hoisted once per vector, before the per-table replication.
    // Numbered repartition (the c104 discipline): the verify cost lives in
    // the CANDIDATE stream (Σ bucket² dot products), not in these narrow
    // input rows — when the self-join below broadcasts, the probe side
    // inherits the input file layout (a single parquet file = ONE task) and
    // the entire multi-million-pair verify runs serially. User-specified
    // numbered repartition, so AQE won't coalesce it back down by byte
    // size (bytes here wildly understate work). r13 profile: c31's verify
    // was single-task before this; the shuffled rows are (id, vec, nrm)
    // once per vector — tiny next to the pair stream they parallelize.
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      // zero-norm exclusion — see embeddingPairs (NaN would pass the
      // threshold under NaN-greatest comparison semantics)
      .where(col("nrm") > 0)
      .repartition(parts)
    // one row per (vector, table): bucket under that table's plane band;
    // the vector and its norm ride along so verification never re-joins
    val sigs = v.select(col("id"), col("v"), col("nrm"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"),
          Ann.lshBucket(col("v"), dim, bits, planeOffset = t * bits).as("bucket"))): _*)).as("tb"))
      .select(col("id"), col("v"), col("nrm"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    // bucket-collision pairs, exact cosine in-stream, threshold filter,
    // THEN dedup (a pair colliding in several tables computes the same
    // rounded cos each time, so the distinct is exact) — only verified
    // pairs, a near-dup-sized set, ever hit a shuffle after the join
    sigs.as("x").join(sigs.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        (dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm"))).as("cosr"))
      // prefilter-gated exact threshold test (VectorExpressions.cosineAtLeast
      // — with 16 tables the candidate stream here is ~12M rows at sf0.1,
      // the r13 profile's dominant cost before the gate)
      .where(graft.plans.VectorExpressions.cosineAtLeast(col("cosr"), threshold))
      .select(col("a"), col("b"), round(col("cosr"), 6).as("cos"))
      .distinct()
  }

  /** SemDeDup-style semantic dedup (Abbas et al., arXiv:2303.09540):
    * partition the corpus into semantic cells by nearest centroid, then
    * dedup WITHIN cells only — the third point on this file's
    * embedding-dedup frontier: [[embeddingPairs]] is exact-Θ(n²),
    * [[embeddingLshPairs]] is recall-calibrated sub-quadratic over the
    * whole space, and this trades CROSS-CELL recall for a hard per-cell
    * work bound (a near-dup pair split across cells is simply not
    * examined — the documented SemDeDup approximation).
    *
    * Semantics (deterministic, oracle-expressible):
    *   - cell(v) = the centroid maximizing (cosineRounded, then lowest
    *     centroid_id) — ties broken totally, 6dp rounding makes the
    *     argmax engine-stable;
    *   - within a cell, every pair (a < b) with cos ≥ threshold marks `b`
    *     a duplicate — the keep-lowest-id greedy that SemDeDup applies
    *     per cluster (transitive chains collapse to the least id without
    *     a CC iteration; [[clusters]] exists when true components are
    *     wanted);
    *   - output: one row per input vector — (id, cell, kept).
    *
    * Scale (100 TB): centroids are a broadcast (k rows); assignment is a
    * narrow codegen'd pass; the only shuffle keys are `cell` (self-join)
    * and `id` (the anti-join) — no BNLJ, no global pair space. Per-cell
    * work is Θ(cell²), so k is the dial: size k ∝ n to pin the expected
    * cell population, exactly how SemDeDup runs at web scale. Cells larger
    * than `maxCell` are excluded from pairing (members kept — the
    * conservative overflow rule, same skew guard as `maxBucket`/
    * `maxPosting` on the other similarity joins; a cell that big means
    * the codebook is undersized for the corpus).
    */
  def semanticDedupBlocked(df: DataFrame, idCol: String, vecCol: String,
                           centroids: DataFrame, threshold: Double,
                           maxCell: Int = 100000): DataFrame = {
    val dot = graft.plans.VectorExpressions.dotProduct _
    val cent = broadcast(centroids.select(col("centroid_id"),
      col("cvec"), sqrt(dot(col("cvec"), col("cvec"))).as("cnrm")))
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    // persisted: the assignment pass feeds three consumers (both sides of
    // the pair self-join and the final keep-join) — without the cache the
    // full-corpus scan + argmax would run three times (the pageRankNano
    // persisted-intermediate pattern; app-lifetime retention, callers can
    // unpersist via the returned lineage). Argmax is the map-side
    // max_by aggregate (the r17 Ann.assignNearest shape): the broadcast
    // centroid join fans each row out |centroids|-fold and a per-id
    // window would ship that whole fan-out through the exchange; max_by
    // partial-aggregates it back to one state per id inside each task —
    // a |centroids|× shuffle cut on the corpus side. Lexicographic max
    // of (csim, −centroid_id) ≡ (csim desc, centroid_id asc).
    val assigned = v.join(cent)
      // zero-norm guard INSIDE the assignment: under ANSI mode (Spark 4
      // default) 0/0 is a task-killing DIVIDE_BY_ZERO, so one failed
      // embedding (or a degenerate zero centroid) would crash the whole
      // job; csim = -2 (below any real cosine) assigns such rows
      // deterministically via the centroid-id tiebreak and they are
      // excluded from pairing below
      .select(col("id"), col("v"), col("nrm"), col("centroid_id"),
        when(col("nrm") > 0 && col("cnrm") > 0,
          round(dot(col("v"), col("cvec")) / (col("nrm") * col("cnrm")), 6))
          .otherwise(lit(-2.0)).as("csim"))
      .groupBy(col("id"))
      .agg(max_by(
        struct(col("v").as("v"), col("nrm").as("nrm"), col("centroid_id").as("cid")),
        struct(col("csim"), (lit(0L) - col("centroid_id")).as("tb"))).as("best"))
      .select(col("id"), col("best.v").as("v"), col("best.nrm").as("nrm"),
        col("best.cid").as("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val small = assigned
      // zero-norm vectors never pair (cos is NaN — see embeddingPairs);
      // they stay in `assigned`, so the output reports them kept
      .where(col("nrm") > 0)
      .withColumn("cellN",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("cell"))))
      .where(col("cellN") <= maxCell)
      .drop("cellN")
    val dropped = small.as("x").join(small.as("y"),
        col("x.cell") === col("y.cell") && col("x.id") < col("y.id"))
      .withColumn("cosr",
        dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm")))
      // prefilter-gated exact threshold test (VectorExpressions.cosineAtLeast)
      .where(graft.plans.VectorExpressions.cosineAtLeast(col("cosr"), threshold))
      .select(col("y.id").as("id")).distinct()
    assigned.join(dropped.withColumn("dup", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell"), coalesce(col("dup"), lit(false)) === false)
      .toDF("id", "cell", "kept")
  }

  /** Sorted-neighborhood dedup (Hernández & Stolfo's merge/purge,
    * SIGMOD'95): sort the corpus by a similarity-preserving key and
    * compare each record only against its `window` successors in that
    * order, then verify candidates by exact n-gram jaccard. The classic
    * BLOCKING alternative to hash-bucket LSH: banding (c02/c31)
    * partitions the key space, the sorted neighborhood slides over it —
    * a near-dup run longer than one bucket still meets inside the window.
    *
    * Sort key = the doc's MINIMUM shingle hash (the bottom-1 sketch, i.e.
    * the first row of a minhash signature): two docs at jaccard J share
    * their min shingle with probability exactly J, and sharing it makes
    * them sort adjacently (within the run of docs carrying that min) — so
    * recall ≈ J plus whatever the window catches across near-miss keys.
    * Measured on the sf0.001 corpus: 28/28 exact-jaccard pairs at
    * window=4 (a SimHash sort key, by contrast, measured 9/28 at
    * window=8 — scattered-bit differences destroy prefix locality; kept
    * here as the documented negative result).
    *
    * The global sort rank is computed WITHOUT a global window (the
    * one-reducer scale-killer): docs range-bucket by the key's top
    * `rangeBits` bits, rank locally per bucket, and add broadcast
    * per-bucket offsets (the c24 two-phase cumulative pattern; offsets
    * are a ≤2^rangeBits-row frame). The neighborhood join is then a band
    * equi-join on `rank div window` with adjacent-block probing (the b47
    * binned-range shape) — every shuffle keys on bucket/band, candidate
    * volume is exactly n·window, and the shingle sets ride the ranked
    * rows so verification is in-stream (the c31 no-re-join discipline).
    * Determinism: the 60-bit md5 shingle hashes are positive and
    * engine-portable (Text.tokenHash convention), so (key, id) is the
    * same total order everywhere; jaccard verify is the c04 integer-size
    * comparison.
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, textCol: String,
                              window: Int = 8, threshold: Double = 0.8,
                              rangeBits: Int = 8, shingleN: Int = 3): DataFrame = {
    require(window >= 1 && window <= 1000, s"window must be in [1,1000], got $window")
    require(rangeBits >= 1 && rangeBits <= 16, s"rangeBits must be in [1,16], got $rangeBits")
    val toks = Text.tokens(col(textCol))
    val base = df
      .where(size(toks) >= shingleN)
      .select(col(idCol).as("id"),
        array_distinct(Text.shingleHashes(col(textCol), shingleN)).as("sh"))
      .withColumn("key", array_min(col("sh")))
      .withColumn("bucket", shiftrightunsigned(col("key"), 60 - rangeBits))
    // phase 1: local rank inside each contiguous key-range bucket
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("key"), col("id"))
    val local = base.withColumn("lrn", row_number().over(wLocal))
    // phase 2: bucket offsets (≤ 2^rangeBits rows) → exact global rank
    val wOff = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
      .select(col("bucket"), col("off"))
    val ranked = local.join(broadcast(offsets), Seq("bucket"))
      .select(col("id"), col("sh"), (col("off") + col("lrn")).as("rn"))
    // band join: y.rn ∈ [x.rn+1, x.rn+window] ⇒ y's band is x's or the next
    val xs = ranked.select(col("id").as("xid"), col("sh").as("xsh"), col("rn").as("xrn"),
      explode(array(expr(s"rn div $window"), expr(s"rn div $window") + 1)).as("band"))
    val ys = ranked.select(col("id").as("yid"), col("sh").as("ysh"), col("rn").as("yrn"),
      expr(s"rn div $window").as("band"))
    xs.join(ys, Seq("band"))
      .where(col("yrn") > col("xrn") && col("yrn") <= col("xrn") + window)
      .withColumn("inter", size(array_intersect(col("xsh"), col("ysh"))))
      .withColumn("uni", size(array_union(col("xsh"), col("ysh"))))
      .where(col("inter") >= col("uni") * threshold)
      .select(least(col("xid"), col("yid")).as("a"),
        greatest(col("xid"), col("yid")).as("b"))
  }

  /** Positional (non-distinct) span hashes, one row per (doc, position):
    * the shared first stage of every span-level operator below
    * ([[dupSpanStats]], [[dupSpanRuns]], [[spanNovelty]]). 60-bit md5
    * hashes — 8 bytes cross the wire, never span strings. */
  private def spanPositions(df: DataFrame, idCol: String, textCol: String,
                            spanN: Int): DataFrame =
    df.select(col(idCol).as("id"), Text.spanHashes(col(textCol), spanN).as("hs"))
      .where(size(col("hs")) > 0)
      .select(col("id"), posexplode(col("hs")).as(Seq("pos", "h")))

  /** Hashes of spans occurring in ≥ 2 distinct docs. `count(distinct id)`
    * per hash plans as a two-phase partial aggregate, so towers of a hot
    * boilerplate span combine map-side. */
  private def duplicatedHashes(spans: DataFrame): DataFrame =
    spans.groupBy(col("h"))
      .agg(count_distinct(col("id")).as("nd"))
      .where(col("nd") >= 2)
      .select(col("h"))

  /** Span-level novelty of an incoming batch against the standing corpus:
    * per NEW document, how many of its span positions carry a span never
    * seen in any corpus document. The daily-ingest counterpart of
    * [[dupSpanStats]] (and the span-level analogue of
    * [[incrementalMinhashPairs]]'s batch-vs-corpus discipline): boilerplate-
    * heavy or re-crawled ingests show near-zero novelty and can be dropped
    * before they pay full pipeline cost.
    *
    * Scale (100 TB corpus, small daily batch): the corpus is scanned,
    * hashed, and DISTINCT-aggregated on the 60-bit span hash — linear,
    * hash-only, never paired with itself. The batch anti-joins that index
    * on the hash key (sort-merge left-anti), then two small per-doc counts.
    * Work ∝ corpus + batch; nothing quadratic anywhere.
    */
  def spanNovelty(df: DataFrame, idCol: String, textCol: String,
                  isNew: Column, spanN: Int = 5): DataFrame = {
    // carries the batch flag alongside each span row, so it can't reuse
    // spanPositions' (id, pos, h) shape directly
    val spans = df
      .select(col(idCol).as("id"), isNew.as("nw"),
        Text.spanHashes(col(textCol), spanN).as("hs"))
      .where(size(col("hs")) > 0)
      .select(col("id"), col("nw"), explode(col("hs")).as("h"))
    val batch = spans.where(col("nw")).select(col("id"), col("h"))
    val corpusH = spans.where(!col("nw")).select(col("h")).distinct()
    val novel = batch.join(corpusH, Seq("h"), "left_anti")
      .groupBy(col("id")).agg(count(lit(1)).as("novel_spans"))
    val totals = batch.groupBy(col("id")).agg(count(lit(1)).as("n_spans"))
    totals.join(novel, Seq("id"), "left")
      .select(col("id"), col("n_spans"),
        coalesce(col("novel_spans"), lit(0L)).as("novel_spans"))
  }

  /** Longest duplicated-substring extent per document: the maximum run of
    * CONSECUTIVE span positions whose span occurs in ≥ 2 distinct docs.
    * [[dupSpanStats]] counts duplicated positions; this measures whether
    * they form one long copied block or scattered phrases — a run of r
    * spans = a copied substring of r + spanN − 1 tokens. The
    * "remove long exact substrings" dedup policy keys off exactly this.
    *
    * Scale: identical hash-only shuffle story as [[dupSpanStats]] plus one
    * window over DUPLICATED positions only (gaps-and-islands:
    * grp = pos − row_number per doc) — the window input is the dup subset,
    * typically a small fraction of the corpus, and partitions by doc id.
    */
  def dupSpanRuns(df: DataFrame, idCol: String, textCol: String,
                  spanN: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = spanPositions(df, idCol, textCol, spanN)
    val dupPos = spans.join(duplicatedHashes(spans), Seq("h"), "left_semi")
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val runs = dupPos
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("id"), col("grp")).agg(count(lit(1)).as("run"))
      .groupBy(col("id")).agg(max(col("run")).as("max_dup_run"))
    df.select(col(idCol).as("id")).where(size(Text.tokens(col(textCol))) >= spanN)
      .join(runs, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("max_dup_run"), lit(0L)).as("max_dup_run"))
  }

  /** Cross-source span-overlap matrix: for each unordered source pair, the
    * number of DISTINCT spans occurring in both — which sources copy from
    * (or syndicate to) which, the provenance view that decides where
    * cross-source dedup effort goes.
    *
    * Scale: ONE hash-keyed aggregation — collect_set(src) per span hash,
    * partially aggregated map-side (the per-hash source set is bounded by
    * the SOURCE count, a small constant, so partial states stay tiny) —
    * then the unordered source pairs are generated per hash with a
    * bounded double explode (≤ |sources|² rows per hash) feeding the
    * pair-count aggregate. r18 (guide §2.3/§2.4, VERDICT r17 #3): the
    * previous shape materialized the distinct (src, h) pairs and
    * self-joined them on h — the same corpus subtree built for both join
    * legs and the deduped pair frame re-shuffled through the join; the
    * set-aggregation computes identical pair counts with a single
    * exchange of (h, partial source set) and no join at all. The
    * pre-explode size(hs) > 0 filter is gone too: explode already drops
    * empty/null arrays, and the pushed-down filter forced a second
    * evaluation of the span-hash expression per row. Output is
    * |sources|² rows.
    */
  def sourceSpanOverlap(df: DataFrame, srcCol: String, textCol: String,
                        spanN: Int = 5): DataFrame = {
    val perHash = df
      .select(col(srcCol).as("src"), Text.spanHashes(col(textCol), spanN).as("hs"))
      .select(col("src"), explode(col("hs")).as("h"))
      .groupBy(col("h")).agg(collect_set(col("src")).as("srcs"))
      .where(size(col("srcs")) >= 2)
    perHash
      .select(explode(col("srcs")).as("source_a"), col("srcs"))
      .select(col("source_a"), explode(col("srcs")).as("source_b"))
      .where(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("shared_spans"))
  }

  /** Directed near-containment pairs: (contained, container) where
    * ≥ `containPct`% of the contained doc's DISTINCT shingles also appear
    * in the container. Catches what symmetric jaccard ([[ngramJaccardPairsOf]])
    * structurally misses: a short doc quoted wholesale inside a long
    * aggregation page has tiny jaccard but containment ≈ 1. The test is
    * pure integer (`100·inter ≥ pct·|A|`) — no float threshold anywhere.
    *
    * Scale: same capped-inverted-index shape as [[ngramJaccardPairsOf]]
    * (one co-count join on the shingle hash, hot-shingle postings cut at
    * `maxPosting` with sizes computed cap-consistently); each undirected
    * co-pair then tests both directions for the price of one.
    */
  def containmentPairs(sets: DataFrame, containPct: Int = 90,
                       maxPosting: Int = 10000): DataFrame =
    containmentPairsOf(cappedCoCounts(sets, maxPosting), containPct)

  /** [[containmentPairs]] over a precomputed [[cappedCoCounts]] frame —
    * the co-count kernel is the whole cost; callers sharing it across
    * overlap operators pass the persisted frame here (r17: same rows,
    * the self-join exchange paid once per corpus instead of per op). */
  private[graft] def containmentPairsOf(co: DataFrame, containPct: Int = 90): DataFrame = {
    require(containPct >= 1 && containPct <= 100,
      s"containPct must be in [1,100], got $containPct")
    val aInB = co.where(col("inter") * 100 >= col("sza") * containPct)
      .select(col("a").as("contained"), col("b").as("container"))
    val bInA = co.where(col("inter") * 100 >= col("szb") * containPct)
      .select(col("b").as("contained"), col("a").as("container"))
    aInB.union(bInA)
  }

  /** Substring-level duplication signal: for each document, how many of
    * its word n-gram positions (spans) also occur in at least one OTHER
    * document. The span/line-dedup quality feature of web-corpus
    * pipelines, finer-grained than the document-level pair ops above: a
    * doc can be pair-unique yet 80% built from duplicated spans.
    *
    * Output: (id, n_spans, dup_spans) per document with ≥ n tokens, where
    * n_spans counts all span positions (non-distinct) and dup_spans the
    * positions whose span occurs in ≥ 2 distinct documents.
    *
    * Scale (100 TB): two aggregations shuffle on the 60-bit span hash
    * (see [[spanPositions]]/[[duplicatedHashes]]) and the membership
    * check is a left-semi sort-merge join on the same key, then one count
    * per doc id — linear in corpus token count, no pair join anywhere.
    * Both engines group by the SAME hash values, so a (cosmically
    * unlikely) collision merges identically on both sides — the compare
    * stays exact by construction.
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
                   spanN: Int = 5): DataFrame = {
    // position multiplicity is the point — a doc repeating a duplicated
    // span 10 times scores 10
    val spans = spanPositions(df, idCol, textCol, spanN)
    val dupPerDoc = spans.join(duplicatedHashes(spans), Seq("h"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("dup_spans"))
    val totals = spans.groupBy(col("id")).agg(count(lit(1)).as("n_spans"))
    totals.join(dupPerDoc, Seq("id"), "left")
      .select(col("id"), col("n_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"))
  }
}
