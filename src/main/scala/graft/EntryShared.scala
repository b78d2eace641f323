package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.{Ann, Dedup, Multimodal, Nested, Pipeline, Scale, Variant}
import graft.functions.{Similarity, Text}
import graft.sources.{Shared, SharedFrame, Tables}
import graft.streaming.Streams

/** Shared internals of the [[SparkEntry]] driver contract — the memoized
  * intermediates, exact-arithmetic helpers, and oracle CTE builders that
  * the per-family query files (EntryA/EntryB/EntryC) all consume. Split
  * out of SparkEntry.scala mechanically in r15 (the file had reached
  * ~8.8k lines); every body is verbatim, only the object wrapper and
  * package-level visibility changed. The contract doc lives on
  * [[SparkEntry]].
  */
private[graft] object EntryShared {

  private[graft] def t(s: SparkSession, d: String, n: String): DataFrame = Tables.t(s, d, n)

  /** The shared npy pair layout of the embeddings table — written once
    * per (input, application) and consumed by five keys (b129 roundtrip,
    * b130 ids-only scan, b131 dim-slice roundtrip, c121 store-served ANN,
    * c122 slice-rerank cascade). ONE definition so the (purpose,
    * column-selection) pair can never drift between consumers: a fork
    * would silently re-pay the write inside a timed key (the bench's
    * untimed pass writes the layout once) or break c121's
    * store-served ≡ parquet-served parity claim. Returns the layout dir;
    * the write itself is the sanctioned write-once action
    * ([[graft.sources.Formats.ensureWritten]], race-safe since r17). */
  private[graft] def npyEmbeddingsDir(s: SparkSession, d: String): String = {
    val dir = graft.sources.Formats.scratchDir(s, "npy_embeddings", d)
    graft.sources.Formats.ensureWritten(s, dir) {
      graft.sources.Npy.writeVectors(
        t(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", dir)
    }
    dir
  }

  /** orders partitioned by `o_orderpriority` at rest, read by b38
    * (planning-time prune) and b79 (dynamic prune). ONE definition, like
    * [[npyEmbeddingsDir]]: the two keys write one directory, so two
    * copies of the write would let whichever key runs first in an app
    * decide the layout the other reads. Returns the layout dir. */
  private[graft] def ordersByPriorityDir(s: SparkSession, d: String): String = {
    val dir = graft.sources.Formats.scratchDir(s, "orders_bypriority", d)
    graft.sources.Formats.ensureWritten(s, dir) {
      t(s, d, "orders").write.mode("overwrite")
        .partitionBy("o_orderpriority").parquet(dir)
    }
    dir
  }

  /** orders bucketed on `o_custkey` (8 buckets), read by b37 (bucketed
    * join) and b86 (bucketed aggregate): one definition for one table,
    * as for [[ordersByPriorityDir]]. */
  private[graft] def ordersByCust(s: SparkSession, d: String): DataFrame =
    graft.sources.Formats.bucketedTable(s, "orders_by_cust", d,
      t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      "o_custkey", buckets = 8)

  /** customer bucketed on `c_custkey` (8 buckets), the join partner of
    * b37 and b63: one definition for one table, as for
    * [[ordersByPriorityDir]]. */
  private[graft] def customerByCust(s: SparkSession, d: String): DataFrame =
    graft.sources.Formats.bucketedTable(s, "customer_by_cust", d,
      t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment")),
      "c_custkey", buckets = 8)

  /** The store's (vec_id, embedding)-renamed FULL-VECTOR read-back — ONE
    * definition next to [[npyEmbeddingsDir]] so the read-side column
    * contract can never drift between the store-served keys
    * (c121/c122/c123): a fork of the rename at one site would silently
    * break the store-served ≡ parquet-served parity claim for the
    * others. Callers add their own numbered repartition where the frame
    * feeds pair work (the c104 single-pair-layout rule); the slice
    * read-back (c122's coarse stage) stays at its call site because its
    * reader and dim window are that key's point. */
  private[graft] def npyEmbeddings(s: SparkSession, d: String): DataFrame =
    graft.sources.Npy.readVectors(s, npyEmbeddingsDir(s, d))
      .select(col("id").as("vec_id"), col("vec").as("embedding"))

  /** The customer↔supplier trade graph of c45 and c86: distinct
    * (o_custkey, l_suppkey) pairs via orders ⋈ lineitem, in both
    * directions. Customers get even node ids and suppliers odd ones, so
    * the two key namespaces are disjoint. */
  private[graft] def tradeEdges(s: SparkSession, d: String): DataFrame = {
    val eBase = t(s, d, "lineitem")
      .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    eBase.union(eBase.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Exact, order-independent sum of a 2dp-double column, as double. */
  private[graft] def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** Derived supplier-part catalog — the fixture ships no partsupp table,
    * so the TPC-H partsupp queries (b115–b119) build on the catalog the
    * lineitems themselves imply: per (partkey, suppkey),
    * ps_availqty_deci := total shipped deci-quantity and
    * ps_supplycost_c := the historical-minimum line price in cents. Both
    * are exact-integer aggregates (sum/min of longs), so the derivation is
    * engine-identical; one lineitem groupBy whose (partkey, suppkey)
    * exchange feeds the composite-key joins above it directly. The DuckDB
    * twin is `psCte`.
    *
    * Memoized per (session, sfDir) like the other shared intermediates
    * (r11 VERDICT #3): five queries consume this catalog, and without the
    * cache each re-ran the full lineitem aggregate (~84 MB of repeated
    * shuffle across the partsupp TPC-H family at sf0.1). One persisted
    * build per (session, sfDir), paid in the bench's untimed pass, makes
    * every consumer's byte ledger measure its OWN joins, not the shared
    * derivation. A real deployment
    * has a real partsupp table, so per-query standalone cost was never the
    * scale story; the memo is measurement hygiene plus the
    * materialized-view posture the catalog would have at ingest. */
  private[graft] val psDerived = SharedFrame { (s, d) =>
    t(s, d, "lineitem")
      .groupBy(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
      .agg(sum(floor(col("l_quantity") * 10 + 0.5).cast("long")).as("ps_availqty_deci"),
        min(floor(col("l_extendedprice") * 100 + 0.5).cast("long")).as("ps_supplycost_c"))
  }

  /** DuckDB twin of [[psDerived]] — splice as `WITH $psCte, ...`. */
  private[graft] val psCte =
    """ps AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |    CAST(sum(CAST(floor(l_quantity*10+0.5) AS BIGINT)) AS BIGINT) AS ps_availqty_deci,
      |    CAST(min(CAST(floor(l_extendedprice*100+0.5) AS BIGINT)) AS BIGINT) AS ps_supplycost_c
      |  FROM lineitem GROUP BY 1,2)""".stripMargin

  /** The documents shingle index, shared by c02 (minhash), c04 (jaccard)
    * and c17/c18 (clusters over jaccard pairs): one persisted kernel pass
    * per (session, sfDir) instead of three. */
  private[graft] val docShingleSets = SharedFrame { (s, d) =>
    Dedup.shingleSets(t(s, d, "documents"), "doc_id", "text", shingleN = 3)
  }

  /** The exact-jaccard near-dup pair graph over documents, shared by c04
    * (pair list) and c17/c18 (clusters): the inverted-index join runs once
    * per (session, sfDir). */
  private[graft] val docJaccardPairs = SharedFrame { (s, d) =>
    Dedup.ngramJaccardPairsOf(docShingleSets(s, d), threshold = 0.8)
  }

  /** Near-dup cluster labels over documents: c17 and c18 share the pair
    * graph and the CC iterations. */
  private[graft] val docClusters = SharedFrame { (s, d) =>
    Dedup.clusters(docJaccardPairs(s, d))
  }

  /** The minhash signature-agreement candidate pairs (doc_id, dup_of,
    * n_agree) over documents, shared by c37 (the directed arrival-order
    * parity readout) and c120 (the stream consumer's undirected
    * readout, r16): the banded self-join + 64-perm agreement verify
    * runs once per (session, sfDir); both keys are cache reads. */
  private[graft] val docSigAgreementPairs = SharedFrame { (s, d) =>
    Dedup.signatureAgreementPairs(docShingleSets(s, d))
  }

  /** The documents bigram-position table (doc_id, source, w1, w2), shared
    * by c58 (corpus LM: three consumers — two count aggregates + the
    * scoring join) and c64 (reference LM: the reference slice filters off
    * this frame instead of re-scanning the corpus): one explode pass per
    * (session, sfDir) — the "position table cached at ingest" posture the
    * c58 scaladoc promises at 100 TB. */
  private[graft] val docBigramsWithSource = SharedFrame { (s, d) =>
    val toks = Text.tokens(col("text"))
    t(s, d, "documents")
      .where(size(toks) >= 2)
      .select(col("doc_id"), col("source"),
        explode(transform(slice(toks, lit(1), size(toks) - 1),
          (x, i) => struct(x.as("w1"),
            element_at(toks, i + lit(2)).as("w2")))).as("p"))
      .select(col("doc_id"), col("source"), col("p.w1").as("w1"), col("p.w2").as("w2"))
  }

  /** Per-doc classifier scores + the metadata the consumers read —
    * (doc_id, lang, n_chars, n_feats, score) — shared by the whole
    * c109–c112 family (scores are per-doc, so every family member —
    * point lookup, yield curve, agreement matrix, IVM slices — is a
    * filter/aggregate over this one frame). The materialized-view
    * posture a real pipeline would keep for its learned gate: score on
    * ingest, consume everywhere. */
  private[graft] val docClassifierScores = SharedFrame { (s, d) =>
    t(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
      .join(graft.operators.Pipeline.linearClassifierScore(
          t(s, d, "documents"), "doc_id", "text",
          graft.operators.Pipeline.demoClassifierWeights(s, 65536),
          buckets = 65536)
        .withColumnRenamed("id", "doc_id"), "doc_id")
  }

  /** The c110/c112 readout tail: unstack the wide per-lang yield state
    * into (lang, thr, total_docs, kept_docs, kept_chars, kept_ppm) rows —
    * ONE definition so the IVM twin (c112, whose contract is
    * merge ≡ recompute) can never desynchronize from the direct curve
    * (c110); stack arity derives from the threshold grid. */
  private[graft] def classifierYieldCurve(state: DataFrame, thr: Seq[Long]): DataFrame =
    state.select(col("lang"), col("total_docs"), expr(
        s"stack(${thr.size}, " + thr.zipWithIndex.map { case (tv, i) =>
          s"CAST($tv AS BIGINT), kd$i, kc$i" }.mkString(", ") +
        ") AS (thr, kept_docs, kept_chars)"))
      .select(col("lang"), col("thr"), col("total_docs"),
        col("kept_docs"), col("kept_chars"),
        expr("(kept_docs * 1000000) div total_docs").as("kept_ppm"))
      .orderBy(col("lang"), col("thr"))

  /** The c114 score-decile × heuristic-keep-rate reliability table,
    * shared with its c116 monotonicity audit so the two can never
    * diverge. MEMOIZED (the docClassifierScores pattern, r14 review):
    * without the memo each consumer re-pays the heuristic full-text
    * scan — the dominant cost of the pair at corpus scale. Decile
    * machinery per the c114 scaladoc: per-score-value aggregate (one
    * score exchange), cumulative windows on the |distinct scores|-row
    * frame, last-row decile rule. */
  private[graft] val classifierCalibrationTable =
    SharedFrame((s, d) => calibrationTableOf(docGateBits(s, d)))

  /** Per-doc (doc_id, kept_h, score) gate bits — the narrow frame every
    * calibration-family consumer aggregates. MEMOIZED separately from the
    * 10-row table (r15, for the c117 drift readout): the drift query needs
    * the SAME bits re-aggregated under a corpus-slice filter, and without
    * this memo each slice would re-pay the heuristic full-text scan — the
    * dominant cost of the family. ~3 narrow columns × |docs| rows persisted;
    * raw text never leaves the scan. */
  private[graft] val docGateBits = SharedFrame { (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"),
        (Text.qualityScoreNano(coalesce(col("text"), lit(""))) >=
          395000000L).as("kept_h"))
      .join(docClassifierScores(s, d)
        .select(col("doc_id"), col("score")), "doc_id")
  }

  /** The c114 decile machinery over any (score, kept_h) bits frame — ONE
    * definition shared by the full-corpus table (c114/c116 via the memo)
    * and the c117 drift readout's per-generation slices, so a generation's
    * table can never be computed by a different rule than the current one. */
  private[graft] def calibrationTableOf(bits: DataFrame): DataFrame = {
    val perScore = bits
      .groupBy(col("score"))
      .agg(count(lit(1)).as("n"), sum(col("kept_h").cast("long")).as("kh"))
    val wCum = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy()
    perScore
      .withColumn("cum", sum(col("n")).over(wCum))
      .withColumn("nn", sum(col("n")).over(wTot))
      .withColumn("decile", expr("((cum - 1) * 10) div nn + 1"))
      .groupBy(col("decile"))
      .agg(sum(col("n")).as("n_docs"), min(col("score")).as("lo_score"),
        max(col("score")).as("hi_score"), sum(col("kh")).as("kept_h_docs"))
      .withColumn("kept_h_ppm", expr("(kept_h_docs * 1000000) div n_docs"))
      .orderBy(col("decile"))
  }

  /** The b124 per-(arm, transition, hour-bucket) cumulative-coverage frame
    * — funnel stage times (ONE user_id exchange), md5 arm split, the
    * 3-row-per-user transition stack, per-bucket histogram, then
    * from/conv/cum window sums on the (arm,t,hrs)-bounded frame. ONE
    * definition shared by the b124 per-arm readout and the b125 contrast
    * so the two can never disagree on the bucketing or coverage rule.
    * `from_users` is computed BEFORE the non-converter (null-hrs) rows
    * drop; `conv_users`/`cum` after — the b124 oracle's f/k split.
    *
    * MEMOIZED (the docClassifierScores posture, r15): the b125 verdict
    * consumes the frame three times (per-arm percentiles, the pivot, the
    * coverage leg) — unmemoized, each consumption replays the whole
    * user-exchange funnel machinery from the parquet scan (measured: 3
    * events scans + 3 user exchanges in the static plan). The frame is
    * the family's materialized view: ≤ 2 arms × 3 transitions × horizon
    * hours rows persisted, the user-scale work paid once per
    * (session, sfDir). */
  private[graft] val funnelAbTtcCumFrame = SharedFrame { (s, d) =>
    val stages = Seq("view", "click", "signup", "purchase")
    val staged = graft.operators.Series.funnelStageTimes(
      t(s, d, "events").where(col("event_type").isin(stages: _*)),
      "user_id", "event_type", "ts", stages)
    val trans = staged
      .withColumn("arm",
        pmod(Text.tokenHash(col("user_id").cast("string")), lit(2L)))
      .select(col("arm"), expr(
        "stack(3, " +
          "1, 'view_click',      unix_micros(s1), unix_micros(s2), " +
          "2, 'click_signup',    unix_micros(s2), unix_micros(s3), " +
          "3, 'signup_purchase', unix_micros(s3), unix_micros(s4)) " +
          "AS (t, transition, from_us, to_us)"))
      .where(col("from_us").isNotNull)
      .select(col("arm"), col("t"), col("transition"),
        when(col("to_us").isNotNull,
          expr("(to_us - from_us) div 3600000000")).as("hrs"))
    val hist = trans.groupBy(col("arm"), col("t"), col("transition"), col("hrs"))
      .agg(count(lit(1)).as("n_users"))
    val wAll = Window.partitionBy(col("arm"), col("t"))
    val wCum = Window.partitionBy(col("arm"), col("t")).orderBy(col("hrs"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.withColumn("from_users", sum(col("n_users")).over(wAll))
      .where(col("hrs").isNotNull)
      .withColumn("conv_users", sum(col("n_users")).over(wAll))
      .withColumn("cum", sum(col("n_users")).over(wCum))
  }

  /** The b123 per-user 30-day attributed-revenue frame —
    * (user_id, arm, s1, s4, attr_c): funnel stage times (ONE user_id
    * exchange shared by the stage windows, the purchase attribution
    * join, and the per-user compaction — plan-asserted on the embedded
    * build), b114's strictly-after-click 30-day window, md5 arm split.
    * ONE definition shared by the b123 rate/lift readout and the b128
    * revenue contrast so the attribution rule can never fork.
    *
    * MEMOIZED (the funnelAbTtcCumFrame posture): b128 consumes the frame
    * twice (the per-arm pivot and the purchaser-revenue distribution) —
    * unmemoized, each consumption replays the whole user-exchange funnel
    * machinery from the parquet scan. Unlike the TTC frame this memo is
    * |users|-rows, not bucket-bounded — but it is 5 narrow integer/ts
    * columns (the per-user materialized view any funnel deployment keeps),
    * and raw events never persist. */
  private[graft] val funnelAbRevUserFrame = SharedFrame { (s, d) =>
    val stages = Seq("view", "click", "signup", "purchase")
    val ev = t(s, d, "events").where(col("event_type").isin(stages: _*))
    val staged = graft.operators.Series.funnelStageTimes(
      ev, "user_id", "event_type", "ts", stages)
    val purRows = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        floor(col("value") * 100 + 0.5).cast("long").as("pc"))
    val attrWin = col("ts") > col("s2") &&
      col("ts") <= col("s2") + expr("INTERVAL 30 DAYS")
    staged.join(purRows, Seq("user_id"), "left_outer")
      .groupBy(col("user_id"), col("s1"), col("s2"), col("s4"))
      .agg(sum(when(attrWin, col("pc"))).as("attr_c"))
      .withColumn("arm",
        pmod(Text.tokenHash(col("user_id").cast("string")), lit(2L)))
      .select(col("user_id"), col("arm"), col("s1"), col("s4"), col("attr_c"))
  }

  /** The b123 per-arm aggregate + six-column pivot over any per-user
    * frame carrying (arm, s1, s4, attr_c) — ONE definition for the b123
    * readout (full population), the b126 stream-parity readout (the
    * watermark-closed population), and the b128 contrast's rate leg, so
    * the pivot and coalesce conventions can never fork (r15 extended
    * review). The per-arm aggregate partial-compacts to ≤2 rows per
    * task; the pivot runs on the ≤2-row frame. */
  private[graft] def funnelAbRevArmPivot(perUser: DataFrame): DataFrame = {
    val perArm = perUser.groupBy(col("arm"))
      .agg(count(col("s1")).as("starters"),
        count(col("s4")).as("purchasers"),
        sum(coalesce(col("attr_c"), lit(0L))).as("attr_rev_c"))
    val pivCols = Seq(
      sum(when(col("arm") === 0, col("starters"))).as("cu"),
      sum(when(col("arm") === 1, col("starters"))).as("tu"),
      sum(when(col("arm") === 0, col("purchasers"))).as("cp"),
      sum(when(col("arm") === 1, col("purchasers"))).as("tp"),
      sum(when(col("arm") === 0, col("attr_rev_c"))).as("cc"),
      sum(when(col("arm") === 1, col("attr_rev_c"))).as("tc"))
    perArm.agg(pivCols.head, pivCols.tail: _*)
      .select(
        coalesce(col("cu"), lit(0L)).as("ctrl_users"),
        coalesce(col("tu"), lit(0L)).as("trt_users"),
        coalesce(col("cp"), lit(0L)).as("ctrl_purchasers"),
        coalesce(col("tp"), lit(0L)).as("trt_purchasers"),
        coalesce(col("cc"), lit(0L)).as("ctrl_rev_c"),
        coalesce(col("tc"), lit(0L)).as("trt_rev_c"))
  }

  /** The DECIMAL(38,0)-floored treatment lift — lives in
    * [[graft.operators.Series.revLiftBp]] (ONE definition for the batch
    * keys AND Streams.streamFunnelAbRevenue; the rationale and overflow
    * overload are documented there). */
  private[graft] def revLiftBp: Column = graft.operators.Series.revLiftBp

  /** The full b123/b126 readout tail: pivot + exact rev-per-user
    * micro-cents + lift (Series.revPerUserLiftCols — shared with the
    * streaming readout) — the nine-column one-row readout both keys
    * publish. */
  private[graft] def funnelAbRevReadout(perUser: DataFrame): DataFrame =
    graft.operators.Series.revPerUserLiftCols(funnelAbRevArmPivot(perUser))

  /** The exact cosine pair graph over embeddings, shared by c05 (pair
    * list) and c20 (semantic dedup clusters). */
  private[graft] val embeddingPairGraph = SharedFrame { (s, d) =>
    Dedup.embeddingPairs(t(s, d, "embeddings"), "vec_id", "embedding",
      threshold = 0.35)
  }

  /** Semantic-dedup cluster labels over the 0.42-cosine cut of
    * [[embeddingPairGraph]], memoized per (session, sfDir) — r17
    * optimization round. c20 (the labels themselves) and c40 (the exact
    * centroids of those clusters) each ran the FULL pointer-jumping CC
    * iteration over the same filtered pair graph: two iterative
    * driver-scheduled loops per suite run computing one frame (guide
    * §2.4 — the iterative class is also the suite's documented
    * stall-amplifier, so deduplicating a whole CC run removes both its
    * compute and its k× driver-latency surface). Same materialized-view
    * pattern as [[docClusters]]. */
  private[graft] val embClusters = SharedFrame { (s, d) =>
    Dedup.clusters(
      embeddingPairGraph(s, d).where(col("cos") >= 0.42)
        .select(col("a"), col("b")))
  }

  /** ONE k=3 BPE chain per (session, sfDir), exposing both halves — the
    * learned merge rules (c88) and the compacted corpus (c90) — from the
    * SAME per-round checkpoints (r17 optimization round). Each key
    * previously invoked [[graft.operators.Bpe]] separately, so the suite
    * ran the 3-round driver-sequenced iteration twice for one
    * computation (guide §2.4; the iterative class is also the
    * documented stall-amplifier, so halving its chains halves that
    * surface). No `.persist` on top: both halves are backed by the
    * chain's own localCheckpoint RDDs, so repeat actions already read
    * cached blocks — an extra persist would only duplicate them (the
    * eviction's unpersist is therefore a harmless no-op here; dropped
    * frame references let the ContextCleaner reclaim the checkpoint
    * blocks). The pair is ONE memo entry, so an LRU eviction drops both
    * legs together and the two always reference one chain. */
  private[graft] val bpeK3 = new Shared[(DataFrame, DataFrame)](
      { case (merges, corpus) => Seq(merges, corpus) })((s, d) =>
    graft.operators.Bpe.mergesAndApply(t(s, d, "documents"), "doc_id", "text", k = 3))

  private[graft] def bpeK3Merges(s: SparkSession, d: String): DataFrame = bpeK3(s, d)._1

  private[graft] def bpeK3Corpus(s: SparkSession, d: String): DataFrame = bpeK3(s, d)._2

  /** c96's distinct member-hash set over customer, the input every
    * candidate of [[graft.operators.Pipeline.bloomAdvisor]] reads. */
  private[graft] val customerMemberHashes = SharedFrame { (s, d) =>
    t(s, d, "customer")
      .select(Text.tokenHash(concat(lit("m"), col("c_custkey").cast("string"))).as("h"))
      .distinct()
  }

  /** c100's customer-key count-min sketches of events, orders and
    * customer (d = 4, width = 64), each persisted `MEMORY_AND_DISK`. The
    * three are ONE entry, as in [[bpeK3]], so an eviction drops them
    * together. */
  private[graft] val custKeySketches = new Shared[Seq[(String, DataFrame)]](_.map(_._2))((s, d) =>
    Seq(
      "events" -> t(s, d, "events").select(col("user_id").cast("string").as("tok")),
      "orders" -> t(s, d, "orders").select(col("o_custkey").cast("string").as("tok")),
      "customer" -> t(s, d, "customer").select(col("c_custkey").cast("string").as("tok"))
    ).map { case (n, toks) =>
      n -> graft.functions.CountMin.build(toks, "tok", d = 4, width = 64)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** The 30-minute session_window frame over events, shared by b20 (the
    * sessionize readout) and b65 (the streaming-parity batch twin) —
    * r17 optimization round: each key re-ran the identical
    * sessionization pass (one user_id exchange + session merge, ~3.9 MB
    * r+w each at sf0.1) for one frame. One persisted build, warmed
    * untimed; b65's watermark filter sits on top of the cache read. */
  private[graft] val sessionCounts30 = SharedFrame { (s, d) =>
    Streams.sessionCounts(t(s, d, "events"), "30 minutes")
  }

  /** The capped inverted-index co-count frame (a, b, inter, sza, szb)
    * over [[docShingleSets]], memoized per (session, sfDir) — r17
    * optimization round. The three exact-overlap keys c49 (containment),
    * c52 (minhash calibration) and c76 (top-k similar pairs) each
    * re-ran [[Dedup.cappedCoCounts]]'s posting self-join over the same
    * shingle index — at sf0.1 ~20.4 + 10.2 + 10.2 MB of repeated
    * shuffle per suite run for one identical frame (guide §2.3/§2.4:
    * the largest repeated exchange left in the byte ledger). One
    * persisted build, warmed untimed; each consumer's ledger row now
    * measures its own filter/rank/verify work. [[docJaccardPairs]]
    * deliberately still builds its own kernel: its build is already
    * warmed untimed, so rerouting it would buy zero timed bytes while
    * changing the plan lineage of the whole doc-CC oracle class (whose
    * sf0.1 re-verification budget is 30–60 min/key). */
  private[graft] val docCoCounts = SharedFrame { (s, d) =>
    Dedup.cappedCoCounts(docShingleSets(s, d), maxPosting = 10000)
  }

  private[graft] def q1Agg(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        count(lit(1)).as("count_order"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private[graft] val shingleCte =
    """WITH s AS (
      |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t)-2),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |  WHERE len(t) >= 3)""".stripMargin

  /** Shared oracle CTE chain for the minhash signature-agreement pairs
    * (c37 directed / c120 undirected): full minhash replication — 60-bit
    * md5 shingle hashes, the affine permutations h_i(x) = (a_i·x + b_i)
    * mod P with the fixed-LCG constants (Dedup.coeffA/coeffB), banded
    * 16×4, candidates = shared band, `pair` ends with the agreement
    * count over all 64 permutations — pure integer arithmetic end to end
    * (products < 2^62). Consumers append their own final SELECT with
    * the ≥45 threshold. */
  private[graft] val sigAgreementCtes = shingleCte +
    """,
      |hs AS (SELECT doc_id, list_distinct(list_transform(sh, x ->
      |        CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT))) AS hs FROM s),
      |perm AS (SELECT i,
      |        CASE WHEN (1103515245 * (i+1) + 12345) % 2147483647 = 0 THEN 1
      |             ELSE (1103515245 * (i+1) + 12345) % 2147483647 END AS a,
      |        (69069 * (i+1) + 1) % 2147483647 AS b
      |        FROM generate_series(0, 63) g(i)),
      |sig AS (SELECT h.doc_id, p.i,
      |        min((p.a * (h.h % 2147483647) + p.b) % 2147483647) AS sg
      |        FROM (SELECT doc_id, unnest(hs) AS h FROM hs) h CROSS JOIN perm p
      |        GROUP BY h.doc_id, p.i),
      |sigl AS (SELECT doc_id, list(sg ORDER BY i) AS sig FROM sig GROUP BY doc_id),
      |band AS (SELECT doc_id, gb.b AS bd, sig[gb.b*4+1 : gb.b*4+4] AS bs, sig
      |         FROM sigl CROSS JOIN generate_series(0, 15) gb(b)),
      |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.sig AS siga, y.sig AS sigb
      |         FROM band x JOIN band y ON x.bd = y.bd AND x.bs = y.bs AND x.doc_id < y.doc_id),
      |pair AS (SELECT a, b,
      |          len(list_filter(generate_series(1, 64), i -> siga[i] = sigb[i])) AS n_agree
      |         FROM cand)""".stripMargin

  /** Shared oracle CTE for the c109/c110/c111 classifier family: per-doc
    * (doc_id, n_feats, score) — unigram ∪ bigram features, the 60-bit md5
    * bucket, the closed-form integer weights (same formula as
    * Pipeline.demoClassifierWeights; Spark reads them from the broadcast
    * fixture table). All-BIGINT products (≤ 2^48); sums cast back from
    * DuckDB's HUGEINT. */
  private[graft] def classifierScoreCteWhere(docWhere: String): String =
    s"""WITH ctoks AS (
      |  SELECT doc_id,
      |    generate_subscripts(string_split(coalesce(text, ''), ' '), 1) AS pos,
      |    unnest(string_split(coalesce(text, ''), ' ')) AS tok
      |  FROM documents$docWhere),""".stripMargin + """
      |cbig AS (
      |  SELECT doc_id, feat FROM (
      |    SELECT doc_id,
      |      tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS feat
      |    FROM ctoks)
      |  WHERE feat IS NOT NULL),
      |cfeats AS (
      |  SELECT doc_id, tok AS feat FROM ctoks
      |  UNION ALL SELECT doc_id, feat FROM cbig),
      |cws AS (
      |  SELECT doc_id,
      |    ((CAST(('0x' || substring(md5(feat), 1, 15)) AS BIGINT) % 65536)
      |      * 2654435761) % 2001 - 1000 AS w
      |  FROM cfeats),
      |cscore AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
      |    CAST(sum(w) AS BIGINT) AS score
      |  FROM cws GROUP BY doc_id)""".stripMargin

  /** The c35 heuristic-gate CTE chain (tokens → length/stopword/diversity
    * rational → kept_h boolean at the 0.395-nano bar), shared by the c111
    * agreement matrix and the c114 calibration table so the heuristic leg
    * can never drift between the two oracles. Appends after a
    * [[classifierScoreCteWhere]] chain. */
  private[graft] val heuristicGateCteSql = """,
        |htok AS (
        |  SELECT doc_id, unnest(string_split(COALESCE(text, ''), ' ')) AS tk
        |  FROM documents),
        |hagg AS (
        |  SELECT doc_id, count(*) AS n, count(DISTINCT tk) AS d,
        |    sum(CASE WHEN tk IN ('the','a','of','and','to','in','is','it')
        |        THEN 1 ELSE 0 END) AS st,
        |    sum(length(tk)) AS l
        |  FROM htok GROUP BY doc_id),
        |hq AS (
        |  SELECT doc_id,
        |    CAST(((50 * d + 20 * st + 3 * least(l, 10 * n)) * 1000000000 + 50 * n)
        |         // (100 * n) AS BIGINT) >= 395000000 AS kept_h
        |  FROM hagg)""".stripMargin

  /** The yield-curve oracle BODY shared by c110 (full corpus), c112
    * (post-CDC corpus), and the c115 advisor: conditional sums per
    * threshold, stacked into the `st` frame. The inner join to cscore
    * restricts the documents side to the CTE's corpus slice (doc_id
    * unique), so no second WHERE is needed. Consumers append either
    * [[classifierYieldSelectSql]] (the curve readout) or their own
    * ranking over `st` built on [[yieldPpmSql]]. */
  private[graft] val classifierYieldBodySql = """,
        |cj AS (
        |  SELECT d.lang, d.n_chars, s.score
        |  FROM documents d JOIN cscore s USING (doc_id)),
        |cg AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS total_docs,
        |    CAST(sum(CASE WHEN score >= -2000 THEN 1 ELSE 0 END) AS BIGINT) AS kd0,
        |    CAST(sum(CASE WHEN score >= -2000 THEN n_chars ELSE 0 END) AS BIGINT) AS kc0,
        |    CAST(sum(CASE WHEN score >= -1000 THEN 1 ELSE 0 END) AS BIGINT) AS kd1,
        |    CAST(sum(CASE WHEN score >= -1000 THEN n_chars ELSE 0 END) AS BIGINT) AS kc1,
        |    CAST(sum(CASE WHEN score >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS kd2,
        |    CAST(sum(CASE WHEN score >= 0 THEN n_chars ELSE 0 END) AS BIGINT) AS kc2,
        |    CAST(sum(CASE WHEN score >= 1000 THEN 1 ELSE 0 END) AS BIGINT) AS kd3,
        |    CAST(sum(CASE WHEN score >= 1000 THEN n_chars ELSE 0 END) AS BIGINT) AS kc3,
        |    CAST(sum(CASE WHEN score >= 2000 THEN 1 ELSE 0 END) AS BIGINT) AS kd4,
        |    CAST(sum(CASE WHEN score >= 2000 THEN n_chars ELSE 0 END) AS BIGINT) AS kc4
        |  FROM cj GROUP BY lang),
        |st AS (
        |  SELECT lang, CAST(-2000 AS BIGINT) AS thr, total_docs,
        |    kd0 AS kept_docs, kc0 AS kept_chars FROM cg
        |  UNION ALL SELECT lang, -1000, total_docs, kd1, kc1 FROM cg
        |  UNION ALL SELECT lang, 0, total_docs, kd2, kc2 FROM cg
        |  UNION ALL SELECT lang, 1000, total_docs, kd3, kc3 FROM cg
        |  UNION ALL SELECT lang, 2000, total_docs, kd4, kc4 FROM cg)""".stripMargin

  /** The c114 reliability-table CTE chain (per-score counts → cumulative
    * rank → last-row deciles → the grouped `cal$sfx` frame), shared by the
    * c114 readout, the c116 monotonicity audit, and BOTH generations of
    * the c117 drift readout so the table and its consumers can never
    * drift. Appends after [[heuristicGateCteSql]]; `sfx` renames the CTE
    * chain so two generations coexist in one query, `docWhere` restricts
    * the generation's corpus slice (identical rule, different slice —
    * mirroring the Spark side's single calibrationTableOf). */
  private[graft] def calibrationCteSfx(sfx: String, docWhere: String): String = s""",
        |ps$sfx AS (
        |  SELECT s.score, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN hq.kept_h THEN 1 ELSE 0 END) AS BIGINT) AS kh
        |  FROM cscore s JOIN hq USING (doc_id)$docWhere GROUP BY s.score),
        |cm$sfx AS (
        |  SELECT score, n, kh,
        |    sum(n) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(n) OVER () AS nn
        |  FROM ps$sfx),
        |dc$sfx AS (SELECT *, ((cum - 1) * 10) // nn + 1 AS decile FROM cm$sfx),
        |cal$sfx AS (
        |  SELECT CAST(decile AS BIGINT) AS decile,
        |    CAST(sum(n) AS BIGINT) AS n_docs,
        |    CAST(min(score) AS BIGINT) AS lo_score,
        |    CAST(max(score) AS BIGINT) AS hi_score,
        |    CAST(sum(kh) AS BIGINT) AS kept_h_docs,
        |    (CAST(sum(kh) AS BIGINT) * 1000000) // CAST(sum(n) AS BIGINT) AS kept_h_ppm
        |  FROM dc$sfx GROUP BY decile)""".stripMargin

  private[graft] val calibrationCteSql = calibrationCteSfx("", "")

  /** The exact-ppm keep-share formula — defined ONCE so the curve readout
    * (c110/c112) and the advisor's ranking input (c115) can never diverge. */
  private[graft] val yieldPpmSql = "kept_docs * 1000000 // total_docs AS kept_ppm"

  /** The c110/c112 final projection over the stacked `st` frame; split
    * from [[classifierYieldBodySql]] so the c115 advisor oracle can rank
    * the identical curve instead of re-deriving it. */
  private[graft] val classifierYieldSelectSql = s"""
        |SELECT lang, thr, total_docs, kept_docs, kept_chars,
        |  $yieldPpmSql
        |FROM st ORDER BY lang, thr""".stripMargin

  /** The c88 BPE oracle CTE chain GENERATED for any k: per round an
    * adjacency window (a_i), the DESC-tiebroken argmax pair (b_i), and —
    * for every round but the last — the island-parity leftmost-greedy
    * merge application (m_i/i_i/o_i → alive_{i+1}), algebra identical to
    * [[graft.operators.Bpe.merges]] and byte-comparable to the
    * hand-written k=3 oracle. SQL length grows linearly in k, which is
    * free for a generated string — this resolves the "oracle strategy
    * past k≈8" question as full exact verification (c95 gates k=16).
    * The multiply-referenced CTEs (a_i feeds b_i AND m_i) are
    * MATERIALIZED: DuckDB inlines plain CTEs per reference, which at
    * k=16 is 2^16 expansions — the exact c04/c66 exponential-inlining
    * lesson from the CLAUDE.md ledger (it surfaced here as "too many
    * open files" before the hint). */
  private[graft] def bpeMergesOracleSql(k: Int, docWhere: String): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH alive1 AS (
         |  SELECT doc_id AS doc,
         |    generate_subscripts(string_split(coalesce(text, ''), ' '), 1) AS pos,
         |    unnest(string_split(coalesce(text, ''), ' ')) AS tok
         |  FROM documents$docWhere),
         |""".stripMargin)
    for (i <- 1 to k) {
      val src = if (i == 1) "(SELECT * FROM alive1 WHERE tok != '')" else s"alive$i"
      sb.append(
        s"""a$i AS MATERIALIZED (SELECT doc, pos, tok, lead(tok) OVER wd AS ntok, row_number() OVER wd AS seq
           |       FROM $src WINDOW wd AS (PARTITION BY doc ORDER BY pos)),
           |b$i AS MATERIALIZED (SELECT tok AS bt, ntok AS bn, CAST(count(*) AS BIGINT) AS bc
           |       FROM a$i WHERE ntok IS NOT NULL GROUP BY 1, 2
           |       ORDER BY bc DESC, bt DESC, bn DESC LIMIT 1)""".stripMargin)
      if (i < k) sb.append(
        s""",
           |m$i AS (SELECT a.*, (a.ntok IS NOT NULL AND a.tok = b.bt AND a.ntok = b.bn) AS im
           |       FROM a$i a CROSS JOIN b$i b),
           |i$i AS (SELECT *, CASE WHEN im THEN seq - row_number()
           |         OVER (PARTITION BY doc, im ORDER BY pos) END AS isl FROM m$i),
           |o$i AS (SELECT *, im AND (row_number() OVER (PARTITION BY doc, isl ORDER BY pos) - 1) % 2 = 0 AS mg
           |       FROM i$i),
           |alive${i + 1} AS MATERIALIZED (SELECT doc, pos, CASE WHEN mg THEN tok || ' ' || ntok ELSE tok END AS tok
           |           FROM (SELECT *, lag(mg) OVER (PARTITION BY doc ORDER BY pos) AS pm FROM o$i)
           |           WHERE NOT coalesce(pm, FALSE)),
           |""".stripMargin)
    }
    sb.append("\nSELECT 1 AS rank, bt AS lhs, bn AS rhs, bc AS pair_count FROM b1")
    for (i <- 2 to k) sb.append(s"\nUNION ALL SELECT $i, bt, bn, bc FROM b$i")
    sb.append("\nORDER BY rank")
    sb.toString
  }

  /** The b92 Hilbert oracle: the identical 16-bit-plane rotate/reflect
    * walk as [[graft.plans.SpatialExpressions.hilbertD]], generated as a
    * CTE ladder (one CTE per plane, each referenced once — no
    * MATERIALIZED needed). Pure integer CASE/xor/& algebra. */
  private[graft] def hilbertKeySql: String = {
    val sb = new StringBuilder
    sb.append(
      """WITH h0 AS (
        |  SELECT o_orderkey, (o_custkey & 65535) AS x,
        |    (date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) & 65535) AS y,
        |    CAST(0 AS BIGINT) AS d
        |  FROM orders)""".stripMargin)
    for (i <- 1 to 16) {
      val s = 1L << (16 - i)
      val ss = s * s
      sb.append(
        s""",
           |h$i AS (SELECT o_orderkey,
           |  d + $ss * xor(3 * (CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END),
           |                CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END) AS d,
           |  CASE WHEN (y & $s) = 0 THEN (CASE WHEN (x & $s) > 0 THEN $s - 1 - y ELSE y END) ELSE x END AS x,
           |  CASE WHEN (y & $s) = 0 THEN (CASE WHEN (x & $s) > 0 THEN $s - 1 - x ELSE x END) ELSE y END AS y
           |  FROM h${i - 1})""".stripMargin)
    }
    sb.append(
      "\nSELECT o_orderkey, CAST(d AS BIGINT) AS hkey FROM h16 ORDER BY hkey, o_orderkey LIMIT 2000")
    sb.toString
  }

  private[graft] val jaccardPairsSql =
    shingleCte +
      """
        |SELECT a.doc_id AS a, b.doc_id AS b
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.sh, b.sh)) >= 0.8 * len(list_distinct(list_concat(a.sh, b.sh)))
        |ORDER BY a, b""".stripMargin

  // recursive-CTE connected components over the c04 pair graph — shared by
  // c17 (pointer jumping) and c75 (star contraction): one semantics, one
  // oracle. INFEASIBLE in DuckDB at sf0.1 (35+ min) — sf0.01 gate only,
  // see the CLAUDE.md ledger.
  private[graft] val ccClustersSql =
    shingleCte +
      """,
        |p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.sh, b.sh)) >= 0.8 * len(list_distinct(list_concat(a.sh, b.sh)))),
        |e AS (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p),
        |r AS (
        |  WITH RECURSIVE reach(id, x) AS (
        |    SELECT src, src FROM e
        |    UNION
        |    SELECT e.src, reach.x FROM e JOIN reach ON reach.id = e.dst)
        |  SELECT id, x FROM reach)
        |SELECT id AS doc_id, min(x) AS cluster_rep
        |FROM r GROUP BY id ORDER BY doc_id""".stripMargin

  // shared PQ construction (c59 encode, c60 search): micro-quantized
  // components, exact BIGINT squared L2, argmin tie-broken on code id,
  // ADC vs vec 0 — ends in a `pq(vec_id, c0..c3, adc_micro2)` relation
  private[graft] val pqCte =
    """WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
      |             x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS nv FROM embeddings),
      |sub AS (SELECT vec_id, g.sm, nv[g.sm*16+1 : g.sm*16+16] AS sub
      |        FROM e, generate_series(0, 3) g(sm)),
      |seeds AS (SELECT vec_id AS code, sm, sub AS cw FROM sub WHERE vec_id < 16),
      |cand AS (SELECT s.vec_id, s.sm, d.code,
      |           CAST(list_sum(list_transform(generate_series(1, 16),
      |             i -> (s.sub[i] - d.cw[i]) * (s.sub[i] - d.cw[i]))) AS BIGINT) AS d2
      |         FROM sub s JOIN seeds d USING (sm)),
      |best AS (SELECT vec_id, sm, code FROM (
      |           SELECT *, row_number() OVER (PARTITION BY vec_id, sm
      |             ORDER BY d2, code) AS rn FROM cand) WHERE rn = 1),
      |q AS (SELECT sm, sub AS qsub FROM sub WHERE vec_id = 0),
      |adc AS (SELECT b.vec_id, b.sm, b.code,
      |          CAST(list_sum(list_transform(generate_series(1, 16),
      |            i -> (q.qsub[i] - d.cw[i]) * (q.qsub[i] - d.cw[i]))) AS BIGINT) AS a2
      |        FROM best b JOIN seeds d ON b.sm = d.sm AND b.code = d.code
      |        JOIN q ON q.sm = b.sm),
      |pq AS (SELECT vec_id,
      |  max(CASE WHEN sm = 0 THEN code END) AS c0,
      |  max(CASE WHEN sm = 1 THEN code END) AS c1,
      |  max(CASE WHEN sm = 2 THEN code END) AS c2,
      |  max(CASE WHEN sm = 3 THEN code END) AS c3,
      |  CAST(sum(a2) AS BIGINT) AS adc_micro2
      |FROM adc GROUP BY vec_id)""".stripMargin
}
