package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.{Ann, Dedup, Multimodal, Nested, Pipeline, Scale, Variant}
import graft.functions.{Similarity, Text}
import graft.sources.Tables
import graft.streaming.Streams
import graft.EntryShared._

/** Second half of the §2C query-builder family (mechanical r17 split of
  * [[EntryC]] at the c117 entry boundary; bodies verbatim — the full
  * declared map is `EntryC.cQueries ++ EntryC2.cQueries2` in
  * [[SparkEntry.queries]]). Oracle twins: [[OraclesC]]/[[OraclesC2]]. */
private[graft] object EntryC2 {

  // =================================================================
  // §2C — LLM-pipeline extensions
  // =================================================================

  private[graft] val cQueries2: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c117_calibration_drift" -> ((s, d) => {
      // calibration DRIFT over corpus generations (the r14-roadmap c114
      // consumer): the nightly signal a deployed gate needs is not one
      // reliability table but the DELTA between two generations of it —
      // the b87 snapshot-diff discipline applied to the 10-row decile
      // frame. Generations are the c112 CDC convention: "previous" = the
      // corpus before the insert batch (doc_id%10 != 3), "current" = the
      // full corpus; both tables come from the ONE calibrationTableOf
      // rule over the ONE memoized per-doc gate-bits frame, so a
      // generation can never be computed by a drifted rule. Each
      // generation self-normalizes its own deciles (a reliability table
      // is a within-corpus object — comparing decile k of gen A to
      // decile k of gen B is the standard calibration-drift readout).
      // Per decile: doc mass and keep-rate ppm on both sides, the ppm
      // delta, a drift boolean (|delta| > 10000 ppm — one point, chosen
      // against the measured fixture deltas so both verdicts populate at
      // every sf: 8/2 at sf0.001, 6/4 at 0.01, 2/8 at 0.1 — or a decile
      // missing from either side, possible only under extreme
      // score-tie mass),
      // and the table-wide drifted-decile count (the c116 audit-boolean
      // discipline: a nightly alerts on drifted_total, never on a human
      // reading 10 ppm numbers). All BIGINT; full-outer decile join with
      // 0/−1 sentinels (ppm_delta is then computed vs −1 and meaningless
      // — drifted is already forced true by the missing side, which is
      // the value a consumer gates on). Plan: two cache reads (the
      // memoized 10-row table + one re-aggregate of the memoized bits
      // frame under the slice filter — one score exchange, the c114
      // class), windows on ≤10-row frames; zero new exchange classes.
      val prev = calibrationTableOf(
          docGateBits(s, d).where(pmod(col("doc_id"), lit(10)) =!= 3))
        .select(col("decile"), col("n_docs").as("n_docs_prev"),
          col("kept_h_ppm").as("kept_h_ppm_prev"))
      val curr = classifierCalibrationTable(s, d)
        .select(col("decile"), col("n_docs").as("n_docs_curr"),
          col("kept_h_ppm").as("kept_h_ppm_curr"))
      val wAll = Window.partitionBy()
      curr.join(prev, Seq("decile"), "full_outer")
        .select(col("decile"),
          coalesce(col("n_docs_prev"), lit(0L)).as("n_docs_prev"),
          coalesce(col("n_docs_curr"), lit(0L)).as("n_docs_curr"),
          coalesce(col("kept_h_ppm_prev"), lit(-1L)).as("kept_h_ppm_prev"),
          coalesce(col("kept_h_ppm_curr"), lit(-1L)).as("kept_h_ppm_curr"))
        .withColumn("ppm_delta",
          col("kept_h_ppm_curr") - col("kept_h_ppm_prev"))
        .withColumn("drifted",
          abs(col("ppm_delta")) > 10000L ||
            col("kept_h_ppm_prev") < 0L || col("kept_h_ppm_curr") < 0L)
        .withColumn("drifted_total",
          sum(when(col("drifted"), 1L).otherwise(0L)).over(wAll))
        .orderBy(col("decile"))
    }),

    "c118_image_codec_roundtrip" -> ((s, d) => {
      // REAL image codec under the driver's gate (r15 extended — the JDK
      // ships javax.imageio, so the long-standing "codec stubbed" gap
      // closes for images): per doc, ENCODE the deterministic
      // Multimodal.patternPng RGB pattern as PNG and DECODE it back with
      // the real codec (decodeImage), emitting the exact integer pixel
      // features. PNG is lossless, so decode∘encode is the identity on
      // pixels — the oracle recomputes every feature in CLOSED FORM from
      // the pattern (an 8×6 bounded series join, no codec in SQL); any
      // codec defect (channel order, row order, color-space mangling,
      // dimension swap) breaks the hash. Plan: 1-column doc_id scan →
      // narrow per-row encode+decode (pixels never leave the executor,
      // the documented Multimodal mapPartitions class) → determinism
      // orderBy; zero joins, zero aggregates, bounded 4–8 × 3–6 px
      // images, ~1 KB per row of transient codec work.
      import s.implicits._
      t(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val f = Multimodal.decodeImage(Multimodal.patternPng(id))
          (id, f.ok, f.width, f.height, f.r_sum, f.g_sum, f.b_sum,
            f.l0, f.l1, f.l2, f.l3)
        })
        .toDF("doc_id", "ok", "width", "height", "r_sum", "g_sum", "b_sum",
          "l0", "l1", "l2", "l3")
        .orderBy(col("doc_id"))
    }),

    "c119_audio_codec_roundtrip" -> ((s, d) => {
      // the c118 discipline for REAL WAV audio (javax.sound.sampled):
      // encode the deterministic Multimodal.patternWav 16-bit PCM
      // fixture, decode with the real codec, emit exact frame/format/
      // amplitude features; PCM is raw so the roundtrip is exact and the
      // oracle is the closed form over the sample formula (negative
      // amplitudes exercised). Same narrow no-shuffle plan as c118.
      import s.implicits._
      t(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val f = Multimodal.decodeWavPcm(Multimodal.patternWav(id))
          (id, f.ok, f.n_frames, f.channels, f.rate_hz, f.amp_abs_sum)
        })
        .toDF("doc_id", "ok", "n_frames", "channels", "rate_hz", "amp_abs_sum")
        .orderBy(col("doc_id"))
    }),

    "c106_epoch_allocation" -> ((s, d) =>
      // token-budget epoch allocator: distribute a 2×-corpus token
      // budget across sources ∝ doc count, each source capped at 4
      // epochs of its own tokens; the water-filling split is a CLOSED
      // FORM on the |sources|-row frame (sort by cap/weight, prefix
      // sums, cleared-BIGINT validity products — no iteration, no
      // doubles in any decision). The data-recipe planning step next to
      // c33's target mix and c101's temperature mix.
      graft.operators.Pipeline.epochAllocation(
          t(s, d, "documents"), "source", "n_chars",
          maxEpochs = 4, budgetNum = 2L, budgetDen = 1L)
        .orderBy(col("source"))),

    "c99_sliding_topk" -> ((s, d) => {
      // batch parity for the SLIDING-window streaming Misra–Gries
      // heavy hitters (Streams.streamSlidingHeavyHitters, 1 h / 30 min,
      // k=2 over 5 event types — constant evictions by construction):
      // per closed window, exact per-type counts next to the
      // THEOREM-GUARANTEED audit booleans (capture of every type with
      // cnt·3 > n; error ≤ n/3) — never the merge-order-dependent raw
      // estimates, the b80 discipline applied per window. The exact
      // side is one grouped count; the summary side is one windowed MG
      // aggregate whose state is O(k) per window.
      val ev = t(s, d, "events")
      val wm = broadcast(ev.agg(
        (max(col("ts")) - expr("INTERVAL 30 MINUTES")).as("wm")))
      val mg = udaf(new graft.functions.Folds.MisraGries(2))
      val base = ev.select(window(col("ts"), "1 hour", "30 minutes").as("w"),
        coalesce(col("event_type"), lit("")).as("event_type"))
      val summary = base.groupBy(col("w")).agg(mg(col("event_type")).as("mg"))
        .select(col("w"), explode(col("mg.entries")).as("e"))
        .select(col("w"), col("e.tok").as("event_type"), col("e.est").as("est"))
      val exact = base.groupBy(col("w"), col("event_type")).agg(count(lit(1)).as("cnt"))
      val est0 = coalesce(col("est"), lit(0L))
      // n = window total, derived as a window SUM over the exact per-type
      // counts (r9 ADVICE): the exact frame already partitions every base
      // row into exactly one (w, event_type) cell, so sum(cnt) over w IS n
      // — one fewer full pass over the fact table than a third groupBy.
      exact.join(summary, Seq("w", "event_type"), "left")
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("w"))))
        .crossJoin(wm).where(col("w.end") <= col("wm"))
        .select(unix_micros(col("w.start")).as("w_start_us"), col("event_type"),
          col("cnt"),
          (col("cnt") * 3 > col("n")).as("is_heavy"),
          (!(col("cnt") * 3 > col("n")) || est0 > 0).as("captured"),
          (est0 <= col("cnt") && (col("cnt") - est0) * 3 <= col("n")).as("bound_ok"))
        .orderBy(col("w_start_us"), col("event_type"))
    }),

    "c98_sliding_cms" -> ((s, d) => {
      // batch parity for the SLIDING-window streaming CMS
      // (Streams.streamSlidingCmsCells, 1 h / 30 min, 4×64 grid): the
      // b91 sliding assignment composed with c78's counting-monoid cell
      // algebra — closed windows' grids are arrival-order-proof, so the
      // drained stream equals this batch aggregation cell-for-cell
      // (StreamingSpec asserts it live). Every cell is an exact integer
      // under the shared md5 bucket rule — fully hash-verified, no bound
      // booleans needed.
      val ev = t(s, d, "events")
      val wm = broadcast(ev.agg(
        (max(col("ts")) - expr("INTERVAL 30 MINUTES")).as("wm")))
      ev.select(window(col("ts"), "1 hour", "30 minutes").as("w"),
          col("user_id").cast("string").as("tok"))
        .select(col("w"), col("tok"), explode(sequence(lit(0), lit(3))).as("r"))
        .groupBy(col("w"), col("r"),
          graft.functions.CountMin.bucketOf(col("r"), col("tok"), 64).as("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .crossJoin(wm)
        .where(col("w.end") <= col("wm"))
        .select(unix_micros(col("w.start")).as("w_start_us"), col("r"),
          col("bucket"), col("cnt"))
        .orderBy(col("w_start_us"), col("r"), col("bucket"))
    }),

    "c97_anomaly_days" -> ((s, d) => {
      // robust ingest monitoring — the "did a feed drop or spike" check a
      // 100 TB pipeline runs per partition-day: daily event counts per
      // type, then median ± MAD gating (b88/b90's robust stats — a mean/
      // stddev gate is wrecked by exactly the outliers it should catch).
      // The fact table compacts to the (type × day) frame in ONE
      // map-side-combined shuffle before any window; the robust stats run
      // on that tiny frame via Scale.groupedMedianDisc (group-partitioned
      // cumulative windows, no per-group buffering) and broadcast back.
      // anomaly = |cnt − med| > 3·MAD, pure integers end to end.
      val daily = t(s, d, "events")
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val med = graft.operators.Scale.groupedMedianDisc(
        daily.select(col("event_type"), col("cnt")), "event_type", "cnt")
      val dev = daily.join(broadcast(med), Seq("event_type"))
        .select(col("event_type"), abs(col("cnt") - col("med")).as("ad"))
      val mad = graft.operators.Scale.groupedMedianDisc(dev, "event_type", "ad")
        .withColumnRenamed("med", "mad")
      daily.join(broadcast(med), Seq("event_type"))
        .join(broadcast(mad), Seq("event_type"))
        .select(col("event_type"), col("day"), col("cnt"), col("med"), col("mad"),
          (abs(col("cnt") - col("med")) > col("mad") * 3).as("anomaly"))
        .orderBy(col("event_type"), col("day"))
    }),

    "c96_bloom_advisor" -> ((s, d) =>
      // Bloom sizing closed-loop: the integer m >= n·k/ln2 rule decides,
      // and the engine BUILDS each candidate filter and measures its
      // false-positive rate on provably-disjoint probes (prefix-split
      // hashes + anti-join) — fp bounds certified as the b18/b78
      // boolean pattern, the sizing itself exact-integer-verified.
      // chosen adapts with scale: 2^14 at sf0.001, 2^16 at sf0.01,
      // 2^18 at sf0.1 (customer grows 10x per sf).
      // fp_count is library-reported but NOT oracle-verified (r9 ADVICE:
      // monotonicity across independently hashed filters is expected, not
      // theorem-backed; only the fp_ok BOUND is certifiable) — select the
      // theorem-backed column set for the gate.
      graft.operators.Pipeline.bloomAdvisor(
        t(s, d, "customer"),
        graft.functions.Text.tokenHash(
          concat(lit("m"), col("c_custkey").cast("string"))))
        .select(col("m_bits"), col("k_hashes"), col("n_keys"), col("min_bits"),
          col("eligible"), col("chosen"), col("fp_ok"))
        .orderBy(col("m_bits"))),

    "c94_lsh_advisor" -> ((s, d) =>
      // the c83 "measure, then decide" pattern pointed at LSH's own
      // dials: per candidate banding, MEASURED bucket occupancy and
      // candidate-pair volume on the real corpus signatures next to the
      // analytic S-curve (threshold + recall at j=0.8), and a chosen
      // flag = cheapest config clearing the 99% recall floor within the
      // pair budget. Selects bands=16 — exactly c02's proven operating
      // point (measured recall table in docs/PLANS.md). Shares the
      // memoized shingle index; no pair is ever materialized.
      Dedup.lshParamAdvisor(docShingleSets(s, d))
        .orderBy(col("bands"))),

    "c93_cluster_size_dist" -> ((s, d) =>
      // duplicate-cluster size distribution, log₂-binned (the c87 shape
      // over c71's canonical groups): the dedup-impact report a corpus
      // owner reads — mass in bin 0 = unique docs, a heavy tail = a few
      // giant boilerplate families dominating removal
      graft.operators.Dedup.canonicalExact(t(s, d, "documents"), "doc_id", "text")
        .select(col("n_dups"), (length(bin(col("n_dups"))) - 1).as("size_bin"))
        .groupBy(col("size_bin"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("n_dups")).as("n_docs"),
          max(col("n_dups")).as("max_size"))
        .orderBy(col("size_bin"))),

    "c91_corpus_diversity" -> ((s, d) => {
      // Gini–Simpson diversity index per grouping dimension — the
      // corpus-mix KPI next to c85's per-source card: 1 − Σ pᵢ² as the
      // exact rational (1000·(n² − Σnᵢ²)) div n², no float, no log
      // (Shannon entropy would need one). 1000·(1−1/k) is the ceiling
      // for k equal groups; collapse toward 0 = concentration.
      def div(dim: String) = t(s, d, "documents")
        .select(coalesce(col(dim), lit("")).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_groups"), sum(col("c")).as("n"),
          sum(col("c") * col("c")).as("ss"))
        .select(lit(dim).as("dimension"), col("n_groups"),
          expr("(1000 * (n * n - ss)) div (n * n)").as("diversity_milli"))
      div("source").union(div("lang")).orderBy(col("dimension"))
    }),

    "c92_langid_confusion" -> ((s, d) =>
      // classifier evaluation ON the engine: c08's n-gram/stopword
      // language-ID scored against the declared lang column as a full
      // confusion matrix — the precision/recall raw material every
      // heuristic filter needs before it gates a 100 TB corpus. One
      // grouped pass; both the predictor and the truth are
      // deterministic columns.
      t(s, d, "documents")
        .select(coalesce(col("lang"), lit("")).as("true_lang"),
          Text.langId(col("text")).as("pred_lang"))
        .groupBy(col("true_lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("true_lang"), col("pred_lang"))),

    "c90_bpe_compression" -> ((s, d) => {
      // what the learned merges BUY: corpus symbol count before vs after
      // applying c88's three rules (the corpus half of Bpe.mergesAndApply —
      // same pipeline that learned them), with the saving in integer milli units. The
      // tokenizer-training feedback metric: merge yield flattening ⇒
      // stop learning rules.
      val docs = t(s, d, "documents")
      val before = docs
        .select(posexplode(Text.tokens(coalesce(col("text"), lit(""))))
          .as(Seq("p", "tk")))
        .where(col("tk") =!= "")
        .agg(count(lit(1)).as("toks_before"))
      // r17: the compacted corpus comes from the shared k=3 chain
      // (bpeK3Corpus, same checkpoints as c88's rules) — the 3-round
      // iteration runs once per (session, sfDir) for the pair of keys
      val after = bpeK3Corpus(s, d)
        .agg(count(lit(1)).as("toks_after"))
      before.crossJoin(broadcast(after))
        .select(col("toks_before"), col("toks_after"),
          expr("(1000 * (toks_before - toks_after)) div toks_before").as("saved_milli"))
    }),

    "c88_bpe_merges" -> ((s, d) =>
      // tokenizer training ON THE ENGINE: the first 3 BPE merge rules
      // learned from the corpus — exact leftmost-greedy merge semantics
      // via gaps-and-islands parity, every per-round window sharing one
      // doc shuffle, winner = 1-row broadcast (Bpe.merges scaladoc);
      // oracle unrolls the identical three rounds. r17: reads the shared
      // k=3 chain (bpeK3Merges — one iteration for the c88/c90 pair)
      bpeK3Merges(s, d)
        .orderBy(col("rank"))),

    "c95_bpe_merges_k16" -> ((s, d) =>
      // the c88 pipeline driven to DEPTH — 16 rounds, the regime where
      // the per-round lineage-truncation discipline is what keeps the
      // plan flat (without it plan size doubles per round; the c82
      // lesson). The oracle is GENERATED: the same CTE chain c88
      // hand-writes at k=3, mechanically unrolled to k=16 — the "oracle
      // strategy past k≈8" the r8 ledger left open, resolved as full
      // exact verification rather than a weaker law/rows-only check.
      // Runs on the doc_id ≡ 0 (mod 16) corpus slice to bound the
      // 16-round wall cost in the bench suite — the demo value here is
      // DEPTH, and per-round cost at local scale is scheduling-floor-
      // dominated, not data-dominated (measured in docs/PLANS.md).
      graft.operators.Bpe.merges(
        t(s, d, "documents").where(pmod(col("doc_id"), lit(16)) === 0),
        "doc_id", "text", k = 16)
        .orderBy(col("rank"))),

    "c86_personalized_ppr" -> ((s, d) => {
      // proximity-to-seeds ranking over the c45 trade graph: restart
      // mass only on the seed customers (c_custkey ≡ 0 mod 20) — the
      // "related accounts" recommendation signal, exact nano-integer
      // recurrence (Graph.personalizedPageRankNano scaladoc)
      val edges = tradeEdges(s, d)
      val nodes = t(s, d, "customer")
        .select((col("c_custkey") * 2).as("node"),
          (pmod(col("c_custkey"), lit(20)) === 0).cast("long").as("seed"))
        .union(t(s, d, "supplier")
          .select((col("s_suppkey") * 2 + 1).as("node"), lit(0L).as("seed")))
      graft.operators.Graph.personalizedPageRankNano(edges, nodes, iters = 3)
        .orderBy(col("node"))
    }),

    "b85_asof_tolerance" -> ((s, d) => {
      // as-of join WITH TOLERANCE (the merge_asof tolerance/direction
      // surface): each purchase gets the user's most recent click only
      // if it happened within 1 hour — b08's linear one-window shape,
      // the click timestamp carried alongside the id so the gap test
      // never re-joins. Gap in whole seconds (floor of the micros
      // difference — exact integers both engines).
      val e = t(s, d, "events")
      val tagged = e.where(col("event_type").isin("purchase", "click"))
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("event_type") === "click", 0).otherwise(1).as("kind"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("kind"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val gapUs = unix_micros(col("ts")) - unix_micros(col("cts"))
      val inTol = col("cts").isNotNull && gapUs <= 3600000000L
      tagged
        .withColumn("click_id",
          last(when(col("kind") === 0, col("event_id")), ignoreNulls = true).over(w))
        .withColumn("cts",
          last(when(col("kind") === 0, col("ts")), ignoreNulls = true).over(w))
        .where(col("kind") === 1)
        .select(col("event_id"), col("user_id"),
          when(inTol, col("click_id")).as("click_id"),
          when(inTol, expr("(unix_micros(ts) - unix_micros(cts)) div 1000000"))
            .as("gap_s"))
        .orderBy(col("event_id"))
    }),

    "c87_degree_dist" -> ((s, d) => {
      // log₂-binned degree distribution of the trade graph — the
      // power-law diagnostic read before graph work is scheduled (a
      // heavy tail predicts hot reducers in any per-node aggregation;
      // pairs with b81's key-skew read). Bin = ⌊log₂ deg⌋ via binary
      // string length — exact integers, no float log.
      //
      // r18 shape (guide §2.4, VERDICT r17 #1): the graph is BIPARTITE
      // (cust nodes 2c, supp nodes 2p+1), so the symmetrized
      // edges.groupBy(src) of the old shape — distinct-pair exchange +
      // a 2|E|-row degree exchange over the union — collapses to two
      // per-side degree counts over ONE deduped pair frame. The pair
      // dedup and the cust-side degree share a single custkey-keyed
      // exchange: a NUMBERED repartition(c) (the c104 discipline — AQE
      // would byte-coalesce an unnumbered one) then distinct then
      // groupBy(c), both aggregations exchange-free on top
      // (hashpartitioning(c) satisfies both clusterings). The supp side
      // rides a partial-aggregated exchange bounded by
      // |suppliers|·partitions. The repartition also spreads the
      // dedup off the single-file broadcast-probe lineitem scan
      // (the c104 single-task trap). Skew posture: rows-per-custkey is
      // bounded by orders/customer × lines/order (uniform here); for a
      // hot-key graph, fall back to the (c,p)-hash dedup exchange, which
      // this replaced byte-for-byte.
      val li = t(s, d, "lineitem")
      val pairs = li
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("p"))
        .repartition(s.sessionState.conf.numShufflePartitions, col("c"))
      val e = pairs.distinct()
      val custDeg = e.groupBy(col("c")).agg(count(lit(1)).as("deg"))
      val suppDeg = e.groupBy(col("p")).agg(count(lit(1)).as("deg"))
      custDeg.select(col("deg")).union(suppDeg.select(col("deg")))
        .select(col("deg"), (length(bin(col("deg"))) - 1).as("deg_bin"))
        .groupBy(col("deg_bin"))
        .agg(count(lit(1)).as("n_nodes"), min(col("deg")).as("min_deg"),
          max(col("deg")).as("max_deg"))
        .orderBy(col("deg_bin"))
    }),

    "b84_weighted_pctile" -> ((s, d) =>
      // exact weighted percentiles — spend-weighted price points over
      // lineitem: the smallest price (cents) covering p% of total
      // quantity (Scale.weightedPercentiles scaladoc: distinct-value
      // compaction then a values-universe window, all-integer)
      graft.operators.Scale.weightedPercentiles(
          t(s, d, "lineitem"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long"),
          floor(col("l_quantity")).cast("long"),
          Seq(50, 90, 99))
        .orderBy(col("pct"))),

    "c84_contiguous_ids" -> ((s, d) =>
      // contiguous 0..n-1 enumeration by doc_id WITHOUT a global
      // single-partition window (Scale.contiguousIds scaladoc: bucketed
      // rank + cumsum'd bucket offsets broadcast back) — the stable
      // sample-id assignment a 100 TB shard writer needs
      graft.operators.Scale.contiguousIds(
          t(s, d, "documents").select(col("doc_id")), "doc_id", bucketWidth = 1024L)
        .orderBy(col("doc_id"))),

    "c85_source_report" -> ((s, d) => {
      // per-source data card — the corpus-governance report: volume,
      // language mix, mean length, and canonical-dup rate per source in
      // ONE pass over (source)-grouped integer aggregates; dup detection
      // reuses c71's canonical 60-bit key (Dedup.canonicalKey), so raw
      // text never shuffles
      t(s, d, "documents")
        .select(col("source"), col("n_chars"),
          (coalesce(col("lang"), lit("")) === "en").cast("long").as("is_en"),
          Dedup.canonicalKey(col("text")).as("ck"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
          sum(col("is_en")).as("en_docs"), countDistinct(col("ck")).as("n_canonical"))
        .select(col("source"), col("n_docs"), col("total_chars"),
          expr("total_chars div n_docs").as("mean_chars"),
          expr("(1000 * en_docs) div n_docs").as("pct_en_milli"),
          expr("(1000 * (n_docs - n_canonical)) div n_docs").as("dup_rate_milli"))
        .orderBy(col("source"))
    }),

    "c83_plan_advisor" -> ((s, d) => {
      // the diagnostics COMPOSED into a decision — what a 100 TB planner
      // does with c81's sketch join size and b81's skew profile before
      // scheduling events ⋈ customer: broadcast if the build side is
      // provably small, salt if the probe key is skewed, else plain SMJ.
      // Every input is a deterministic integer, so the recommendation is
      // engine-reproducible (thresholds in rows/milli-units).
      val audit = graft.functions.CountMin.joinSizeAudit(
        t(s, d, "events").select(col("user_id").cast("string").as("tok")),
        t(s, d, "customer").select(col("c_custkey").cast("string").as("tok")),
        "tok", d = 4, width = 64)
      val skew = graft.operators.Scale.keySkewProfile(
        t(s, d, "events").select(col("user_id")), "user_id")
      audit.crossJoin(broadcast(skew.select(col("skew_milli"))))
        .select(col("na"), col("nb"), col("est_join"), col("skew_milli"),
          when(col("nb") <= 1000000L, lit("broadcast_build_right"))
            .when(col("skew_milli") >= 5000L, lit("salted_smj"))
            .otherwise(lit("smj")).as("strategy"))
    }),

    "c77_e2e_curation" -> ((s, d) => {
      // the operators COMPOSED as a user would run them — the "prepare
      // training shards" pipeline in one lazy plan: (1) canonicalizing
      // dedup keeps each canonical group's min-id representative (c71's
      // key, rank-1 window on the 60-bit hash); (2) a token-count
      // quality band drops fragments (c29's shape); (3) survivors pack
      // greedily into 128-token context windows per hash shard (c68).
      // Every stage is the already-audited plan; composition adds no new
      // shuffle class. Oracle = the same three stages in SQL.
      val punct = ".,!?;:()\"'"
      val canon = array_join(
        filter(split(lower(translate(coalesce(col("text"), lit("")),
          punct, " " * punct.length)), " "), x => x =!= ""), " ")
      val ranked = t(s, d, "documents")
        .select(col("doc_id"), col("text"),
          graft.functions.Text.tokenHash(canon).as("ck"),
          size(graft.functions.Text.tokens(coalesce(col("text"), lit("")))).as("n_tok"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("ck")).orderBy(col("doc_id"))))
      val survivors = ranked
        .where(col("rn") === 1 && col("n_tok").between(20, 500))
        .select(col("doc_id"), pmod(col("doc_id"), lit(8)).as("shard"), col("n_tok"))
      graft.operators.Pipeline.packGreedy(survivors, "doc_id", "n_tok", capacity = 128L)
        .select(col("doc_id"), col("shard"), col("pack"), col("n_tok"))
        .orderBy(col("doc_id"))
    }),

    "c76_top_similar_pairs" -> ((s, d) =>
      // threshold-free "worst near-dups" ranking: top-20 pairs by exact
      // integer milli-jaccard over the memoized shingle index
      // (Dedup.topSimilarPairsOf scaladoc: co-count kernel + TakeOrdered
      // per-task heaps, no full sort)
      // r17: reads the memoized docCoCounts frame (shared with c49/c52)
      Dedup.topSimilarPairsOf(docCoCounts(s, d), k = 20)
        .orderBy(col("milli_jaccard").desc, col("a"), col("b"))),

    "c75_cc_stars" -> ((s, d) =>
      // the SAME cluster assignment as c17, by the alternating
      // large-star/small-star edge contraction instead of pointer
      // jumping (Graph.connectedComponentsStars scaladoc) — one CC
      // semantics, two at-scale algorithms against one oracle, the
      // c02/c04/c67 pattern applied to graphs. Memoized c04 pair graph.
      graft.operators.Graph.connectedComponentsStars(docJaccardPairs(s, d))
        .select(col("node").as("doc_id"), col("cluster_rep"))
        .orderBy(col("doc_id"))),

    "c74_embedding_standardize" -> ((s, d) =>
      // per-dimension z-score feature standardization, milli-quantized
      // CSV output (Ann.standardizeEmbeddings scaladoc: exact micro-int
      // stats in any agg order, fixed IEEE order for mu/sigma/z, 64-row
      // stats shuffle + broadcast-back narrow apply)
      graft.operators.Ann.standardizeEmbeddings(
          t(s, d, "embeddings"), "vec_id", "embedding")
        .orderBy(col("vec_id"))),

    "c72_embedding_decontam" -> ((s, d) => {
      // semantic decontamination: training vectors flagged when cosine vs
      // ANY eval vector (the modulo-97 held-out slice) reaches 0.35 —
      // catches paraphrased leakage n-gram checks (c25/c34) miss. Exact
      // broadcast check, recall-critical so no LSH
      // (Pipeline.embeddingDecontam scaladoc)
      val emb = t(s, d, "embeddings")
      graft.operators.Pipeline.embeddingDecontam(
          emb.where(pmod(col("vec_id"), lit(97)) =!= 1),
          emb.where(pmod(col("vec_id"), lit(97)) === 1),
          "vec_id", "embedding", threshold = 0.35)
        .select(col("id").as("vec_id"), col("n_hits"))
        .orderBy(col("vec_id"))
    }),

    "c73_vocab_growth" -> ((s, d) => {
      // Heaps-law vocabulary growth: distinct tokens first seen within
      // the first N docs, at power-of-2 checkpoints — the corpus
      // diversity diagnostic (a flattening curve = diminishing new
      // content). One vocab agg keyed on the 60-bit token hash (never
      // the token string), then an 8-way explode of the vocab-sized
      // frame only
      val firstSeen = t(s, d, "documents")
        .select(col("doc_id"),
          explode(graft.functions.Text.tokens(coalesce(col("text"), lit("")))).as("tok"))
        .select(col("doc_id"), graft.functions.Text.tokenHash(col("tok")).as("th"))
        .groupBy(col("th")).agg(min(col("doc_id")).as("first_doc"))
      val cps = Seq(64L, 128L, 256L, 512L, 1024L, 2048L, 4096L, 8192L)
      firstSeen
        .select(explode(array(cps.map(lit(_)): _*)).as("checkpoint"), col("first_doc"))
        .where(col("first_doc") < col("checkpoint"))
        .groupBy(col("checkpoint")).agg(count(lit(1)).as("vocab"))
        .orderBy(col("checkpoint"))
    }),

    "c71_canonical_dedup" -> ((s, d) =>
      // normalization-aware exact dedup (lowercase + punctuation map +
      // empty-token drop, grouped on the canonical 60-bit hash — never on
      // raw text); n_variants counts distinct raw texts merged per group
      // (Dedup.canonicalExact scaladoc)
      Dedup.canonicalExact(t(s, d, "documents"), "doc_id", "text")
        .select(col("rep_id"), col("n_dups"), col("n_variants"))
        .orderBy(col("rep_id"))),

    "c70_cdc_chunks" -> ((s, d) =>
      // content-defined chunking dedup: variable chunks cut at rolling-
      // hash boundaries (insert-shift-proof, unlike fixed strides), chunk
      // identity = 60-bit hash of the chunk's ordered hash sequence,
      // per-doc dup-chunk stats (Dedup.cdcChunkDedup scaladoc: one
      // doc-id shuffle serves window + chunk agg, cross-doc agg on the
      // uniform chunk hash — linear, nothing pairwise)
      Dedup.cdcChunkDedup(t(s, d, "documents"), "doc_id", "text",
          w = 2, gearMod = 8)
        .select(col("id").as("doc_id"), col("n_chunks"), col("dup_chunks"),
          col("dup_tokens"))
        .orderBy(col("doc_id"))),

    "c69_source_keyness" -> ((s, d) =>
      // per-source over/under-represented tokens (one-cell chi-square vs
      // the corpus rate): the source-drift diagnostic before mixing.
      // Exact-long dev output; chi2 ranking doubles are bit-identical
      // across engines by the documented two-op IEEE order
      // (Pipeline.sourceKeyness scaladoc)
      graft.operators.Pipeline.sourceKeyness(
          t(s, d, "documents"), "source", "text", topK = 5)
        .orderBy(col("source"), col("rnk"))),

    "c68_pack_sequences" -> ((s, d) => {
      // greedy whole-doc packing into 128-token context windows, 8 hash
      // shards as the parallelism unit (Pipeline.packGreedy scaladoc:
      // sequential fold per shard, one exchange, O(1) state) — the
      // pretraining batch-packing step; c24 is the contiguous
      // token-budget variant that splits docs, this one never does
      val docs = t(s, d, "documents")
        .select(col("doc_id"), pmod(col("doc_id"), lit(8)).as("shard"),
          size(graft.functions.Text.tokens(coalesce(col("text"), lit("")))).as("n_tok"))
      graft.operators.Pipeline.packGreedy(docs, "doc_id", "n_tok", capacity = 128L)
        .select(col("doc_id"), col("shard"), col("pack"), col("n_tok"))
        .orderBy(col("doc_id"))
    }),

    "c67_prefix_jaccard" -> ((s, d) =>
      // SAME result set as c04 (all pairs with shingle-jaccard ≥ 0.8) via
      // the PPJoin prefix filter instead of the full inverted index: only
      // each doc's rarest-first (1−t)-prefix is indexed, so the candidate
      // join touches ~5× fewer postings and needs no hot-shingle cap for
      // exactness (Dedup.prefixJaccardPairsOf scaladoc has the pigeonhole
      // argument). Shares the memoized shingle index with c02/c04.
      Dedup.prefixJaccardPairsOf(docShingleSets(s, d), tNum = 4, tDen = 5)
        .orderBy(col("a"), col("b"))),

    "c66_kcore" -> ((s, d) =>
      // 2-core of the near-dup graph, 4 peel rounds: strips docs attached
      // to a dup community by a single borderline pair — the cohesion
      // filter above triangles (c62); bounded-round contract per
      // Graph.kCoreApprox scaladoc, memoized c04 pair graph
      graft.operators.Graph.kCoreApprox(docJaccardPairs(s, d), k = 2, rounds = 4)
        .orderBy(col("node"))),

    "c65_sorted_neighborhood" -> ((s, d) =>
      // sorted-neighborhood (merge/purge) near-dup discovery: rank the
      // corpus by its bottom-1 shingle sketch, compare each doc with its
      // 8 rank-successors, verify by exact jaccard — the windowed-sort
      // blocking alternative to banded LSH (Dedup.sortedNeighborhoodPairs
      // scaladoc: measured 28/28 recall at window=4 on sf0.001; two-phase
      // distributed rank, band equi-join, no global window).
      Dedup.sortedNeighborhoodPairs(t(s, d, "documents"), "doc_id", "text",
          window = 8, threshold = 0.8)
        .orderBy(col("a"), col("b"))),

    "c59_pq_encode" -> ((s, d) =>
      // product quantization over the embedding store: 4 sub-codebooks of
      // 16 codewords (the first-16-vectors convention), codes + the ADC
      // squared distance to query vec 0 — integer-exact end to end (see
      // Ann.pqEncode scaladoc). Zero-shuffle narrow-map encode; ~64×
      // smaller search structure than the float column. Completes the ANN
      // compression family: c38 int8 (flat), c59 PQ (codebook), c39 the
      // rerank cascade that consumes such codes.
      graft.operators.Ann.pqEncode(t(s, d, "embeddings"), "vec_id", "embedding")
        .orderBy(col("vec_id"))),

    "c60_pq_adc_rerank" -> ((s, d) => {
      // the PQ SEARCH cascade c59's codes exist for: coarse pass ranks
      // the whole corpus by integer ADC distance (reads only the 4-code
      // column at rest — the 64×-smaller structure), cuts to 100
      // candidates via TakeOrderedAndProject (per-partition heaps), and
      // only survivors fetch their float vectors for the exact cosine
      // rerank (c06 rounded-cosine pattern, c39 cascade shape). Coarse
      // stage is the zero-shuffle c59 narrow map + top-k; rerank touches
      // 100 rows. Integer ADC + 6dp-rounded per-row cosine keep every
      // compared value engine-exact.
      val emb = t(s, d, "embeddings")
      val coarse = graft.operators.Ann.pqEncode(emb, "vec_id", "embedding")
        .where(col("vec_id") =!= 0)
        .orderBy(col("adc_micro2").asc, col("vec_id").asc).limit(100)
        .select(col("vec_id"), col("adc_micro2"))
      val qv = broadcast(emb.where(col("vec_id") === 0)
        .select(col("embedding").as("qv")))
      emb.join(broadcast(coarse), Seq("vec_id"))
        .crossJoin(qv)
        .select(col("vec_id"), col("adc_micro2"),
          Similarity.cosineRounded(col("embedding"), col("qv")).as("cos"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cos").desc, col("vec_id"))))
        .orderBy(col("rank"))
    }),

    "c58_bigram_lm_score" -> ((s, d) => {
      // bigram language-model quality scoring: per doc,
      // Σ over bigram positions of floor(log2 c(w1·)) − floor(log2 c(w1 w2))
      // — the integer-exact quantization of Σ −log2 P(w2|w1), a count-based
      // LM surprisal (KenLM-style scoring without a trained model; c54's
      // floor-log2 = binary-string-length trick, no float log anywhere).
      // High = improbable word transitions (garbage/boilerplate-stitched
      // text), low = formulaic. c(w1·) counts w1 as bigram-FIRST, so the
      // conditional is a true probability (Σ_w2 c(w1 w2) = c(w1·)).
      // Plan: bigram positions shuffle ONCE on (w1,w2) for the lookup
      // join; the lookup itself is vocab²-bounded (c2 ⋈ c1 on w1, both
      // partial-aggregated); final per-doc sum shuffles on doc_id. At
      // 100 TB the head of the bigram vocabulary broadcasts and the
      // position table would be cached at ingest (three scans here).
      val pairs = docBigramsWithSource(s, d).drop("source")
      val c2 = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      val c1 = pairs.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val lk = c2.join(c1, Seq("w1"))
        .select(col("w1"), col("w2"),
          (length(conv(col("c1"), 10, 2)) - length(conv(col("c2"), 10, 2))).as("surp"))
      pairs.join(lk, Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("surp")).cast("long").as("surprisal_sum"))
        .orderBy(col("doc_id"))
    }),

    "c54_token_rarity" -> ((s, d) => {
      // token-rarity quality signal: per doc, Σ floor(log2(corpus tf))
      // over its tokens — a low sum flags documents built from rare or
      // garbage tokens (the integer-exact cousin of unigram log-prob
      // scoring; floor(log2 n) = len(binary(n))−1, identical string
      // arithmetic in both engines, no float log anywhere). The classic
      // frequency join: corpus tf is vocab-sized (shuffle on token),
      // then one partial+final per-doc aggregate. At 100 TB the head of
      // the vocabulary broadcasts and only the long tail hash-joins.
      val toks = t(s, d, "documents")
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      val tf = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
      toks.join(tf, Seq("tok"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(length(conv(col("tf"), 10, 2)) - 1).as("log_tf_sum"))
        .orderBy(col("doc_id"))
    }),

    "c53_soft_dedup_weights" -> ((s, d) => {
      // duplicate-aware training weights: instead of DROPPING near-dups
      // (c18's keep-one), keep every doc and down-weight each cluster
      // member to 1/k (integer ppm, floor div) so a 10-way duplicate
      // contributes one document's worth of gradient in aggregate — the
      // soft-dedup loss weighting. Two tiny aggregations + one join over
      // the memoized c17 cluster labels.
      val m = docClusters(s, d)
      val sizes = m.groupBy(col("cluster_rep")).agg(count(lit(1)).as("k"))
      m.join(sizes, Seq("cluster_rep"))
        .select(col("id").as("doc_id"), col("k"),
          expr("1000000L div k").as("weight_ppm"))
        .orderBy(col("doc_id"))
    }),

    "c52_minhash_calibration" -> ((s, d) =>
      // sketch-quality-as-columns (the b18/c42 pattern for minhash):
      // per exact near-dup pair, exact |∩|/|∪| NEXT TO the 64-perm
      // signature agreement — the estimator and its ground truth in one
      // hash-checked row. See Dedup.jaccardCalibrationOf. r17: reads the
      // memoized docCoCounts frame (shared with c49/c76); the shingle
      // index is still passed for the signature columns.
      Dedup.jaccardCalibrationOf(docCoCounts(s, d), docShingleSets(s, d),
          threshold = 0.8)
        .orderBy(col("a"), col("b"))),

    "c51_dedup_report" -> ((s, d) =>
      // dedup impact report: for each near-dup cluster size k, how many
      // clusters exist and how many docs a keep-one policy removes
      // (k−1 per cluster) — the ops-facing summary of a dedup pass.
      // Pure reuse of the memoized c17 cluster labels; two tiny
      // aggregations on top.
      docClusters(s, d)
        .groupBy(col("cluster_rep")).agg(count(lit(1)).as("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("k") - 1).as("docs_removed"))
        .orderBy(col("k"))),

    "c50_span_novelty" -> ((s, d) =>
      // daily-ingest gate: per batch doc (the c25-style doc_id%10==7
      // split), how many span positions carry a span the corpus has
      // never seen — re-crawls and boilerplate ingests show ~0 novelty
      // and drop out before paying full pipeline cost. Corpus is
      // scanned+hashed once, never self-paired; batch anti-joins the
      // distinct-hash index. See Dedup.spanNovelty.
      Dedup.spanNovelty(t(s, d, "documents"), "doc_id", "text",
          isNew = pmod(col("doc_id"), lit(10)) === 7, spanN = 5)
        .select(col("id").as("doc_id"), col("n_spans"), col("novel_spans"))
        .orderBy(col("doc_id"))),

    "c46_bigrams" -> ((s, d) =>
      // exact corpus-level top-50 adjacent-token bigram counts — the
      // collocation table a tokenizer-merge (BPE) or stopword analysis
      // starts from, next to c13's per-doc tf and c42's sketched
      // heavy hitters. Positional spans (NOT per-doc distinct: corpus
      // frequency needs every occurrence). One groupBy with map-side
      // partial aggregation, then TakeOrdered for the top-k — no full
      // sort; ties broken by the bigram text for a total order.
      t(s, d, "documents")
        .select(explode(Text.spanStrings(col("text"), 2)).as("bigram"))
        .groupBy(col("bigram"))
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("bigram"))
        .limit(50)),

    "c42_count_min" -> ((s, d) => {
      // count-min sketch (4 × 256 cells) over all document tokens,
      // point-estimates for the exact top-20 — the deterministic md5
      // construction makes the one-sided guarantee (est ≥ tf, always)
      // a hash-checked column, not a unit-test claim
      val toks = t(s, d, "documents")
        .select(explode(Text.tokens(col("text"))).as("tok"))
      val sketch = graft.functions.CountMin.build(toks, "tok", d = 4, width = 256)
      val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("tok")).limit(20)
      graft.functions.CountMin.estimate(sketch, top, "tok", d = 4, width = 256)
        .join(top, Seq("tok"))
        .select(col("tok"), col("tf"), col("est"), (col("est") >= col("tf")).as("ok"))
        .orderBy(col("tf").desc, col("tok"))
    }),

    "c40_cluster_centroids" -> ((s, d) =>
      // exact nano-integer centroid of every c20 semantic-dedup cluster —
      // the reproducible codebook-update step (see Ann.clusterCentroidsExact);
      // reuses the memoized cosine pair graph, so no second pairwise pass.
      // r17: consumes the memoized embClusters labels (shared with c20)
      // instead of re-running the whole CC iteration itself.
      Ann.clusterCentroidsExact(
          embClusters(s, d),
          t(s, d, "embeddings"), "vec_id", "embedding")
        .orderBy(col("cluster_rep"), col("pos"))),

    "c16_repetition" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          Text.repetitionRatio(Text.tokens(col("text")), 2).as("rep2"),
          Text.repetitionRatio(Text.tokens(col("text")), 3).as("rep3"))
        .orderBy(col("doc_id"))),

    "c13_term_freq" -> ((s, d) =>
      // corpus term frequency (SURVEY.md §2C "tf = explode + groupBy"):
      // one shuffle on the token (map-side partial counts first), top-100
      // with deterministic tiebreak.
      t(s, d, "documents")
        .select(explode(Text.tokens(col("text"))).as("tok"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("tok"))
        .limit(100)),

    "c14_mm_join" -> ((s, d) =>
      // multimodal columns: documents joined to their embedding vectors
      // (documents.doc_id ↔ embeddings.vec_id); array<float> is first-class,
      // text stats and vector stats in one row.
      t(s, d, "documents")
        .join(t(s, d, "embeddings"), col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("label"),
          size(col("embedding")).cast("long").as("dim"))
        .orderBy(col("doc_id"))),

    "c15_frame_sample" -> ((s, d) => {
      val docs = t(s, d, "documents").withColumn("payload", col("text").cast("binary"))
      Multimodal.sampleFrames(docs, "doc_id", "payload", k = 4)
        .select(col("media_id"), col("frame_idx"),
          col("features.n_bytes").as("n_bytes"), col("features.byte_sum").as("byte_sum"))
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    "c21_mm_resize" -> ((s, d) => {
      // media resize stage: nearest-neighbor byte downsample to ≤64 bytes
      // (codec stubbed like c12; the narrow binary-in/binary-out plumbing
      // is the real distributed shape)
      val docs = t(s, d, "documents").withColumn("payload", col("text").cast("binary"))
      Multimodal.resize(docs, "doc_id", "payload", target = 64)
        .select(col("media_id"), col("n_bytes"), col("r_bytes"), col("r_sum"))
        .orderBy(col("media_id"))
    }),

    "c12_multimodal" -> ((s, d) => {
      val docs = t(s, d, "documents").withColumn("payload", col("text").cast("binary"))
      Multimodal.extractFeatures(docs, "doc_id", "payload")
        .select(col("media_id"),
          col("features.n_bytes").as("n_bytes"), col("features.byte_sum").as("byte_sum"),
          col("features.h0").as("h0"), col("features.h1").as("h1"),
          col("features.h2").as("h2"), col("features.h3").as("h3"))
        .orderBy(col("media_id"))
    }),

    "c30_redact" -> ((s, d) =>
      // PII scrub stage over the event props payload (the one testdata
      // column with digit runs): emails → <EMAIL>, digit runs → <NUM>.
      // Byte-exact against the oracle's RE2 'g'-mode regexp_replace.
      t(s, d, "events")
        .select(col("event_id"), Text.redact(col("props")).as("props_scrubbed"))
        .orderBy(col("event_id"))),

    "c32_chunking" -> ((s, d) =>
      // pretokenization relayout: 64-token chunks, 8-token overlap
      // (stride 56); short docs yield exactly one chunk
      Pipeline.chunk(t(s, d, "documents"), "doc_id", "text",
          sizeTokens = 64, overlap = 8)
        .select(col("id").as("doc_id"), col("chunk_idx"),
          col("chunk_text"), col("n_tokens"))
        .orderBy(col("doc_id"), col("chunk_idx"))),

    "c31_embedding_lsh_pairs" -> ((s, d) =>
      // The 100 TB route for c05: banded hyperplane-LSH candidates + exact
      // cosine verify (sub-quadratic, no BNLJ). bits=4/tables=16 targets
      // ~0.9 expected recall at the demo threshold 0.35; recall measured vs
      // exact c05 in docs/PLANS.md. At real near-dup thresholds (≥0.8) the
      // same machinery runs with bits=8+ and a far smaller candidate space.
      Dedup.embeddingLshPairs(t(s, d, "embeddings"), "vec_id", "embedding",
          threshold = 0.35, dim = 64, bits = 4, tables = 16)
        .select(col("a"), col("b"))
        .orderBy(col("a"), col("b"))),

    "c33_target_mix" -> ((s, d) =>
      // data-recipe rebalancing: downsample-only water-filling to a target
      // language mix (40/20/20/10/10), deterministic md5 sampling; the
      // per-stratum ppm rate is part of the output so the mix math itself
      // is oracle-checked
      Pipeline.targetMix(
          t(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
          "lang", "doc_id", "n_chars",
          Map("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.1, "zh" -> 0.1))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("ppm"))
        .orderBy(col("doc_id"))),

    "c34_bloom_decontaminate" -> ((s, d) =>
      // exact 5-gram train/eval decontamination behind a Bloom prefilter:
      // the bitmap (scalar subquery) drops non-member shingles before the
      // verify join's shuffle; no false negatives ⇒ result is exactly the
      // semi-join, which is what the oracle computes. 5-gram shingles (not
      // the shared 3-gram dedup index) so a hit means copied text, not a
      // common phrase.
      Pipeline.bloomContaminated(
          Dedup.shingleSets(t(s, d, "documents"), "doc_id", "text", shingleN = 5),
          pmod(col("id"), lit(10)) === 7)
        .select(col("id").as("doc_id"))
        .orderBy(col("doc_id"))),

    "c35_source_reputation" -> ((s, d) =>
      // domain-level curation: drop every document from sources whose MEAN
      // quality is below 0.395 (cutoff sits in a clear gap between source
      // means at the test SFs); integer-exact end-to-end — pure-rational
      // nano score (no round() on doubles), long sums, integer gate — so
      // the result is bit-identical in any engine, any DuckDB version.
      // NULL text scores as '' (one empty token → qn=5e8) on BOTH sides:
      // Spark split(""," ") ≡ DuckDB string_split('',' ') ≡ [''] — keeps a
      // NULL-text doc in src_docs AND in sum(qn) identically.
      Pipeline.sourceReputation(t(s, d, "documents"), "source", "doc_id",
          Text.qualityScoreNano(coalesce(col("text"), lit(""))), minMeanNano = 395000000L)
        .orderBy(col("doc_id"))),

    "c36_incremental_dedup" -> ((s, d) =>
      // daily-ingest dedup: near-dups of a new batch (doc_id % 10 = 3)
      // against the corpus + within the batch, candidates ∝ batch size,
      // corpus never self-paired or shuffled; reuses the persisted shingle
      // index; exact-verified ⇒ oracle = exact jaccard restricted to
      // batch-touching pairs
      Dedup.incrementalMinhashPairs(docShingleSets(s, d),
          pmod(col("id"), lit(10)) === 3)
        .orderBy(col("a"), col("b"))),

    "c37_stream_dedup_parity" -> ((s, d) =>
      // batch parity for the STREAMING near-dup detector: the same
      // minhash signature-agreement criterion the stream checks in-state
      // (n_agree >= 45 ⇔ est ≥ 0.7 exactly in IEEE doubles), arrival
      // fixed to id order so the directed result is oracle-checkable;
      // StreamingSpec asserts this query's semantics equal the live
      // transformWithState operator's collected output. Cache read of
      // the memoized docSigAgreementPairs (shared with c120, r16).
      docSigAgreementPairs(s, d)
        .orderBy(col("doc_id"), col("dup_of"))),

    "c120_stream_neardup_live" -> ((s, d) =>
      // the exactly-once candidate readout a consumer MATERIALIZES from
      // the streaming minhash-LSH detector (the r16 graduation of the
      // r5 library-only surface, the b122 pattern): DISTINCT undirected
      // pairs with the stream's own emitted estimate est = n_agree/64
      // (exact in IEEE doubles — 64 = 2^6, so every value is a dyadic
      // rational both engines represent bit-identically). Direction is
      // normalized to a < b because within one micro-batch the
      // detector's emit direction follows undefined row order (the
      // scaladoc's documented consumer step is exactly this DISTINCT
      // normalization); c37 remains the directed arrival-order variant.
      // StreamingSpec drains the LIVE transformWithState detector over
      // THIS table at sf0.001 and asserts set equality with this key's
      // rows — so the driver gate + the spec together cover the
      // streaming operator end to end. Plan: identical to c37's audited
      // shape (banded self-join with the maxBucket hot-tower cap; no
      // all-pairs anywhere) plus one narrow projection — both keys are
      // cache reads of the memoized docSigAgreementPairs.
      docSigAgreementPairs(s, d)
        .select(col("dup_of").as("a"), col("doc_id").as("b"),
          (col("n_agree") / lit(64.0)).as("est"))
        .orderBy(col("a"), col("b"))),

    "c121_ann_npy_topk" -> ((s, d) => {
      // the npy vector store serving a REAL similarity workload (r16
      // VERDICT next-step #3 — b129 proved the roundtrip, b130 the
      // pruned projection; this key makes the backend CARRY a query):
      // brute-force cosine top-k, the exact c06 shape with the exact
      // c06 oracle, but with items AND queries read from the shared npy
      // pair layout via Npy.readVectors — the plan never touches
      // parquet (PlanSpec asserts), so the oracle match proves
      // store-served ANN ≡ parquet-served ANN, which only holds because
      // the layout roundtrips raw IEEE bits (b129) and cosineRounded is
      // bit-deterministic. Plan: the npy read-back is
      // numbered-repartitioned before scoring (the c104/c31
      // single-file-probe rule — this testdata's layout is ONE pair, so
      // the scoring pass would otherwise run in a single task); the
      // query side is the same 5-row frame as c06, broadcast inside
      // bruteTopK (the audited bounded-BNLJ shape, docs/PLANS.md list).
      // At scale the query side would be its own small frame rather
      // than a second store scan; reading it from the store here keeps
      // the no-parquet claim total.
      val emb = npyEmbeddings(s, d)
        .repartition(s.sessionState.conf.numShufflePartitions)
      val queries = emb.where(col("vec_id") < 5)
      Ann.bruteTopK(emb, queries, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("item_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "c122_ann_slice_rerank" -> ((s, d) => {
      // the slice path CARRYING a real consumer (r17 — b131 gates the
      // slice roundtrip; this key makes it serve a query): the PQ/ADC
      // cascade with the coarse stage reading ONLY dims [0,8) off the
      // npy store via readVectorsSlice (12.5 % of the payload
      // materialized per task) and the exact rerank reading the full
      // vectors from the same store — zero parquet scans (PlanSpec).
      // The oracle replicates the CASCADE (coarse embedding[1:8] cut to
      // top-50, full-vector rerank to top-10), not plain brute top-k —
      // the cascade is approximate exactly where slice-cosine disagrees
      // with full cosine, and the key gates that BOTH engines make the
      // same cut (6dp-rounded cosines, id tiebreaks, exact rank-50
      // boundary). Plan: Ann.sliceRerankTopK — coarse is the audited
      // bounded-broadcast shape over the repartitioned slice scan (the
      // c104 single-pair-layout rule), survivors broadcast back for the
      // full-vector fetch, item table never shuffled.
      val dir = npyEmbeddingsDir(s, d)
      val parts = s.sessionState.conf.numShufflePartitions
      val sliceItems = graft.sources.Npy.readVectorsSlice(s, dir, 0, 8)
        .select(col("id").as("vec_id"), col("vec").as("embedding"))
        .repartition(parts)
      val full = npyEmbeddings(s, d).repartition(parts)
      val queries = full.where(col("vec_id") < 5)
      Ann.sliceRerankTopK(sliceItems, full, queries, "vec_id", "embedding",
        sliceFrom = 0, sliceLen = 8, k = 10, candidates = 50)
        .select(col("query_id"), col("item_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "c123_ann_npy_ivf" -> ((s, d) => {
      // the npy store serving the SCALE ANN path (completing the
      // store-served progression: c121 = brute parity, c122 = the
      // slice cascade, this = IVF — the cell-blocked shape a 100 TB
      // deployment actually runs): the exact c07 semantics with the
      // exact c07 oracle, but items, queries AND the centroid codebook
      // all read from the shared npy pair layout — zero parquet scans
      // (PlanSpec), so the oracle match proves the store serves the
      // bucketed candidate generator bit-for-bit, not just the brute
      // scorer. Plan: the item side is numbered-repartitioned off the
      // single-pair layout before the cell-assignment BNLJ (the
      // c104/c31 rule); queries and centroids derive from the RAW
      // (un-repartitioned) read — both end inside broadcast builds
      // (≤5 rows / 1-in-97 codebook), so shipping the full read
      // through an exchange first would be pure wasted shuffle. Cell
      // assignment is the map-side max_by aggregate (the r17
      // Ann.assignNearest shape); the cell join probes with the
      // nprobe-fanned 5-row query side.
      val raw = npyEmbeddings(s, d)
      val emb = raw.repartition(s.sessionState.conf.numShufflePartitions)
      val queries = raw.where(col("vec_id") < 5)
      val centroids = raw.where(pmod(col("vec_id"), lit(97)) === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
      Ann.ivfTopK(emb, queries, centroids, "vec_id", "embedding", k = 10, nprobe = 2)
        .select(col("query_id"), col("item_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "c38_embedding_quantize" -> ((s, d) =>
      // at-rest int8 compression for the embedding store: max-abs scaling,
      // round-half-up via floor (bit-exact IEEE in every engine — never
      // round()), reconstruction cosine bound-checked as a boolean. The
      // int8 codes travel to the gate as one CSV string per vector: the
      // driver's compare sorts/hashes pandas cells, and an array-typed
      // cell is unhashable there (the r5 c38 failure) — same codes, flat
      // representation.
      graft.operators.Ann.quantizeInt8(t(s, d, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), col("scale"),
          concat_ws(",", transform(col("q"), _.cast("string"))).as("q_csv"),
          col("recon_ok"))
        .orderBy(col("vec_id"))))

}
