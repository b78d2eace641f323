package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.{Ann, Dedup, Multimodal, Nested, Pipeline, Scale, Variant}
import graft.functions.{Similarity, Text}
import graft.sources.Tables
import graft.streaming.Streams
import graft.EntryShared._

/** §2C query-builder family of the [[SparkEntry]] driver contract — the
  * LLM-pipeline extensions (mechanical r15 split; bodies verbatim).
  * The DuckDB oracle twins live in [[OraclesC]] (r16 seam). */
private[graft] object EntryC {

  // =================================================================
  // §2C — LLM-pipeline extensions
  // =================================================================

  private[graft] val cQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c01_dedup_exact" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents"), "text", "doc_id")
        .select(col("rep_id"), col("n_dups"))
        .orderBy(col("rep_id"))),

    "c02_dedup_minhash" -> ((s, d) =>
      Dedup.minhashPairsOf(docShingleSets(s, d),
          numPerm = 64, bands = 16, threshold = 0.8)
        .orderBy(col("a"), col("b"))),

    "c03_dedup_simhash" -> ((s, d) =>
      Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text", maxHamming = 3)
        .select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
        .orderBy(col("a"), col("b"))),

    "c04_ngram_jaccard" -> ((s, d) =>
      docJaccardPairs(s, d)
        .orderBy(col("a"), col("b"))),

    "c05_dedup_embedding" -> ((s, d) =>
      embeddingPairGraph(s, d)
        .select(col("a"), col("b"))
        .orderBy(col("a"), col("b"))),

    "c06_ann_brute" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Ann.bruteTopK(emb, queries, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("item_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "c07_ann_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      val centroids = emb.where(pmod(col("vec_id"), lit(97)) === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
      Ann.ivfTopK(emb, queries, centroids, "vec_id", "embedding", k = 10, nprobe = 2)
        .select(col("query_id"), col("item_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "c22_ann_lsh" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Ann.lshTopK(emb, queries, "vec_id", "embedding", dim = 64, bits = 5, k = 10)
        .select(col("query_id"), col("item_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "c39_ann_int8_rerank" -> ((s, d) => {
      // coarse int8-code scan → exact float rerank of the 50 survivors
      // per query; see Ann.int8Rerank for the determinism + I/O story
      val emb = t(s, d, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Ann.int8Rerank(emb, queries, "vec_id", "embedding", k = 10, candidates = 50)
        .select(col("query_id"), col("item_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "c23_split_assign" -> ((s, d) =>
      Pipeline.split(t(s, d, "documents").select(col("doc_id")), "doc_id")
        .orderBy(col("doc_id"))),

    "c24_pack_shards" -> ((s, d) =>
      Pipeline.packByBudget(
        t(s, d, "documents").select(col("doc_id"),
          Text.tokenCount(col("text")).cast("long").as("ws_tokens")),
        "doc_id", "ws_tokens", budget = 10000L)
        .orderBy(col("doc_id"))),

    "c25_contamination" -> ((s, d) =>
      Pipeline.contamination(docShingleSets(s, d),
          pmod(col("id"), lit(10)) === 7, minShingles = 5)
        .orderBy(col("train_id"))),

    "c26_stratified_sample" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), Text.langId(col("text")).as("lang"))
      Pipeline.stratifiedSample(docs, col("lang"), "doc_id", Map("en" -> 30))
        .orderBy(col("doc_id"))
    }),

    "c27_dedup_best" -> ((s, d) => {
      val scores = t(s, d, "documents")
        .select(col("doc_id"), Text.qualityScore(col("text")).as("score"))
      Pipeline.bestRepresentative(docClusters(s, d), scores)
        .orderBy(col("cluster_rep"))
    }),

    "c28_boilerplate" -> ((s, d) =>
      // cross-document boilerplate: shingles shared by >= 5 docs (reuses
      // the persisted shingle index; cross-doc counterpart of c16)
      Pipeline.boilerplateStats(docShingleSets(s, d), minDf = 5)
        .select(col("id").as("doc_id"), col("n_sh"), col("n_boiler"), col("boiler_ratio"))
        .orderBy(col("doc_id"))),

    "c29_length_filter" -> ((s, d) =>
      // per-language length-band trim: drop each lang's shortest/longest
      // 5% by n_chars (percentile_disc band, integer-exact cutoffs)
      Pipeline.lengthBandFilter(t(s, d, "documents"), "lang", "n_chars")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))),

    "c41_quality_gate" -> ((s, d) =>
      // keep each language's top-half quality (milli-bucketed integer
      // rank cut — see Pipeline.qualityGate for why not exact percent_rank)
      Pipeline.qualityGate(
          t(s, d, "documents").select(col("doc_id"), col("lang"),
            Text.qualityScoreNano(col("text")).as("qn")),
          "lang", col("qn"), keepPct = 50)
        .select(col("doc_id"), col("lang"), col("qn"), col("qmilli"))
        .orderBy(col("doc_id"))),

    "c08_lang_id" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), Text.langId(col("text")).as("pred_lang"))
        .orderBy(col("doc_id"))),

    "c09_quality" -> ((s, d) => {
      val toks = Text.tokens(col("text"))
      t(s, d, "documents")
        .select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_distinct"),
          size(filter(toks, tk => tk.isInCollection(Text.stopwordsEn))).cast("long").as("n_stop"),
          Text.qualityScore(col("text")).as("score"))
        .orderBy(col("doc_id"))
    }),

    "c10_token_count" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          Text.tokenCount(col("text")).cast("long").as("ws_tokens"),
          Text.subwordCount(col("text")).cast("long").as("subwords"))
        .orderBy(col("doc_id"))),

    "c11_fingerprint" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), Text.fingerprint(Text.tokens(col("text"))).as("fp"))
        .orderBy(col("doc_id"))),

    "c17_dedup_clusters" -> ((s, d) =>
      // near-dup pairs -> connected components -> min-id representative
      docClusters(s, d)
        .select(col("id").as("doc_id"), col("cluster_rep"))
        .orderBy(col("doc_id"))),

    "c18_dedup_apply" -> ((s, d) => {
      // the actual dedup output: keep every document that is not a
      // non-representative member of a near-dup cluster
      val docs = t(s, d, "documents")
      val members = docClusters(s, d)
        .where(col("id") =!= col("cluster_rep"))
        .select(col("id"))
      docs.join(members, docs("doc_id") === members("id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    "c19_tfidf" -> ((s, d) => {
      // corpus TF-IDF, top-3 terms per document. Arithmetic is kept to
      // IEEE +,*,/ (no transcendental log) so the score ordering is
      // bit-identical across engines: score = tf · N / df, which ranks
      // the same as tf · idf for any monotone idf of N/df.
      val docs = t(s, d, "documents")
      val tf = docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val scored = tf.join(dfreq, "tok").crossJoin(broadcast(n))
        .withColumn("score", col("tf").cast("double") * col("n") / col("df"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("tok"))
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("rank"))
        .orderBy(col("doc_id"), col("rank"))
    }),

    "c20_embedding_clusters" -> ((s, d) =>
      // semantic dedup: connected components over the exact cosine pair
      // graph at a tighter threshold — derived for free from the memoized
      // c05 tile join (its cos column), so no second pairwise pass; the
      // tighter cut keeps dedup groups tight instead of one giant blob.
      // r17: the cluster frame itself is memoized (embClusters) — c40's
      // centroid step consumes the identical labels, so the CC iteration
      // runs once per (session, sfDir) instead of twice.
      embClusters(s, d)
        .select(col("id").as("vec_id"), col("cluster_rep"))
        .orderBy(col("vec_id"))),

    "c43_weighted_sample" -> ((s, d) =>
      // 100 docs drawn ∝ token count (longer docs proportionally more
      // likely) — the token-budget-aware counterpart of c26's uniform
      // stratified draw; see Pipeline.weightedSample for the integer
      // ticket construction
      Pipeline.weightedSample(
          t(s, d, "documents").select(col("doc_id"),
            Text.tokenCount(col("text")).cast("long").as("ws_tokens")),
          "doc_id", col("ws_tokens"), k = 100)
        .orderBy(col("tick_min"), col("doc_id"))),

    "c44_dup_spans" -> ((s, d) =>
      // substring-level duplication signal: per doc, total 5-token span
      // positions and how many of them occur in ≥ 2 distinct docs — the
      // span/line-dedup quality feature (a doc can be pair-unique yet
      // mostly built of copied spans). See Dedup.dupSpanStats for the
      // hash-only shuffle story.
      Dedup.dupSpanStats(t(s, d, "documents"), "doc_id", "text", spanN = 5)
        .select(col("id").as("doc_id"), col("n_spans"), col("dup_spans"))
        .orderBy(col("doc_id"))),

    "c45_pagerank" -> ((s, d) => {
      // centrality weighting over the real customer↔supplier bipartite
      // trade graph (EntryShared.tradeEdges). 3 fixed rounds of exact
      // integer PageRank — see Graph.pageRankNano for the formula and
      // per-round shuffle cost.
      val edges = tradeEdges(s, d)
      val nodes = t(s, d, "customer")
        .select((col("c_custkey") * 2).as("node"))
        .union(t(s, d, "supplier").select((col("s_suppkey") * 2 + 1).as("node")))
      graft.operators.Graph.pageRankNano(edges, nodes, iters = 3)
        .orderBy(col("node"))
    }),

    "c47_dup_run" -> ((s, d) =>
      // longest copied-block extent per doc: max run of consecutive
      // duplicated 5-token span positions (run r = copied substring of
      // r+4 tokens) — the "strip long exact substrings" dedup policy
      // signal, finer than c44's position counts. See Dedup.dupSpanRuns.
      Dedup.dupSpanRuns(t(s, d, "documents"), "doc_id", "text", spanN = 5)
        .select(col("id").as("doc_id"), col("max_dup_run"))
        .orderBy(col("doc_id"))),

    "c48_source_overlap" -> ((s, d) =>
      // provenance matrix: distinct 5-token spans shared per source pair
      // (who copies from whom) — the view that decides where
      // cross-source dedup effort goes. See Dedup.sourceSpanOverlap:
      // per-hash join fan-out bounded by |sources|, never doc count.
      Dedup.sourceSpanOverlap(t(s, d, "documents"), "source", "text", spanN = 5)
        .orderBy(col("source_a"), col("source_b"))),

    "c49_containment" -> ((s, d) =>
      // directed near-containment (≥90% of the contained doc's distinct
      // shingles inside the container) — catches short-doc-quoted-in-
      // long-doc dedup cases whose symmetric jaccard is tiny. Pure
      // integer threshold; capped inverted index. See
      // Dedup.containmentPairs. r17: reads the memoized docCoCounts
      // frame — the posting self-join runs once per (session, sfDir)
      // for c49/c52/c76 instead of once per key.
      Dedup.containmentPairsOf(docCoCounts(s, d), containPct = 90)
        .orderBy(col("contained"), col("container"))),

    "c55_leakproof_split" -> ((s, d) => {
      // leakage-proof train/val/test split: near-dup docs MUST share a
      // split — splitting by doc id (c23) can put one copy of a near-
      // dup pair in train and the other in test, silently inflating
      // eval. Split key = cluster representative for clustered docs
      // (own id otherwise), then the same md5 bucketing as c23 — so
      // whole clusters move between splits as a unit. One left join of
      // the memoized cluster labels onto the doc list; everything else
      // is the narrow c23 map.
      val docs = t(s, d, "documents").select(col("doc_id"))
      val m = docClusters(s, d).select(col("id").as("doc_id"), col("cluster_rep"))
      docs.join(m, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_rep"), col("doc_id")).as("skey"))
        .transform(df => Pipeline.split(df, "skey"))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    }),

    "c56_bm25_rank" -> ((s, d) =>
      // integer-exact BM25-lite retrieval scoring against a fixed term
      // bag (one rare + three head terms, so the idf spread does visible
      // work): per-(doc, term) rational score with denominators cleared
      // to a single BIGINT floor division, corpus stats via scalar
      // subqueries, idf as a |terms|-row broadcast — identical bits in
      // any engine (see Pipeline.bm25LiteMilli).
      Pipeline.bm25LiteMilli(t(s, d, "documents"), "doc_id", "text",
          Seq("dup", "merge", "stream", "window"))
        .orderBy(col("doc_id"))),

    "c57_hybrid_rrf" -> ((s, d) => {
      // hybrid retrieval fusion: c56's integer BM25 leg (lexical) and a
      // dense leg (6dp-rounded cosine to a fixed query vector, the green
      // c06 cross-engine pattern) are each cut to top-100 by
      // TakeOrderedAndProject, densely ranked, and fused by
      // reciprocal-rank fusion — Σ 10⁹ div (60 + rank) BIGINT rationals,
      // absent leg ⇒ 0 (Pipeline.rrfFuse). The one-row query vector is a
      // broadcast cross join (bounded-broadcast, audited in
      // docs/PLANS.md); the fusion join touches only the two 100-row
      // legs on doc_id. documents.doc_id ≡ embeddings.vec_id by
      // construction (TESTDATA.md synthetic corpus).
      val bmLeg = Pipeline.topKRanks(
        Pipeline.bm25LiteMilli(t(s, d, "documents"), "doc_id", "text",
            Seq("dup", "merge", "stream", "window"))
          .select(col("doc_id"), col("score_milli")),
        "doc_id", "score_milli", 100, "bm25_rank")
      val emb = t(s, d, "embeddings")
      val qv = broadcast(
        emb.where(col("vec_id") === 0).select(col("embedding").as("qv")))
      val cosLeg = Pipeline.topKRanks(
        emb.crossJoin(qv).select(col("vec_id").as("doc_id"),
          Similarity.cosineRounded(col("embedding"), col("qv")).as("cos")),
        "doc_id", "cos", 100, "cos_rank")
      Pipeline.rrfFuse(Seq(bmLeg, cosLeg), "doc_id")
        .withColumn("fused_rank", row_number().over(
          Window.orderBy(col("rrf_ppb").desc, col("doc_id"))))
        .orderBy(col("fused_rank"))
    }),

    "c61_source_cap" -> ((s, d) =>
      // per-source document cap: at most 5 docs per source, best-first by
      // the c09 quality score (engine-identical doubles, doc_id
      // tiebreak) — the "no single domain dominates the mix" curation
      // guard. Rank-filter shape → WindowGroupLimit: per-task top-5
      // heaps per source BEFORE the shuffle (plan-asserted).
      Pipeline.capPerGroup(
          t(s, d, "documents")
            .select(col("doc_id"), col("source"),
              Text.qualityScore(col("text")).as("score")),
          col("source"), Seq(col("score").desc, col("doc_id").asc), n = 5)
        .orderBy(col("source"), col("rank"))),

    "c62_triangles" -> ((s, d) =>
      // per-node triangle counts over the near-dup pair graph — cluster
      // cohesion (tight cliques vs chains glued by one borderline pair).
      // Degree-oriented wedge join: no hub blow-up, equi-joins only
      // (Graph.triangleCounts scaladoc); reuses the memoized c04 pair
      // graph, so no second shingle pass.
      graft.operators.Graph.triangleCounts(docJaccardPairs(s, d))
        .orderBy(col("node"))),

    "c63_semantic_dedup" -> ((s, d) => {
      // SemDeDup (cluster-then-dedup): nearest-centroid cells (the c07
      // modulo-97 centroid convention), keep-lowest-id greedy within each
      // cell at the c05 cosine threshold — the hard-bounded-work point on
      // the embedding-dedup frontier (exact c05 / LSH c31 / blocked
      // c63). Centroids broadcast; shuffles only on cell and id.
      val emb = t(s, d, "embeddings")
      val cent = emb.where(col("vec_id") % 97 === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
      Dedup.semanticDedupBlocked(emb, "vec_id", "embedding", cent,
          threshold = 0.35)
        .select(col("id").as("vec_id"), col("cell"), col("kept"))
        .orderBy(col("vec_id"))
    }),

    "c64_ref_lm_filter" -> ((s, d) => {
      // CCNet-style importance filtering: score EVERY document under a
      // bigram LM whose counts come from a REFERENCE slice only (sources
      // src0–src3 — the "clean corpus" stand-in); low surprisal = close
      // to the reference domain. The c58 integer floor-log2 arithmetic
      // with +1 smoothing: surp = flog2(r1+1) − flog2(r12+1) ≥ 0 (r12 ≤
      // r1 structurally); an unseen transition after a common reference
      // context scores high, an unseen context scores 0 (uninformative —
      // the backoff-to-ignorance rule, documented). Plan: reference
      // lookups are vocab-bounded partial aggregates; the score join
      // shuffles the position table once on (w1,w2) + once on w1; per-doc
      // sum on doc_id. At 100 TB the reference-head lookup broadcasts.
      val bg = docBigramsWithSource(s, d)
      val all = bg.drop("source")
      val ref = bg.where(col("source").isin("src0", "src1", "src2", "src3"))
        .drop("source")
      val r2 = ref.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("r2"))
      val r1 = ref.groupBy(col("w1")).agg(count(lit(1)).as("r1"))
      all.join(r2, Seq("w1", "w2"), "left").join(r1, Seq("w1"), "left")
        .select(col("doc_id"),
          (length(conv(coalesce(col("r1"), lit(0L)) + 1, 10, 2))
            - length(conv(coalesce(col("r2"), lit(0L)) + 1, 10, 2))).as("surp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("surp")).cast("long").as("ref_surprisal_sum"))
        .withColumn("surp_milli",
          expr("(1000 * ref_surprisal_sum) div n_bigrams"))
        .orderBy(col("doc_id"))
    }),

    "c78_stream_cms_parity" -> ((s, d) =>
      // batch parity for the STREAM-maintained count-min sketch
      // (Streams.streamCountMinCells over user ids, d=4 × width=64):
      // cell addition commutes, so the drained complete-mode stream
      // equals this batch build cell-for-cell (StreamingSpec). The
      // engine-portable md5 bucket hash makes the whole grid
      // oracle-checkable — exact cells, not just bounds.
      graft.functions.CountMin.build(
          t(s, d, "events").select(col("user_id").cast("string").as("tok")),
          "tok", d = 4, width = 64)
        .orderBy(col("r"), col("bucket"))),

    "c79_cms_join_size" -> ((s, d) =>
      // self-join size (F2) read off the c78 count-min cells — the
      // query-planner "will this join explode, do I need b47 salting"
      // estimate from d·width integers instead of running the join.
      // 150 distinct users > width 64 forces collisions, so est > exact
      // strictly (non-vacuous); both bound booleans are theorem-
      // guaranteed and the estimate itself is a deterministic integer
      // under the portable md5 bucket rule (CountMin.selfJoinSizeAudit
      // scaladoc)
      graft.functions.CountMin.selfJoinSizeAudit(
        t(s, d, "events").select(col("user_id").cast("string").as("tok")),
        "tok", d = 4, width = 64)),

    "b80_heavy_hitters" -> ((s, d) => {
      // Misra–Gries bounded-state heavy hitters over the lang column
      // (en ≈ 44% by construction — a real heavy hitter at every sf):
      // k = 2 < 5 distinct values forces constant evictions/merge
      // truncations, and the output is the THEOREM-GUARANTEED audit
      // (capture of every lang with cnt·(k+1) > n; error ≤ n/(k+1)) —
      // never the order-dependent raw estimates (Folds.MisraGries
      // scaladoc). Oracle = exact counts + literal TRUE booleans.
      val docs = t(s, d, "documents").select(coalesce(col("lang"), lit("")).as("lang"))
      val mg = udaf(new graft.functions.Folds.MisraGries(2))
      val summary = docs.agg(mg(col("lang")).as("mg"))
        .select(explode(col("mg.entries")).as("e"))
        .select(col("e.tok").as("lang"), col("e.est").as("est"))
      val est0 = coalesce(col("est"), lit(0L))
      docs.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
        .join(summary, Seq("lang"), "left")
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
        .select(col("lang"), col("cnt"),
          (col("cnt") * 3 > col("n")).as("is_heavy"),
          (!(col("cnt") * 3 > col("n")) || est0 > 0).as("captured"),
          (est0 <= col("cnt") && (col("cnt") - est0) * 3 <= col("n")).as("bound_ok"))
        .orderBy(col("lang"))
    }),

    "c80_jl_projection" -> ((s, d) =>
      // hash-sign Johnson–Lindenstrauss projection 64 → 16 dims — the
      // seed-free, matrix-free pre-LSH dimensionality reducer
      // (Ann.jlProjectHashSign scaladoc: sign matrix computed once on a
      // 1-row broadcast, per-row integer fold, zero shuffle)
      graft.operators.Ann.jlProjectHashSign(
          t(s, d, "embeddings"), "vec_id", "embedding", outDims = 16)
        .orderBy(col("vec_id"), col("j"))),

    "c81_cms_join_size_2t" -> ((s, d) =>
      // cross-table join-size estimate — |events ⋈ customer| on the user
      // key as the INNER PRODUCT of two c78-style sketches (min_r over
      // Σ_b cellA·cellB): the two-100-TB-tables planner estimate from
      // 2·d·width integers, no raw-row join executed
      // (CountMin.joinSizeAudit scaladoc). Domains overlap partially
      // (user_id 0..149 vs c_custkey 1..N), so exact_join is nontrivial.
      graft.functions.CountMin.joinSizeAudit(
        t(s, d, "events").select(col("user_id").cast("string").as("tok")),
        t(s, d, "customer").select(col("c_custkey").cast("string").as("tok")),
        "tok", d = 4, width = 64)),

    "b81_skew_profile" -> ((s, d) =>
      // key-skew diagnostic (Scale.keySkewProfile scaladoc): max/mean
      // ratio + Gini over the key distribution, integer-exact and
      // tie-insensitive — what you read before choosing b47 salting /
      // AQE skew split, next to c79's join-size estimate
      graft.operators.Scale.keySkewProfile(
        t(s, d, "events").select(col("user_id")), "user_id")),

    "c82_jl_lsh_pairs" -> ((s, d) =>
      // the scale path COMPOSED end-to-end: JL 64→16 integer projection
      // (c80) → exact-integer hyperplane signatures → banded bucket
      // self-join → in-stream exact cosine verify on the ORIGINAL
      // vectors, c05's 6dp contract (Ann.jlLshPairs scaladoc). Fully
      // deterministic — the oracle replays the identical integer
      // signature pipeline, so this checks the composition exactly, not
      // just its recall.
      graft.operators.Ann.jlLshPairs(
          t(s, d, "embeddings"), "vec_id", "embedding", threshold = 0.35)
        .orderBy(col("a"), col("b"))),

    "b82_event_paths" -> ((s, d) => {
      // sequential path mining: the top-10 most common 3-event sequences
      // (the product-analytics generalization of b50's fixed funnel) —
      // ONE window pass per user (two leads over the same (ts, event_id)
      // total order), partial-aggregated path counts, TakeOrdered cut.
      // Ties broken by the full path for a total order.
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("e1"))
        .withColumn("e2", lead(col("e1"), 1).over(w))
        .withColumn("e3", lead(col("e1"), 2).over(w))
        .where(col("e2").isNotNull && col("e3").isNotNull)
        .groupBy(col("e1"), col("e2"), col("e3"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("e1"), col("e2"), col("e3"))
        .limit(10)
    }),

    "b83_analyze_stats" -> ((s, d) =>
      // ANALYZE-style catalog statistics over orders in one pass
      // (Scale.analyzeStats scaladoc: exact NDV via the Expand one-pass
      // shape; canonical BIGINT envelopes — cents, epoch days — dodge
      // float/collation traps)
      graft.operators.Scale.analyzeStats(t(s, d, "orders"), Seq(
          "o_orderkey" -> col("o_orderkey"),
          "o_custkey" -> col("o_custkey"),
          "o_totalprice_cents" -> floor(col("o_totalprice") * 100 + 0.5),
          "o_orderdate_day" -> datediff(to_date(col("o_orderdate")),
            lit("1970-01-01").cast("date"))))
        .orderBy(col("col_name"))),

    "b87_snapshot_diff" -> ((s, d) => {
      // data-versioning audit: diff two table versions (b66's base
      // snapshot vs its merged successor) into added / removed /
      // changed / unchanged per key — run against mergeApply's own
      // output, the diff RECOVERS the changelog classification
      // (Merge.snapshotDiff scaladoc). One full-outer join; null-safe
      // payload equality, no arithmetic.
      val cutoff = lit("2024-01-16").cast("timestamp")
      def compact(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("user_id"))
        .agg(max_by(struct(col("event_type"), col("value")),
          struct(col("ts"), col("event_id"))).as("st"))
        .select(col("user_id"), col("st.event_type").as("event_type"),
          col("st.value").as("value"))
      val ev = t(s, d, "events")
      val base = compact(ev.where(col("ts") < cutoff)).drop("event_type")
      val changes = compact(ev.where(col("ts") >= cutoff))
        .select(col("user_id"), col("value"),
          when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"))
      val neu = graft.operators.Merge.mergeApply(base, changes, "user_id")
        .select(col("user_id"), col("value"))
      graft.operators.Merge.snapshotDiff(base, neu, "user_id")
        .orderBy(col("user_id"))
    }),

    "c89_ann_precision" -> ((s, d) => {
      // retrieval evaluation ON the engine: precision@10 of the
      // multiprobe-LSH ANN (c22) against the exact brute-force top-10
      // (c06), per query — both sides deterministic (6dp-rounded cosine,
      // id tiebreak), so the hit counts are oracle-exact, unlike a
      // sampled recall estimate. The eval every ANN deployment needs
      // before trusting its index.
      val emb = t(s, d, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      val brute = Ann.bruteTopK(emb, queries, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("item_id"))
      val lsh = Ann.lshTopK(emb, queries, "vec_id", "embedding",
          dim = 64, bits = 5, k = 10)
        .select(col("query_id"), col("item_id"))
      val hits = brute.join(lsh, Seq("query_id", "item_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("h"))
      queries.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("h"), lit(0L)).as("hits_at_10"))
        .orderBy(col("query_id"))
    }),

    "b86_bucketed_agg" -> ((s, d) => {
      // the aggregation half of the b37 at-rest-layout story: a groupBy
      // on the BUCKET KEY of a bucketed table plans with ZERO hash
      // exchange — the scan's bucket distribution already satisfies the
      // aggregate's requirement, so a 100 TB per-key rollup on a
      // bucketed-at-ingest table is shuffle-free (plan-asserted)
      val ob = ordersByCust(s, d)
      ob.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
        .orderBy(col("o_custkey"))
    }),

    "b90_grouped_mad" -> ((s, d) => {
      // per-language median + MAD of document length — the GROUPED
      // robust stats b88's scaladoc routes here: both medians via
      // Scale.groupedMedianDisc (cumulative window partitioned by
      // group — no per-group row buffering), deviations joined through
      // a broadcast of the tiny per-group median table.
      val docs = t(s, d, "documents")
        .select(coalesce(col("lang"), lit("")).as("lang"), col("n_chars"))
      val med = graft.operators.Scale.groupedMedianDisc(docs, "lang", "n_chars")
        .withColumnRenamed("med", "med_chars")
      val dev = docs.join(broadcast(med), Seq("lang"))
        .select(col("lang"), abs(col("n_chars") - col("med_chars")).as("ad"))
      val mad = graft.operators.Scale.groupedMedianDisc(dev, "lang", "ad")
        .withColumnRenamed("med", "mad_chars")
      med.join(mad, Seq("lang")).orderBy(col("lang"))
    }),

    "b89_scd2_asof" -> ((s, d) => {
      // point-in-time (AS OF) read over the b60 SCD2 dimension: each
      // user's row whose validity interval contains T — computed the
      // scale-right way: the time predicate pushes into the SCAN
      // (plan-asserted) and one max_by compaction per user replaces
      // interval construction entirely; provably equal to filtering
      // b60's [from, to) intervals because max_by on (ts, event_id) ≤ T
      // picks exactly the interval containing T under b60's tie order.
      val cutoff = lit("2024-01-16").cast("timestamp")
      t(s, d, "events").where(col("ts") <= cutoff)
        .groupBy(col("user_id"))
        .agg(max_by(struct(col("event_id").as("eid"), unix_micros(col("ts")).as("vf")),
          struct(col("ts"), col("event_id"))).as("st"))
        .select(col("user_id"), col("st.eid").as("event_id"),
          col("st.vf").as("valid_from_us"))
        .orderBy(col("user_id"))
    }),

    "b88_mad_robust" -> ((s, d) => {
      // median absolute deviation — the robust scale estimate b75's
      // winsorize pairs with (outlier gates as med ± k·MAD survive the
      // heavy tails that wreck stddev): exact integer cents, two
      // percentile_disc passes with the 1-row median broadcast between
      // them. percentile_disc buffers per group — fine for ONE global
      // group; grouped variants at 100 TB go through b71's cumulative-
      // window trick instead (see c29's note). percentile_disc returns
      // DOUBLE; the inputs are exact longs so the cast back to long is
      // lossless — and required, because the oracle emits BIGINT and
      // the driver hashes rendered types (r8's one red cell).
      val cents = t(s, d, "lineitem")
        .select(floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("v"))
      val med = cents
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)")
          .cast("long").as("med"))
      cents.crossJoin(broadcast(med))
        .select(abs(col("v") - col("med")).as("ad"), col("med"))
        .agg(max(col("med")).as("median_cents"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY ad)")
            .cast("long").as("mad_cents"),
          count(lit(1)).as("n"))
    }),

    "c100_join_order" -> ((s, d) =>
      // the c83 planner story at the MULTI-WAY level: all three pairwise
      // join sizes of (events, orders, customer) on the shared customer
      // key estimated from CMS inner products (2·d·width integers per
      // table, no raw join executed), and join_first = the smallest
      // estimated intermediate — the greedy first step of cost-based
      // join reordering, reproduced bit-for-bit by the oracle
      graft.functions.CountMin.joinOrderAdvisor(custKeySketches(s, d))
        .orderBy(col("left_table"), col("right_table"))),

    "c101_temperature_mix" -> ((s, d) =>
      // temperature-scaled mixture sampling (T=2): kept mass per lang
      // ∝ sqrt(w_lang) — the multilingual exponent-smoothing recipe as a
      // downsample-only pass. The water-filling normalizer cancels
      // (Pipeline.temperatureMix scaladoc), so the ONLY float ops are
      // correctly-rounded IEEE sqrt/div/mul in a fixed order — the c33
      // determinism discipline with nothing left to order. md5 ppm
      // bucketing; the per-stratum ppm is in the output so the mix math
      // itself is oracle-checked.
      Pipeline.temperatureMix(
          t(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
          "lang", "doc_id", "n_chars")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("ppm"))
        .orderBy(col("doc_id"))),

    "c102_hard_negatives" -> ((s, d) => {
      // contrastive hard-negative mining: per query vector, the top-10
      // nearest items of a DIFFERENT label (near-miss negatives — what
      // an embedding trainer pairs against positives). The c06 broadcast
      // + window shape with the label-inequality predicate evaluated
      // row-local inside the broadcast join; ranks are the output (the
      // c06 float discipline: rounded cosine breaks ties before id).
      val emb = t(s, d, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      graft.operators.Ann.hardNegatives(emb, queries, "vec_id", "embedding",
          "label", k = 10)
        .select(col("query_id"), col("item_id"), col("item_label"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "c103_keep_best" -> ((s, d) =>
      // dedup survivorship policy: within each canonical-dup group keep
      // the best member by (n_chars desc, doc_id asc) — the "keep the
      // longest variant" rule, vs c71's min-id representative. One
      // shuffle on the 60-bit canonical hash; rank + group size share
      // one window partitioning.
      graft.operators.Dedup.keepBest(
          t(s, d, "documents"), "doc_id", "text", "n_chars")
        .orderBy(col("doc_id"))),

    "b102_funnel4" -> ((s, d) => {
      // 4-stage ordered funnel (view → click → signup → purchase): the
      // N-stage generalization of b94's kernel in the oracle gate, not
      // just unit tests — same ONE user shuffle shared by all four
      // chained conditional-min windows, same stack unpivot of the one
      // materialized count row (a union would re-derive the staged
      // pipeline per branch). Streams.funnelStagesWithState runs the
      // identical machine on a stream at any N.
      val staged = graft.operators.Series.funnelStageTimes(
        t(s, d, "events"), "user_id", "event_type", "ts",
        Seq("view", "click", "signup", "purchase"))
      val counts = staged.agg(
        count(col("s1")).as("u1"), count(col("s2")).as("u2"),
        count(col("s3")).as("u3"), count(col("s4")).as("u4"))
      counts.select(expr(
        "stack(4, " +
          "1, 'view',     u1, (u1 * 1000000) div nullif(u1, 0), " +
          "2, 'click',    u2, (u2 * 1000000) div nullif(u1, 0), " +
          "3, 'signup',   u3, (u3 * 1000000) div nullif(u1, 0), " +
          "4, 'purchase', u4, (u4 * 1000000) div nullif(u1, 0)) " +
          "AS (stage, event_type, users, conv_ppm)"))
        .orderBy(col("stage"))
    }),

    "b103_tpch_q6" -> ((s, d) => {
      // TPC-H Q6 shape (forecast revenue change): the pure-scan query —
      // every predicate on a RAW column so all three reach the parquet
      // reader (date range, discount band, quantity cut; PushedFilters
      // carries them all — double literals compare exactly against the
      // stored doubles in both engines), one map-side partial aggregate,
      // a 1-row final. Zero joins, zero wide shuffles: at 100 TB this is
      // the scan-bound query AQE cannot improve and pushdown decides.
      // Revenue in exact cent·percent integers (the b95/b100 rule).
      val cents = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
      val disc = floor(col("l_discount") * 100 + 0.5).cast("long")
      t(s, d, "lineitem")
        .where(col("l_shipdate").cast("date") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1997-01-01").cast("date") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24.0)
        .agg(sum(cents * disc).as("revenue_cents_pct"),
          count(lit(1)).as("n_items"))
    }),

    "b104_tpch_q17" -> ((s, d) => {
      // TPC-H Q17 shape (small-quantity-order revenue): revenue from
      // lineitems whose quantity is below 20 % of their part's average.
      // The textbook form scans lineitem twice (a correlated per-part
      // avg subquery + the probe); this is the ONE-scan window form —
      // broadcast the filtered part keys, one l_partkey exchange serves
      // the per-part (sum, count) window AND the row filter. The 20 %
      // test is cleared-denominator integers (qty < sum/(5·cnt) ⟺
      // 5·qty·cnt < sum in deci-quantities — no division, no doubles),
      // so both engines agree bit-for-bit.
      val parts = t(s, d, "part").where(col("p_type") === "ECONOMY")
        .select(col("p_partkey"))
      val qtyDeci = floor(col("l_quantity") * 10 + 0.5).cast("long")
      val cents = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
      val wp = org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
      t(s, d, "lineitem")
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), qtyDeci.as("qty_deci"), cents.as("cents"))
        .withColumn("sum_deci", sum(col("qty_deci")).over(wp))
        .withColumn("cnt", count(lit(1)).over(wp))
        .where(col("qty_deci") * col("cnt") * 5 < col("sum_deci"))
        .agg(sum(col("cents")).as("sum_cents"), count(lit(1)).as("n_small"))
        .select(expr("sum_cents div 7").as("avg_yearly_cents"), col("n_small"))
    }),

    "c104_edit_distance_pairs" -> ((s, d) =>
      // typo-granular near-dup pairs: Levenshtein ≤ 14 on the first-8-
      // token "title", candidates blocked by lead token + the length
      // theorem |len(a)−len(b)| ≤ maxDist (a necessary condition for
      // lev ≤ maxDist, filtered before any DP runs). The character-edit
      // member of the dedup family next to set-overlap c02/c04 and
      // bit-distance c03; exact integer distances both engines compute
      // with the same Wagner–Fischer recurrence.
      graft.operators.Dedup.editDistancePairs(
          t(s, d, "documents"), "doc_id", "text", keyTokens = 8, maxDist = 14)
        .orderBy(col("doc_a"), col("doc_b"))),

    "c105_ivf_probe_advisor" -> ((s, d) => {
      // IVF nprobe advisor (the c94/c96/c100 measured-curve→decision
      // family): exact recall@10 vs the brute-force truth at nprobe ∈
      // {1,2,4} from ONE candidate pass — probe sets nest, so the
      // per-probe candidate rank is a running conditional count over the
      // same per-query sort — then choose the smallest probe count
      // reaching 90 % recall. Pure-integer hits/ppm, rounded-cosine +
      // id tiebreaks; the decision runs on a 3-row frame.
      val emb = t(s, d, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      val centroids = emb.where(pmod(col("vec_id"), lit(97)) === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
      graft.operators.Ann.ivfProbeAdvisor(emb, queries, centroids,
          "vec_id", "embedding", k = 10, probes = Seq(1, 2, 4),
          targetPpm = 900000L)
        .orderBy(col("nprobe"))
    }),

    "b105_trailing_days" -> ((s, d) => {
      // time-INTERVAL range frame (the missing sibling of b27's numeric
      // range frame): per customer, each order's trailing-7-day order
      // count and spend. The frame bound is event time, not row count —
      // a burst of same-day orders all enter each other's frame. Ordering
      // key = exact epoch micros (integer RANGE bounds are engine-
      // portable; INTERVAL literals in a frame are not everywhere), cents
      // exact. One customer shuffle, one sort, both aggregates share the
      // frame.
      val spanUs = 7L * 24 * 3600 * 1000000L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("ts_us"))
        .rangeBetween(-spanUs, 0L)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("ts_us"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
        .select(col("o_custkey"), col("o_orderkey"),
          count(lit(1)).over(w).as("n_trailing"),
          sum(col("cents")).over(w).as("cents_trailing"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    "c107_bootstrap_stats" -> ((s, d) =>
      // one-pass Poisson(1) bootstrap of corpus statistics: 8 replicates
      // of (docs drawn, total chars, mean chars) from deterministic
      // md5-ppm multiplicities — the sampling-variance error bar for
      // corpus metrics WITHOUT 8 corpus passes. Replicate explode is
      // map-side only (partial aggregation compacts to 8 rows per task).
      graft.operators.Pipeline.bootstrapStats(
          t(s, d, "documents"), "doc_id", "n_chars", replicates = 8)
        .orderBy(col("replicate"))),

    "c108_random_negatives" -> ((s, d) => {
      // uniform (hash-ranked) negative sampling — the unbiased partner
      // of c102's hard negatives, same plan shape and schema: per query,
      // 10 different-label items ranked by md5("query:item"). Unlike
      // geometry-ranked mining, sampling thins for free at 100 TB
      // (pre-filter items on hash mod m before ranking).
      val emb = t(s, d, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      graft.operators.Ann.randomNegatives(emb, queries, "vec_id", "label", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    "c109_quality_classifier" -> ((s, d) =>
      // fastText-style hashed-ngram linear classifier inference (the r12
      // VERDICT #5 depth item): unigram+bigram features → 2^16 md5 hash
      // buckets → broadcast integer-weight lookup → exact integer score,
      // gate = score >= 0. The learned quality gate next to the c09
      // heuristic and c64's count-based CCNet filter; weights-as-data
      // (Pipeline.demoClassifierWeights stands in for an exported
      // checkpoint). One broadcast join + one doc_id partial-sum exchange
      // — no new exchange classes (plan-asserted).
      docClassifierScores(s, d)
        .select(col("doc_id"), col("n_feats"), col("score"),
          (col("score") >= 0L).as("kept"))
        .orderBy(col("doc_id"))),

    "c110_classifier_yield" -> ((s, d) => {
      // the gate's YIELD CURVE — "if I move the quality bar, what do I
      // keep, per language?": conditional sums over a fixed threshold
      // grid computed in ONE pass over the scored frame (no per-threshold
      // re-scan; the 5-way stack runs on the |langs|-row aggregate), docs
      // + chars retained and the exact-ppm doc share. The report every
      // curation run publishes before committing to a threshold. Plan:
      // the c109 inference plan + one doc_id join + one lang exchange.
      val thr = Seq(-2000L, -1000L, 0L, 1000L, 2000L)
      val perLang = graft.operators.Pipeline.classifierYieldStateFromScored(
        docClassifierScores(s, d), "lang", "n_chars", thr)
      classifierYieldCurve(perLang, thr)
    }),

    "c113_eval_apportionment" -> ((s, d) =>
      // exactly-k stratified eval-set selection: per-language quotas by
      // largest-remainder (Hamilton) apportionment in pure BIGINT (floor
      // quotas + bonuses to the largest k*n mod N remainders, lang
      // tiebreak), membership = bottom-alloc docs per language by the md5
      // tokenHash (the c23 split doctrine). Output is exactly min(k, N)
      // rows — the property floor-only quotas lose. Plan: one count
      // exchange, the apportionment on the |langs|-row frame, one
      // lang-window membership pass (Pipeline.apportionedSample scaladoc).
      graft.operators.Pipeline.apportionedSample(
          t(s, d, "documents"), "lang", "doc_id", k = 100L)
        .orderBy(col("lang"), col("rk"))),

    "c112_yield_ivm" -> ((s, d) => {
      // the c110 yield report MAINTAINED INCREMENTALLY under a CDC batch
      // (the b69 IVM algebra applied to the classifier gate): the standing
      // corpus's per-lang yield STATE absorbs an insert batch (doc_id%10=3,
      // the c36 arrival convention) and a retraction batch (doc_id%10=7)
      // by monoid addition — retractions enter as the NEGATED state. Every
      // state column is a sum, so merge ≡ recompute exactly (the oracle IS
      // the full recompute over the post-CDC corpus). At 100 TB the nightly
      // cost is scoring the two small batches — the corpus is never
      // rescanned; here all three slices are filters over the one
      // memoized scored frame (docClassifierScores — the per-doc-score
      // materialized view this IVM maintains the rollup of). A fully-
      // retracted stratum leaves a zero state row the recompute has no
      // group for — filtered by total_docs > 0.
      val thr = Seq(-2000L, -1000L, 0L, 1000L, 2000L)
      val scored = docClassifierScores(s, d)
      def st(df: org.apache.spark.sql.DataFrame) =
        graft.operators.Pipeline.classifierYieldStateFromScored(
          df, "lang", "n_chars", thr)
      val stateCols = Seq("total_docs") ++
        thr.indices.flatMap(i => Seq(s"kd$i", s"kc$i"))
      val negDel = st(scored.where(pmod(col("doc_id"), lit(10)) === 7))
        .select(col("lang") +: stateCols.map(c => (-col(c)).as(c)): _*)
      val merged = graft.operators.Ivm.mergeStates(
        Seq(st(scored.where(pmod(col("doc_id"), lit(10)) =!= 3)), // base
          st(scored.where(pmod(col("doc_id"), lit(10)) === 3)),   // inserts
          negDel),                                                // retractions
        Seq("lang"), stateCols.map(_ -> "sum").toMap)
      classifierYieldCurve(merged.where(col("total_docs") > 0), thr)
    }),

    "c111_gate_agreement" -> ((s, d) => {
      // learned gate vs heuristic gate, the 2×2 agreement matrix a
      // pipeline reads before letting a trained filter replace a
      // hand-tuned one: kept-by-both / only-classifier / only-heuristic /
      // neither, with doc and char mass in each cell. Both gates are
      // exact integers (c109 score ≥ 0; qualityScoreNano ≥ 0.395 in nanos
      // — c35's bar, near the fixture median so all four cells populate),
      // so the matrix is engine-reproducible. Plan: the c109 inference
      // plan + the narrow heuristic projection + one doc_id join + a
      // 4-row aggregate.
      t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          (Text.qualityScoreNano(coalesce(col("text"), lit(""))) >=
            395000000L).as("kept_h"))
        .join(docClassifierScores(s, d)
          .select(col("doc_id"), (col("score") >= 0L).as("kept_c")),
          "doc_id")
        .groupBy(col("kept_c"), col("kept_h"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("kept_c"), col("kept_h"))
    }),

    "c114_classifier_calibration" -> ((s, d) => {
      // CALIBRATION readout of the learned gate (the natural c109
      // consumer after the c111 agreement matrix): score-decile ×
      // empirical keep-rate reliability table, the heuristic gate
      // (c35's qualityScoreNano ≥ 0.395) standing in for labels — a
      // well-calibrated quality score should keep monotonically more
      // heuristic-passing docs per decile. Deciles are EXACT and
      // engine-reproducible without a per-doc global sort: docs
      // aggregate per integer score value first (one score exchange,
      // map-side combined), the cumulative rank runs over the
      // |distinct scores|-row frame (the c113 small-frame window
      // discipline — score is a bounded integer sum, so this frame is
      // tiny at any corpus size), and a score value's docs all land in
      // the decile of its LAST row: decile = ((cum−1)·10) div N + 1 —
      // ties never split across calibration bins. Everything BIGINT;
      // ppm is exact floor division. Off the memoized scored frame +
      // the c111 heuristic projection — zero new exchange classes.
      // Parallelism note (the c104/c31 1-file-scan rule, disposed): the
      // heuristic leg runs at SCAN parallelism before its narrow
      // (doc_id, kept_h) result broadcasts — at production scale that is
      // many-files-parallel; on the single-file testdata it is one task,
      // the same audited shape as c111 (~0.5 s at sf0.1). The alternative
      // — repartitioning (doc_id, text) — would shuffle raw text, the
      // worse standing-rule violation; raw text never shuffles.
      classifierCalibrationTable(s, d)
    }),

    "c116_calibration_audit" -> ((s, d) => {
      // the b80 audit-boolean discipline applied to c114: per decile,
      // is the empirical keep-rate monotone non-decreasing vs the
      // previous decile, plus the table-wide violation count — so the
      // calibration table becomes a machine-checkable regression signal
      // (a nightly pipeline alerts on violations_total > 0 instead of a
      // human reading ten ppm numbers). Both engines compute the SAME
      // booleans from the same exact-integer table — never a "close
      // enough" float comparison. Plan: the c114 plan + a lag window
      // and a count window on the 10-row decile frame (the c113
      // small-frame discipline); first decile is vacuously monotone.
      val wLag = Window.orderBy(col("decile"))
      val wAll = Window.partitionBy()
      classifierCalibrationTable(s, d)
        .select(col("decile"), col("n_docs"), col("kept_h_ppm"))
        .withColumn("prev_ppm",
          coalesce(lag(col("kept_h_ppm"), 1).over(wLag), lit(-1L)))
        // ppm ≥ 0 > −1, so the first decile's sentinel is vacuously
        // monotone under the plain comparison — no special case needed
        .withColumn("monotone_up", col("kept_h_ppm") >= col("prev_ppm"))
        .withColumn("violations_total",
          sum(when(col("monotone_up"), 0L).otherwise(1L)).over(wAll))
        .orderBy(col("decile"))
    }),

    "c115_gate_threshold_advisor" -> ((s, d) => {
      // threshold ADVISOR for the learned gate — the planner-advisor
      // pattern (c83 join strategy, c94 LSH params, c105 IVF probes)
      // applied to the classifier family: per language, the TIGHTEST
      // threshold on the c110 grid that still keeps at least the target
      // doc share (500000 ppm = half), i.e. "raise the quality bar as
      // far as the yield budget allows". Languages where even the
      // loosest threshold misses the target fall back to that loosest
      // threshold with qualifies=false — the advisor always answers.
      // Decision logic is ONE deterministic rank over the curve:
      // qualifying rows first, tightest (max thr) among them, loosest
      // (min thr) otherwise. Plan: the c110 plan + one rank window on
      // the |langs×5|-row curve frame (the c113 small-frame discipline);
      // reads the memoized scored frame, leaf-asserted.
      val thr = Seq(-2000L, -1000L, 0L, 1000L, 2000L)
      val curve = classifierYieldCurve(
        graft.operators.Pipeline.classifierYieldStateFromScored(
          docClassifierScores(s, d), "lang", "n_chars", thr), thr)
      val w = Window.partitionBy(col("lang")).orderBy(
        col("qualifies").desc,
        when(col("qualifies"), -col("thr")).otherwise(col("thr")))
      curve.withColumn("qualifies", col("kept_ppm") >= 500000L)
        .withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .select(col("lang"), col("thr").as("chosen_thr"), col("total_docs"),
          col("kept_docs"), col("kept_ppm"), col("qualifies"))
        .orderBy(col("lang"))
    }),
  )

}
