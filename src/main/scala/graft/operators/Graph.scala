package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph computations beyond connected components
  * ([[Dedup.clusters]]). Same scale doctrine: edges are the only shuffled
  * relation, every round is one equi-join + one aggregation on explicit
  * keys, no driver-side graph state.
  */
object Graph {

  /** Connected components via ALTERNATING large-star / small-star edge
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the second CC algorithm in the repo next to
    * [[Dedup.clusters]]' pointer jumping, and the shape giant MapReduce
    * deployments actually run. Where pointer jumping iterates a NODE
    * LABEL vector against a fixed edge list, star contraction rewrites
    * the EDGE LIST itself: per round, each node u computes
    * m(u) = min(N(u) ∪ {u}); large-star re-attaches every neighbor
    * v > u to m(u), small-star every v ≤ u, and each u keeps its own
    * (u, m(u)) anchor. Both steps preserve connectivity; alternating
    * them collapses every component to a star centered at its minimum
    * in O(log² n) rounds (O(log n) observed) while hub neighborhoods
    * contract geometrically — the edge multiset is the only state, so a
    * skewed label vector can never accumulate.
    *
    * Each round is two (groupBy node + join-back + symmetrize-distinct)
    * passes — equi-shuffles on node ids only. Rounds follow the
    * [[Iterate]] round policy (lazy local checkpoints for flat plans, one
    * count probe per round) on a conf-isolated session clone (AQE off,
    * graph-sized partitions), and the driver holds only convergence
    * scalars. Convergence is the EXACT edge-set fixpoint (count equal +
    * anti-join empty — no checksum shortcuts); fixpoint ⟺ all components
    * are stars, whence the label read-off least(u, min N(u)) is the
    * component minimum. Same output contract as [[Dedup.clusters]];
    * equivalence asserted on chain and random fixtures in GraphSpec.
    * Throws rather than returning partial labels if `maxIter` is hit. */
  def connectedComponentsStars(pairs: DataFrame, idA: String = "a", idB: String = "b",
                               maxIter: Int = 30): DataFrame = {
    val p0 = pairs.select(col(idA).as("x"), col(idB).as("y"))
      .where(col("x") =!= col("y"))
    val origin = pairs.sparkSession
    val parts = math.max(1, math.min(origin.sparkContext.defaultParallelism, 8))
    val sess = Sessions.isolated(origin,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> parts.toString)
    def star(a: DataFrame, large: Boolean): DataFrame = {
      val m = a.groupBy(col("x")).agg(min(col("y")).as("mn"))
        .select(col("x"), least(col("x"), col("mn")).as("m"))
      val reattached = a.join(m, "x")
        .where(if (large) col("y") > col("x") else col("y") <= col("x"))
        .select(col("y").as("x"), col("m").as("y"))
      val anchors = m.select(col("x"), col("m").as("y"))
      val e = reattached.union(anchors).where(col("x") =!= col("y"))
      e.union(e.select(col("y").as("x"), col("x").as("y"))).distinct()
    }
    // the edge count is each round's probe (Iterate); it rides in the
    // state, so the next round compares against it instead of re-counting.
    // The anti-join diff only runs when the counts already match (&&
    // short-circuit), i.e. usually exactly once, on the converged round.
    val adj0 = Sessions.reroot(
        p0.union(p0.select(col("y").as("x"), col("x").as("y"))).distinct(), sess)
      .localCheckpoint(eager = false)
    val (adj, _) = Iterate.fixpoint((adj0, adj0.count()), maxIter,
        "Graph.connectedComponentsStars") { case (adj, adjCount) =>
      val next = star(star(adj, large = true), large = false)
        .localCheckpoint(eager = false)
      val nextCount = next.count()
      ((next, nextCount), nextCount == adjCount &&
        next.join(adj, Seq("x", "y"), "left_anti").isEmpty)
    }
    val labels = adj.groupBy(col("x")).agg(min(col("y")).as("mn"))
      .select(col("x").as("node"), least(col("x"), col("mn")).as("cluster_rep"))
    Sessions.reroot(labels, origin)
  }

  /** Per-node triangle counts over an undirected pair list (`a < b`,
    * distinct) via degree orientation — the standard way to count triangles
    * without the naive join's hub blow-up.
    *
    * Each undirected edge is oriented from its (degree, id)-lesser endpoint
    * to its greater; the orientation is acyclic and every triangle has
    * exactly one source node with two out-edges, so
    * `E'(u,v) ⋈ E'(v,w) ⋈semi E'(u,w)` counts each triangle once. Per-node
    * counts come from crediting all three corners.
    *
    * Why this scales where `E ⋈ E ⋈ E` on raw edges does not: a hub of
    * degree d contributes Θ(d²) wedges unoriented, but after degree
    * orientation every out-degree is O(√|E|) (an arboricity bound —
    * Chiba–Nishizeki), so the wedge join materializes O(|E|^1.5) rows
    * worst-case and far fewer on real (near-dup / co-occurrence) graphs.
    * All three joins are equi-joins on node keys: shuffle on u / v only,
    * no cartesian anywhere. In the dedup pipeline this is the cluster
    * cohesion signal: triangles distinguish tight near-dup cliques from
    * chains glued by one borderline pair.
    */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    val p = pairs.select(col("a"), col("b"))
    val deg = p.select(col("a").as("node"))
      .unionAll(p.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val da = deg.select(col("node").as("a"), col("deg").as("dega"))
    val db = deg.select(col("node").as("b"), col("deg").as("degb"))
    val fwd = col("dega") < col("degb") ||
      (col("dega") === col("degb") && col("a") < col("b"))
    // persisted: the oriented edge list feeds all three legs of the
    // wedge-closure join (e1/e2/e3) — without the cache the degree
    // aggregation + orientation joins would run three times (the
    // pageRankNano persisted-intermediate pattern; app-lifetime
    // retention, callers can unpersist via the returned lineage)
    val oriented = p.join(da, "a").join(db, "b")
      .select(when(fwd, col("a")).otherwise(col("b")).as("u"),
        when(fwd, col("b")).otherwise(col("a")).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val e1 = oriented
    val e2 = oriented.select(col("u").as("v"), col("v").as("w"))
    val e3 = oriented.select(col("u"), col("v").as("w"))
    val tris = e1.join(e2, "v").join(e3, Seq("u", "w"), "left_semi")
    tris.select(col("u").as("node"))
      .unionAll(tris.select(col("v").as("node")))
      .unionAll(tris.select(col("w").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }

  /** Bounded-round k-core: `rounds` synchronized peeling sweeps — each
    * drops every node whose CURRENT degree is below `k`, then the edges
    * touching it — over an undirected pair list (`a < b`, distinct).
    *
    * After convergence this is the classic k-core (the maximal subgraph
    * of minimum degree ≥ k, Seidman '83 / Matula–Beck); with a FIXED
    * round budget it is the deterministic distributed contract (the
    * pageRankNano iters discipline): both engines run the identical
    * unrolled recurrence, converged or not — real peels converge in few
    * sweeps on the shallow degeneracy graphs dedup produces. In the
    * pipeline this is the cohesion filter a notch above triangles: the
    * 2-core strips the tree-like fringe of the near-dup graph (docs
    * attached by a single borderline pair), leaving the true dup
    * communities for clustering.
    *
    * Scale: each round is one degree aggregation (map-side partial
    * counts) + two left-semi equi-joins on the endpoint keys — O(E)
    * shuffled bytes per round, no orientation, nothing quadratic. Edges
    * only ever shrink, so later rounds are cheaper; round count is a
    * compile-time constant, keeping the whole thing lazily composable.
    */
  def kCoreApprox(pairs: DataFrame, k: Int, rounds: Int = 4): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(rounds >= 1 && rounds <= 8,
      s"rounds must be in [1,8] (fixed-budget peel), got $rounds")
    // each round references the previous round's edge frame three times
    // (both degree legs + the filter input): left as a lazy Catalyst
    // tree, the plan re-expands 3^rounds-fold back to the input and the
    // DRIVER's analysis/AQE pass over that exponential tree dominates —
    // measured 138 s at sf0.1; a per-round persist() does not help
    // because cache substitution happens after the full tree is built.
    // The fix is LINEAGE truncation: a lazy localCheckpoint replaces each
    // round's plan with a LogicalRDD, and the underlying RDD DAG dedupes
    // the three references structurally (the same exponential
    // re-evaluation the c66 ORACLE avoids with MATERIALIZED stages;
    // Iterate is the until-converged variant, whose probe actions
    // materialize the checkpoints — here no round runs an action, which
    // keeps the builder action-free).
    var e = pairs.select(col("a"), col("b"))
    for (_ <- 1 to rounds) {
      val deg = e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val keep = deg.where(col("deg") >= k).select(col("node"))
      e = e
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .localCheckpoint(false)
    }
    e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
  }

  /** Fixed-iteration PageRank in exact integer (nano-scaled) arithmetic.
    *
    * Web-corpus pipelines weight documents by host/page centrality (the
    * Common Crawl ranking shape); this is that computation made
    * engine-exact. Ranks are unnormalized longs starting at 1e9 per node;
    * each round applies
    *
    *   r'(v) = 150_000_000 + Σ_{(u,v) ∈ E} (85 · r(u)) div (100 · deg(u))
    *
    * i.e. damping 0.85 with FLOOR division — every intermediate is a
    * BIGINT, so the result is bit-identical at any parallelism and in any
    * engine that mirrors the formula (DuckDB `//`). Classic float PageRank
    * sums millions of doubles in nondeterministic order; this never
    * touches a float. Nodes without in-edges keep the teleport term
    * (the node list left-joins the contribution sums); dangling nodes
    * (no out-edges) contribute nothing, matching the "remove dangling
    * mass" PageRank variant — fine for a relative ranking signal.
    *
    * Scale (100 TB): the degree-annotated edge list (src, dst, deg) is
    * built once and PERSISTED (memory-with-disk-spill) — the `iters`
    * rounds each reference it, and without the cache the whole
    * edges→degree build would re-derive per round (AQE's exchange-stage
    * reuse catches the duplicate shuffles within one action, but the
    * explicit cache does not rely on it and also serves repeated
    * actions). Cache retention: lifetime of the app, by design — an
    * iterative operator's edge relation is the canonical persisted
    * intermediate; callers running many distinct graphs can unpersist
    * via the returned plan's lineage. Each round is then a shuffle of
    * the rank vector (2 longs per node) onto src for the contribution
    * join plus one partial+final aggregation onto dst — O(E + V) bytes
    * per round, the textbook distributed-PageRank cost. A fixed small
    * iteration count (ranking signals converge in single digits) keeps
    * the whole thing lazily composable: no convergence action, no
    * checkpoint needed at this plan depth.
    */
  def pageRankNano(edges: DataFrame, nodes: DataFrame, iters: Int = 3): DataFrame =
    rankNano(edges, nodes.select(col("node")), lit(1L), iters)
      .select(col("node"), col("r").as("rank_nano"))

  /** Personalized PageRank (fixed iterations, exact nano-integers): the
    * restart mass lands ONLY on the seed set, so rank measures proximity
    * TO THE SEEDS through the graph — the "similar items to this basket" /
    * "accounts related to these flagged ones" recommendation query, vs
    * [[pageRankNano]]'s global centrality. Same exact recurrence with a
    * per-node restart term:
    *
    *   r'(v) = seed(v)·150e6 + Σ_{u→v} (85·r(u)) div (100·deg(u)),
    *   r₀(v) = seed(v)·10⁹
    *
    * — floor divisions ordered per-edge before the integer sum, so the
    * result is bit-identical at any parallelism and the oracle unrolls the
    * same rounds. Same per-round shuffle cost as pageRankNano (edge join +
    * dst groupBy); `nodes` must carry an integer 0/1 `seed` column. */
  def personalizedPageRankNano(edges: DataFrame, nodes: DataFrame,
                               iters: Int = 3): DataFrame =
    rankNano(edges, nodes.select(col("node"), col("seed")), col("seed"), iters)
      .select(col("node"), col("r").as("ppr_nano"))

  /** The shared nano-integer recurrence: `r` starts at seed·10⁹ and each
    * round is seed·150e6 plus the floor-divided in-edge contributions.
    * PageRank passes `lit(1L)` as the seed, so its restart terms fold to
    * constants and its plan is the unseeded one. */
  private def rankNano(edges: DataFrame, nodes: DataFrame, seed: Column,
                       iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 8,
      s"iters must be in [1,8] (fixed-iteration ranking signal), got $iters")
    val e = edges.select(col("src"), col("dst"))
    // out-degree rides on each edge row: (src, dst, deg)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val withDeg = e.join(deg, Seq("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var rank = nodes.select(col("node"), (seed * 1000000000L).as("r"))
    for (_ <- 1 to iters) {
      val contrib = withDeg.join(rank, withDeg("src") === rank("node"))
        .select(col("dst"),
          expr("(85L * r) div (100L * deg)").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("cs"))
      rank = nodes.join(contrib, nodes("node") === contrib("dst"), "left")
        .select(col("node"),
          (seed * 150000000L + coalesce(col("cs"), lit(0L))).as("r"))
    }
    rank
  }
}
