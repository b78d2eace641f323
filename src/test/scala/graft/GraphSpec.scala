package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

/** Integer-exact PageRank ([[Graph.pageRankNano]]): hand-computed fixture,
  * teleport-only isolated nodes, and partition-count invariance (the
  * determinism claim is that floor-division integer arithmetic cannot be
  * perturbed by aggregation order). */
class GraphSpec extends SparkSpec {

  // star: 1 <-> 2, 1 <-> 3; node 4 isolated.
  // deg(1)=2, deg(2)=deg(3)=1, r0 = 1e9 everywhere.
  // iter1: r(1) = 150e6 + 2*(85e9 div 100)        = 1_850_000_000
  //        r(2) = r(3) = 150e6 + (85e9 div 200)   =   575_000_000
  // iter2: r(1) = 150e6 + 2*((85*575e6) div 100)  = 1_127_500_000
  //        r(2) = r(3) = 150e6 + (85*1_850e6) div 200 = 936_250_000
  //        r(4) = 150_000_000 always
  private lazy val fixture = {
    val s = spark; import s.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("node")
    (edges, nodes)
  }

  test("pageRankNano matches the hand-computed 2-iteration fixture") {
    val (edges, nodes) = fixture
    val got = Graph.pageRankNano(edges, nodes, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      1L -> 1127500000L, 2L -> 936250000L, 3L -> 936250000L,
      4L -> 150000000L), got.toString)
  }

  test("pageRankNano is invariant to input partitioning") {
    val (edges, nodes) = fixture
    val a = Graph.pageRankNano(edges.repartition(1), nodes.repartition(1), iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val b = Graph.pageRankNano(edges.repartition(7, col("dst")), nodes.repartition(5), iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(a == b)
  }

  test("pageRankNano is personalizedPageRankNano with every seed 1") {
    val (edges, nodes) = fixture
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks(Graph.pageRankNano(edges, nodes, iters = 3)) ==
      ranks(Graph.personalizedPageRankNano(edges, nodes.withColumn("seed", lit(1L)), iters = 3)))
  }

  test("triangleCounts: K4 has 4 triangles crediting every node 3×; a square has none") {
    val s = spark; import s.implicits._
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    val got = Graph.triangleCounts(k4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), got.toString)
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a", "b")
    assert(Graph.triangleCounts(square).count() == 0L)
  }

  test("triangleCounts: hub star plus one closing edge counts exactly its triangles") {
    val s = spark; import s.implicits._
    // star center 1 with leaves 2..6, plus edge (2,3): exactly one
    // triangle {1,2,3} — degree orientation must not explode the hub's
    // wedges into counts
    val edges = (2L to 6L).map(l => (1L, l)) :+ (2L, 3L)
    val got = Graph.triangleCounts(edges.toDF("a", "b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), got.toString)
  }

  test("triangleCounts is invariant to input partitioning") {
    val s = spark; import s.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L), (4L, 5L),
      (5L, 6L), (2L, 6L), (1L, 6L)).toDF("a", "b")
    def run(df: org.apache.spark.sql.DataFrame) =
      Graph.triangleCounts(df).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(run(edges.repartition(1)) == run(edges.repartition(7, col("a"))))
  }

  test("kCoreApprox: 2-core strips pendant chains, keeps the triangle, converges in-budget") {
    val s = spark; import s.implicits._
    // triangle {1,2,3} with a pendant chain 3-4-5: the chain peels over
    // two rounds (5 first, then 4), the triangle survives with degree 2
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val got = Graph.kCoreApprox(edges, k = 2, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), got.toString)
    // k=3: the triangle itself dies (max degree 2) → empty
    assert(Graph.kCoreApprox(edges, k = 3, rounds = 4).count() == 0L)
  }

  test("kCoreApprox: unconverged bounded-round output is the documented recurrence") {
    val s = spark; import s.implicits._
    // a 6-node path peels one endpoint pair per round: rounds=1 must
    // equal exactly ONE synchronized peel (ends dropped), not the fixpoint
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val oneRound = Graph.kCoreApprox(path, k = 2, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(oneRound == Map(2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L), oneRound.toString)
    // enough rounds → the true (empty) 2-core
    assert(Graph.kCoreApprox(path, k = 2, rounds = 4).count() == 0L)
  }

  test("star-contraction CC equals pointer-jumping CC on a deep chain") {
    val s = spark; import s.implicits._
    // a 300-node path is the pathological depth case for label
    // propagation; both algorithms must collapse it to one component
    val chain = (1L until 300L).map(i => (i, i + 1)).toDF("a", "b")
    val stars = Graph.connectedComponentsStars(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val jump = graft.operators.Dedup.clusters(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stars == jump, "algorithms diverged on the chain")
    assert(stars.values.toSet == Set(1L))
  }

  test("star-contraction CC throws instead of returning a non-star edge set") {
    val s = spark; import s.implicits._
    val chain = (1L until 300L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalStateException] {
      Graph.connectedComponentsStars(chain, maxIter = 1)
    }
  }

  test("star-contraction CC equals pointer-jumping CC on a random multi-component graph") {
    val s = spark; import s.implicits._
    // deterministic pseudo-random graph: ~150 edges over 120 nodes in 3
    // id bands that never cross — several components of varied shape
    val edges = (0 until 150).map { i =>
      val band = i % 3
      val u = band * 100 + (i * 37 % 40)
      val v = band * 100 + (i * 53 % 40)
      (u.toLong, v.toLong)
    }.filter { case (u, v) => u != v }.toDF("a", "b")
    val stars = Graph.connectedComponentsStars(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val jump = graft.operators.Dedup.clusters(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stars == jump, s"diverged: ${stars.toSet.diff(jump.toSet)}")
  }

  test("pageRankNano rejects unbounded iteration counts") {
    val (edges, nodes) = fixture
    intercept[IllegalArgumentException] {
      Graph.pageRankNano(edges, nodes, iters = 0)
    }
    intercept[IllegalArgumentException] {
      Graph.pageRankNano(edges, nodes, iters = 100)
    }
  }
}
