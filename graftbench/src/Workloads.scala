package graftbench

/** The benchmark's fixed query workloads. A workload is a scale factor and
  * a set of `SparkEntry.queries` keys; the run seed only permutes the key
  * order of each pass, so every seed runs the same multiset of keys. */
object Workloads {
  final case class Workload(name: String, sf: String, keys: Seq[String])

  val all: Seq[Workload] = Seq(
    // Fixed per-query cost dominates at sf0.001 (6k lineitem rows): builder,
    // Catalyst and job scheduling. b70's quadratic window frame is the
    // slowest key, so a linear rewrite shows in pass_s; b71/b81 are the
    // bucketed-cumsum and partition-less window keys. No iterative operator
    // and no memo: the prediction for changes there is no change.
    Workload("relational", "sf0.001", Seq(
      "b96_tpch_q5", "b113_tpch_q21", "b70_interpolate", "b71_equidepth_hist",
      "b81_skew_profile")),
    // Iterative driver loops (three PageRank rounds, IVF k-means), memos
    // built in the cold pass and read after (doc clusters, BPE merges; their
    // builds run jobs inside the builder) and a streaming-parity key. sf0.01
    // is the oracle-gated scale; its documents/embeddings tables are the
    // same size as sf0.001's. No TPC-H join and no b70 window.
    Workload("llm_pipeline", "sf0.01", Seq(
      "c45_pagerank", "c07_ann_ivf", "c40_cluster_centroids", "c88_bpe_merges",
      "c37_stream_dedup_parity")))

  def apply(name: String): Workload =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))

  /** Key order of one pass: a permutation drawn from (seed, pass). */
  def order(w: Workload, seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(w.keys)
}
