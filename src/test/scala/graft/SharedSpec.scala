package graft

/** The bench's untimed pass ([[Bench.warm]]) over keys that read shared
  * frames or write at-rest layouts: it builds what those keys read, and a
  * second pass over a warm session builds nothing new. */
class SharedSpec extends SparkSpec {
  private lazy val sf: String = sf0001Copy("graft-shared")

  // the name is the one this test had when the pass was
  // SparkEntry.warmSharedIntermediates; the pass is now Bench.warm
  test("warmSharedIntermediates warms every shared frame; a second call pins nothing new") {
    // c40/c36 read shared frames (embClusters, the doc shingle index) and
    // c88/c90 the two legs of the BPE pair (c88 alone never computes the
    // corpus leg's last checkpoint); c96 and c100 read the advisors'
    // entries (the member-hash set, the three sketches), so a second pass
    // over them reuses what the first cached; b33/b37 write at-rest
    // layouts; c36 also persists its band index inside its builder
    val keys = SparkEntry.select(Seq("c40", "c88", "c90", "c96", "c100", "b33", "b37", "c36"))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    assert(Bench.warm(spark, keys, sf) == Seq.empty)
    val first = sc.getPersistentRDDs.keySet -- before
    assert(first.nonEmpty, "the pass persisted nothing")
    val cached = sc.getRDDStorageInfo.map(i => i.id -> i).toMap
    val partial = first.filterNot(id =>
      cached.get(id).exists(i => i.numCachedPartitions == i.numPartitions))
    assert(partial.isEmpty, "persisted RDDs not fully cached after the pass: " +
      partial.map(id => s"${sc.getPersistentRDDs(id)} ${cached.get(id)}").mkString("; "))
    assert(Bench.warm(spark, keys, sf) == Seq.empty)
    val added = sc.getPersistentRDDs.keySet -- before -- first
    assert(added.isEmpty, s"persistent RDDs added by the second pass: $added")
  }

  test("both legs of the BPE pair come from one memo entry") {
    import EntryShared.{bpeK3Corpus, bpeK3Merges}
    assert(bpeK3Merges(spark, sf) eq bpeK3Merges(spark, sf))
    assert(bpeK3Corpus(spark, sf) eq bpeK3Corpus(spark, sf))
  }
}
