package graft

/** The shared-intermediate registry: declaring a [[graft.sources.Shared]]
  * is what gets it warmed, and a warm pass over a warm session builds
  * nothing new. */
class SharedSpec extends SparkSpec {
  /** A private copy of the sf0.001 tables: the warm pass materializes every
    * shared cache, and at the shared path that would change the embedded
    * cache plans other suites (PlanSpec) inspect. */
  private lazy val sf: String = {
    val dir = tempDir("graft-shared")
    graft.sources.Tables.all.foreach { n =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"/root/testdata/sf0.001/$n.parquet"), dir.resolve(s"$n.parquet"))
    }
    dir.toString
  }

  test("the registry holds orderItems and the BPE pair under distinct names") {
    val names = SparkEntry.sharedIntermediates.map(_.name)
    assert(names.contains("orderItems") && names.contains("bpeK3"), names)
    assert(names.distinct == names, names)
  }

  test("warmSharedIntermediates warms every shared frame; a second call pins nothing new") {
    assert(SparkEntry.warmSharedIntermediates(spark, sf) == Seq.empty)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(SparkEntry.warmSharedIntermediates(spark, sf) == Seq.empty)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"persistent RDDs added by the second warm pass: $added")
  }

  test("both legs of the BPE pair come from one memo entry") {
    import EntryShared.{bpeK3Corpus, bpeK3Merges}
    assert(bpeK3Merges(spark, sf) eq bpeK3Merges(spark, sf))
    assert(bpeK3Corpus(spark, sf) eq bpeK3Corpus(spark, sf))
  }
}
