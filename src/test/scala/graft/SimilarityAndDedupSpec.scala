package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{Similarity, Text}
import graft.operators.Dedup

/** §2C similarity + dedup operators, including the reference's
  * "interpreted vs compiled equivalence" pattern (SURVEY.md §5.1 pattern 2):
  * the codegen'd Catalyst expressions must agree bit-for-bit with their
  * higher-order-function formulations. */
class SimilarityAndDedupSpec extends SparkSpec {

  lazy val vecs: DataFrame = {
    val s = spark; import s.implicits._
    // deterministic pseudo-random float vectors
    (0 until 50).map { i =>
      (i.toLong, (0 until 16).map(j => (((i * 31 + j * 17) % 97) - 48) / 48.0f).toArray)
    }.toDF("id", "v")
  }

  lazy val docs: DataFrame = {
    val s = spark; import s.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
      (3L, "completely different content about spark engines and columns"),
      (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (5L, "lorem ipsum dolor sit amet consectetur adipiscing elit sed")
    ).toDF("doc_id", "text")
  }

  test("codegen CosineSim == HOF cosine, bit-for-bit") {
    val both = vecs.as("a").join(vecs.as("b"), col("a.id") < col("b.id"))
      .select(Similarity.cosine(col("a.v"), col("b.v")).as("cg"),
        Similarity.cosineHof(col("a.v"), col("b.v")).as("hof"))
    val diff = both.where(col("cg") =!= col("hof")).count()
    assert(diff == 0, s"$diff pairs differ between codegen and HOF cosine")
  }

  test("codegen ShingleHashesExpr == HOF shingle hashes (as sets)") {
    val both = docs.select(
      array_sort(array_distinct(Text.shingleHashes(col("text"), 3))).as("cg"),
      array_sort(array_distinct(Text.shingleHashesHof(col("text"), 3))).as("hof"))
    assert(both.where(to_json(col("cg")) =!= to_json(col("hof"))).count() == 0)
    // first-occurrence order matches the distinct-string order too
    val ord = docs.select(
      Text.shingleHashes(col("text"), 2).as("cg"),
      array_distinct(Text.shingleHashesHof(col("text"), 2)).as("hof"))
    assert(ord.where(to_json(col("cg")) =!= to_json(col("hof"))).count() == 0)
  }

  test("codegen SpanHashesExpr == HOF span hashes (positional, with duplicates)") {
    // exact positional order AND multiplicity must agree — doc 1 repeats
    // "the", so its 3-gram windows are not all distinct
    val both = docs.select(
      Text.spanHashes(col("text"), 3).as("cg"),
      Text.spanHashesHof(col("text"), 3).as("hof"))
    assert(both.where(to_json(col("cg")) =!= to_json(col("hof"))).count() == 0)
    // n > token count -> empty array, not null/crash
    val short = docs.select(Text.spanHashes(col("text"), 64).as("h"))
    assert(short.where(size(col("h")) =!= 0).count() == 0)
  }

  test("dupSpanStats counts positional spans shared across distinct docs") {
    val stats = Dedup.dupSpanStats(docs, "doc_id", "text", spanN = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // 9-token docs have 7 3-gram positions; docs 1 and 4 are identical so
    // every span of both is duplicated; doc 2 shares all but the final
    // "the lazy cat" window; docs 3 and 5 share nothing
    assert(stats(1L) == ((7L, 7L)), s"doc 1: ${stats(1L)}")
    assert(stats(4L) == ((7L, 7L)), s"doc 4: ${stats(4L)}")
    assert(stats(2L) == ((7L, 6L)), s"doc 2: ${stats(2L)}")
    assert(stats(3L)._2 == 0L && stats(5L)._2 == 0L)
  }

  test("dupSpanRuns finds the longest consecutive duplicated block") {
    val runs = Dedup.dupSpanRuns(docs, "doc_id", "text", spanN = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 1/4 identical: all 7 positions duplicated, one unbroken run;
    // doc 2 shares positions 0..5 (its final "the lazy cat" window is
    // unique) -> run of 6; docs 3/5 have nothing duplicated
    assert(runs(1L) == 7L && runs(4L) == 7L, runs.toString)
    assert(runs(2L) == 6L, runs.toString)
    assert(runs(3L) == 0L && runs(5L) == 0L, runs.toString)
  }

  test("spanNovelty counts batch spans absent from the corpus index") {
    // batch = docs 2 and 4; corpus = 1, 3, 5. Doc 4 is an exact copy of
    // corpus doc 1 -> 0 novel spans; doc 2 shares all but its final
    // "the lazy cat" window -> exactly 1 novel span of 7
    val got = Dedup.spanNovelty(docs, "doc_id", "text",
        isNew = col("doc_id").isin(2L, 4L), spanN = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(2L -> ((7L, 1L)), 4L -> ((7L, 0L))), got.toString)
  }

  test("leakproof split never separates a near-dup cluster across splits") {
    val sf = "/root/testdata/sf0.001"
    val split = SparkEntry.queries("c55_leakproof_split")(spark, sf)
    val clusters = SparkEntry.queries("c17_dedup_clusters")(spark, sf)
    val bad = clusters.join(split, Seq("doc_id"))
      .groupBy(col("cluster_rep"))
      .agg(count_distinct(col("split")).as("ns"))
      .where(col("ns") > 1)
      .count()
    assert(bad == 0, s"$bad clusters straddle a split boundary")
  }

  test("span operators handle empty batches and short docs") {
    // empty batch: no rows, not a crash
    assert(Dedup.spanNovelty(docs, "doc_id", "text",
      isNew = lit(false), spanN = 3).count() == 0)
    // batch-only corpus (isNew always true): every span is novel
    val allNew = Dedup.spanNovelty(docs, "doc_id", "text",
        isNew = lit(true), spanN = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(allNew.nonEmpty && allNew.forall { case (n, nov) => n == nov })
    // docs shorter than the span never appear in runs output
    assert(Dedup.dupSpanRuns(docs, "doc_id", "text", spanN = 64).count() == 0)
  }

  test("containmentPairs is directed and catches subset docs jaccard misses") {
    val s = spark; import s.implicits._
    val d6 = docs.union(Seq(
      (6L, "the quick brown fox jumps")).toDF("doc_id", "text"))
    val sets = Dedup.shingleSets(d6, "doc_id", "text", shingleN = 3)
    val got = Dedup.containmentPairs(sets, containPct = 90)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc 6's 3 shingles all appear in docs 1, 2 and 4 (containment 1.0,
    // jaccard only 3/7); 1 and 4 are identical so contain each other;
    // doc 2 vs 1: 6 of 7 shingles -> 86% < 90%, excluded
    assert(got == Set((6L, 1L), (6L, 2L), (6L, 4L), (1L, 4L), (4L, 1L)), got.toString)
  }

  test("sourceSpanOverlap counts distinct shared spans per source pair") {
    val s = spark; import s.implicits._
    val df = Seq(
      ("sA", "w1 w2 w3 w4"),   // spans: (w1 w2 w3), (w2 w3 w4)
      ("sA", "w1 w2 w3"),      // repeats (w1 w2 w3) within sA — distinct!
      ("sB", "w1 w2 w3 w5"),   // shares (w1 w2 w3) with sA
      ("sC", "x1 x2 x3")       // shares nothing
    ).toDF("source", "text")
    val got = Dedup.sourceSpanOverlap(df, "source", "text", spanN = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(("sA", "sB") -> 1L), got.toString)
  }

  test("codegen SimHash64Expr == HOF simhash64") {
    val both = docs.select(
      Dedup.simhash64(Text.tokens(col("text"))).as("cg"),
      Dedup.simhash64Hof(Text.tokens(col("text"))).as("hof"))
    assert(both.where(col("cg") =!= col("hof")).count() == 0)
  }

  test("codegen MinHashSig == HOF minhash signature") {
    val sets = docs.select(col("doc_id"),
      array_distinct(Text.shingleHashes(col("text"), 3)).as("hs"))
    val both = sets.select(
      Dedup.minhashSignature(col("hs"), 32).as("cg"),
      Dedup.minhashSignatureHof(col("hs"), 32).as("hof"))
    assert(both.where(to_json(col("cg")) =!= to_json(col("hof"))).count() == 0)
  }

  test("hoisted-norm dot product == CosineSim, bit-for-bit") {
    val dot = graft.plans.VectorExpressions.dotProduct _
    val n = vecs.withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val both = n.as("a").join(n.as("b"), col("a.id") < col("b.id"))
      .select((dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("hoisted"),
        Similarity.cosine(col("a.v"), col("b.v")).as("fused"))
    assert(both.where(col("hoisted") =!= col("fused")).count() == 0)
  }

  test("kernel edge cases: short docs, empty hash sets, zero vectors") {
    val s = spark; import s.implicits._
    // doc shorter than the shingle size -> empty hash array (not null/crash)
    val short = Seq("one two").toDF("text")
      .select(Text.shingleHashes(col("text"), 5).as("hs")).first()
    assert(short.getSeq[Long](0).isEmpty)
    // minhash over an empty set -> per-permutation sentinel (Long.MaxValue);
    // pipelines filter size(hs) > 0 before signing, so this never banding-joins
    val sig = Seq(Seq.empty[Long]).toDF("hs")
      .select(Dedup.minhashSignature(col("hs"), 4).as("sig")).first().getSeq[Long](0)
    assert(sig.forall(_ == Long.MaxValue))
    // zero vector -> cosine is NaN (0/0), never silently 0 or an exception
    val z = Seq((Array(0f, 0f), Array(1f, 2f))).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b"))).first().getDouble(0)
    assert(z.isNaN)
    // invalid shingle size rejected at build time
    intercept[IllegalArgumentException] {
      graft.plans.TextExpressions.shingleHashes(lit("x"), 0)
    }
  }

  test("cosine is 1.0 for identical vectors, symmetric") {
    val self = vecs.select(Similarity.cosineRounded(col("v"), col("v")).as("c"))
    assert(self.collect().forall(_.getDouble(0) == 1.0))
    val sym = vecs.as("a").join(vecs.as("b"), col("a.id") < col("b.id"))
      .select(Similarity.cosine(col("a.v"), col("b.v")).as("ab"),
        Similarity.cosine(col("b.v"), col("a.v")).as("ba"))
    assert(sym.where(col("ab") =!= col("ba")).count() == 0)
  }

  test("l2normalize makes cosine equal dot") {
    val n = vecs.select(col("id"), Similarity.l2normalize(col("v")).as("v"))
    val check = n.as("a").join(n.as("b"), col("a.id") < col("b.id"))
      .select(abs(Similarity.dot(col("a.v"), col("b.v")) -
        Similarity.cosineHof(col("a.v"), col("b.v"))).as("d"))
    assert(check.agg(max(col("d"))).first().getDouble(0) < 1e-12)
  }

  test("exact dedup groups identical texts") {
    val d = Dedup.exact(docs, "text", "doc_id").orderBy("rep_id").collect()
    assert(d.length == 4) // 5 docs, one exact dup pair
    val dupGroup = d.find(_.getLong(d.head.fieldIndex("rep_id")) == 1L).get
    assert(dupGroup.getLong(dupGroup.fieldIndex("n_dups")) == 2L)
  }

  test("minhash LSH finds the near-dup pair and the exact-dup pair only") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      shingleN = 2, numPerm = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup, jaccard 1.0
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near dups
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L }) // unrelated doc
  }

  test("incremental dedup: batch-vs-corpus AND within-batch pairs, corpus never self-paired") {
    // batch = {2, 4}: both cross legs fire (2 near-dups corpus doc 1; 4
    // exactly duplicates it) and the within-batch leg fires on (2,4);
    // every reported pair must touch the batch.
    val sets = Dedup.shingleSets(docs, "doc_id", "text", shingleN = 2)
    val isNew = col("id") === 2L || col("id") === 4L
    val pairs = Dedup.incrementalMinhashPairs(sets, isNew,
        numPerm = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "batch-vs-corpus near-dup missed")
    assert(pairs.contains((1L, 4L)), "batch-vs-corpus exact-dup missed")
    assert(pairs.contains((2L, 4L)), "within-batch pair missed")
    // pairs with both sides in the corpus are out of scope by construction
    assert(pairs.forall { case (a, b) =>
      Set(2L, 4L).contains(a) || Set(2L, 4L).contains(b) },
      s"corpus-only pair leaked: $pairs")
  }

  test("simhash maxHamming=0 (single full-width chunk) still finds exact dups; out-of-range rejected") {
    // maxHamming=0 → one 64-bit chunk: the mask must keep the whole
    // signature (1L<<64 wraps to 1, so the naive mask is 0 and every doc
    // would land in one all-pairs bucket)
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 4L), "exact dup missed at maxHamming=0")
    assert(pairs.forall(_._3 == 0), s"pair beyond hamming 0 leaked: ${pairs.mkString(",")}")
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 64)
    }
  }

  test("Sessions.isolated inherits caller runtime conf, applies overrides, caller untouched") {
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val s2 = graft.operators.Sessions.isolated(spark,
        "spark.sql.adaptive.enabled" -> "false")
      assert(s2.conf.get("spark.sql.ansi.enabled") == "true",
        "caller's runtime conf not inherited by the isolated session")
      assert(s2.conf.get("spark.sql.adaptive.enabled") == "false")
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
        "override leaked back to the caller")
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("simhash pairs: exact dup at hamming 0, unrelated docs excluded") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val exact = pairs.find(p => p._1 == 1L && p._2 == 4L)
    assert(exact.exists(_._3 == 0))
    assert(!pairs.exists(p => (p._1 == 3L || p._2 == 3L) && p._3 == 0))
  }

  test("simhash 16-bit chunk keys: bounded, positive, pigeonhole-complete") {
    val sh = docs.select(col("doc_id"),
        Dedup.simhash64(Text.tokens(col("text"))).as("sh"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // the signature genuinely uses the widened top 16 bits
    assert(sh.exists { case (_, s) => (s >>> 48) != 0L },
      "no signature has bits above 47 set — simhash not actually 64-bit")
    // chunk keys are positive 16-bit values (the top chunk is sign-extended
    // by arithmetic shiftright before the mask)
    val chunkVals = sh.flatMap { case (_, s) =>
      (0 until 4).map(c => (s >> (c * 16)) & 0xFFFFL) }
    assert(chunkVals.forall(v => v >= 0L && v <= 0xFFFFL))
    // banded operator output == brute-force all-pairs hamming (pigeonhole
    // blocking at k=3 over 4 chunks may not drop any qualifying pair)
    val brute = (for {
      (a, sa) <- sh; (b, sb) <- sh if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h)).toSet
    val banded = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == brute)
  }

  test("ngram jaccard agrees with brute-force jaccard") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", shingleN = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over the same shingle sets
    def sh(t: String) = t.split(" ").sliding(2).map(_.mkString(" ")).toSet
    val texts = Map(1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy cat",
      3L -> "completely different content about spark engines and columns",
      4L -> "the quick brown fox jumps over the lazy dog",
      5L -> "lorem ipsum dolor sit amet consectetur adipiscing elit sed")
    val expected = (for {
      a <- texts.keys; b <- texts.keys if a < b
      ja = sh(texts(a)); jb = sh(texts(b))
      j = ja.intersect(jb).size.toDouble / ja.union(jb).size
      if j >= 0.5
    } yield (a, b)).toSet
    assert(pairs == expected)
  }

  test("clusters: min-label propagation finds connected components") {
    val s = spark; import s.implicits._
    // components: {1,2,3,7} (chain 1-2, 2-3, 3-7), {5,6}, {9,10}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 7L), (5L, 6L), (10L, 9L)).toDF("a", "b")
    val got = graft.operators.Dedup.clusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      5L -> 5L, 6L -> 5L, 9L -> 9L, 10L -> 9L))
  }

  test("clusters: a 300-hop chain converges within the default round budget") {
    val s = spark; import s.implicits._
    // worst-case shape for plain O(diameter) propagation; pointer jumping
    // must collapse it in ~log2(300) ≈ 9 of the default 20 rounds
    val chain = (0 until 300).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    val labels = graft.operators.Dedup.clusters(chain)
    assert(labels.where(col("cluster_rep") =!= 0L).count() == 0)
    assert(labels.count() == 301)
  }

  test("clusters: round conf never leaks to the caller's session (concurrent query safe)") {
    val s = spark; import s.implicits._
    val aqe0 = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val sp0 = spark.conf.get("spark.sql.shuffle.partitions")
    val pairs = (0 until 300).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    // poll the CALLER's conf from a second thread while clusters() runs its
    // rounds on the isolated session clone; any observed mutation fails
    @volatile var done = false
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val watcher = new Thread(() => {
      while (!done) {
        val a = spark.conf.get("spark.sql.adaptive.enabled", "true")
        val p = spark.conf.get("spark.sql.shuffle.partitions")
        if (a != aqe0) violations.add(s"adaptive.enabled=$a")
        if (p != sp0) violations.add(s"shuffle.partitions=$p")
        Thread.sleep(5)
      }
    })
    watcher.start()
    try {
      val labels = graft.operators.Dedup.clusters(pairs)
      // result is usable from the caller's session (re-rooted back)
      assert(labels.sparkSession eq spark)
      assert(labels.agg(countDistinct(col("cluster_rep"))).head().getLong(0) == 1L)
      val chain = (0 until 50).map(i => (i.toLong, Some((i + 1).toLong))).toDF("key", "ptr")
      val roots = graft.operators.Variant.followChain(chain, "key", "ptr")
      assert(roots.sparkSession eq spark)
      assert(roots.select(col("root")).distinct().count() == 1L)
    } finally { done = true; watcher.join() }
    assert(violations.isEmpty, s"caller-session conf mutated during rounds: $violations")
    assert(spark.conf.get("spark.sql.adaptive.enabled", "true") == aqe0)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == sp0)
  }

  test("clusters: throws instead of returning partial labels when budget too small") {
    val s = spark; import s.implicits._
    val chain = (0 until 64).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    intercept[IllegalStateException] {
      graft.operators.Dedup.clusters(chain, maxIter = 2)
    }
  }

  test("embedding near-dup threshold join is symmetric-free (a<b) and correct") {
    val pairs = Dedup.embeddingPairs(vecs, "id", "v", threshold = 0.9)
    assert(pairs.where(col("a") >= col("b")).count() == 0)
  }

  test("tiled embedding pair join == brute force, each pair exactly once") {
    // local brute force over the same deterministic vectors
    def vec(i: Int) = (0 until 16).map(j => (((i * 31 + j * 17) % 97) - 48) / 48.0f)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        val x = a(i).toDouble; val y = b(i).toDouble
        d += x * y; na += x * x; nb += y * y
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = (for {
      a <- 0 until 50; b <- 0 until 50 if a < b
      c = BigDecimal(cos(vec(a), vec(b))).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      if c >= BigDecimal("0.35")
    } yield (a.toLong, b.toLong)).toSet
    // several block counts, including numBlocks > n-per-block edge cases
    for (nb <- Seq(1, 3, 16)) {
      val got = Dedup.embeddingPairs(vecs, "id", "v", threshold = 0.35, numBlocks = nb)
        .select(col("a"), col("b"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == got.toSet.size, s"duplicate pairs at numBlocks=$nb")
      assert(got.toSet == expected, s"pair set mismatch at numBlocks=$nb")
    }
  }

  test("clusters: empty pair list returns an empty frame, never NPEs") {
    val s = spark; import s.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(graft.operators.Dedup.clusters(empty).count() == 0L)
  }

  test("zero-norm vectors are excluded from embedding pairing, never NaN-matched") {
    // cos(0-vector, anything) = 0/0 = NaN, and Spark's NaN-greatest
    // comparison semantics pass NaN through ANY threshold — a failed
    // embedding must produce NO pairs (r16 fix)
    val s = spark; import s.implicits._
    val rows = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.001f)),
      (9L, Array(0.0f, 0.0f))) // the failed/padded embedding
    val df = rows.toDF("id", "v")
    val exact = Dedup.embeddingPairs(df, "id", "v", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(exact.toSet == Set((1L, 2L)), s"got ${exact.toSeq}")
    val lsh = Dedup.embeddingLshPairs(df, "id", "v", threshold = 0.5, dim = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!lsh.exists(p => p._1 == 9L || p._2 == 9L), s"got ${lsh.toSeq}")
    val cents = Seq((0L, Array(1.0f, 0.0f))).toDF("centroid_id", "cvec")
    val sem = Dedup.semanticDedupBlocked(df, "id", "v", cents, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(sem(9L), "zero-norm vector must be KEPT (it pairs with nothing)")
    assert(sem(1L) && !sem(2L), "normal vectors keep the lowest-id greedy")
  }

  test("simhash: a bucket tower over maxBucket is dropped from pairing, others unaffected") {
    val s = spark; import s.implicits._
    // 8 identical docs (collide in every chunk) + one genuine near-dup
    // pair of a distinct text; maxBucket=4 drops the tower's buckets but
    // must keep the unrelated pair
    val tower = (1L to 8L).map(i => (i, "alpha beta gamma delta epsilon zeta"))
    // 20/21 are EXACT dups (hamming 0, collide in all chunks) so the
    // assertion never depends on a near-dup's hamming luck; they survive
    // the cap as a 2-member bucket
    val others = Seq(
      (20L, "one two three four five six seven eight nine ten"),
      (21L, "one two three four five six seven eight nine ten"))
    val docs = (tower ++ others).toDF("doc_id", "text")
    val capped = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3,
        maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!capped.exists(p => p._1 <= 8L || p._2 <= 8L),
      s"tower must be dropped from pairing: ${capped.toSeq}")
    assert(capped.toSet == Set((20L, 21L)), s"got ${capped.toSeq}")
  }

  test("minhash LSH: a bucket tower over maxBucket is dropped, others unaffected") {
    val s = spark; import s.implicits._
    // 8 identical docs collide in every band → every bucket they form
    // exceeds maxBucket=4 and must vanish under the window-count cap
    // (the r17 one-exchange shape); the unrelated exact-dup pair forms
    // 2-member buckets and must survive
    val tower = (1L to 8L).map(i =>
      (i, "alpha beta gamma delta epsilon zeta eta theta"))
    val others = Seq(
      (20L, "one two three four five six seven eight nine ten"),
      (21L, "one two three four five six seven eight nine ten"))
    val docs = (tower ++ others).toDF("doc_id", "text")
    val capped = Dedup.minhashPairs(docs, "doc_id", "text",
        numPerm = 64, bands = 16, threshold = 0.8, maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!capped.exists(p => p._1 <= 8L || p._2 <= 8L),
      s"tower must be dropped from pairing: ${capped.toSeq}")
    assert(capped.toSet == Set((20L, 21L)), s"got ${capped.toSeq}")
  }

  test("incremental dedup: a batch-internal tower is capped, corpus pairs unaffected") {
    val s = spark; import s.implicits._
    // first-ingest shape: corpus EMPTY for the tower's buckets; 9 exact
    // dups inside the batch share every band signature. maxBucket=4 must
    // drop the within-batch tower while the small corpus-vs-batch pair
    // survives.
    val towerText = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    val batchTower = (101L to 109L).map(i => (i, towerText, true))
    val pairText = "the quick brown fox jumps over the lazy dog again and again every day"
    val rows = batchTower ++ Seq(
      (1L, pairText, false), (110L, pairText + " extra", true))
    val sets = Dedup.shingleSets(
      rows.toDF("doc_id", "text", "is_new"), "doc_id", "text")
      .join(rows.toDF("id2", "t2", "is_new").select(col("id2").as("id"), col("is_new")), "id")
    val got = Dedup.incrementalMinhashPairs(sets, col("is_new"),
        threshold = 0.7, maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!got.exists(p => p._1 >= 101L && p._1 <= 109L && p._2 >= 101L && p._2 <= 109L),
      s"batch-internal tower must be capped: ${got.toSeq}")
    assert(got.toSet == Set((1L, 110L)), s"got ${got.toSeq}")
  }

  test("sortedNeighborhoodPairs: near-dups meet in the window, verified by exact jaccard") {
    val s = spark; import s.implicits._
    // docs 1/2 share 6 of 7 distinct trigrams (jaccard 6/7 ≈ 0.857 ≥ 0.8);
    // doc 3 is unrelated; docs 4/5 identical (jaccard 1.0)
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h i"),
      (3L, "x y z w v u t s"),
      (4L, "p q r s t u"),
      (5L, "p q r s t u")).toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text",
        window = 4, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    assert(got == Seq((1L, 2L), (4L, 5L)), got.toString)
  }

  test("sortedNeighborhoodPairs: two-phase rank is partition-invariant; short docs drop") {
    val s = spark; import s.implicits._
    val docs = ((1L to 20L).map(i => (i, s"tok$i alpha beta gamma delta tok$i")) ++
      Seq((21L, "alpha beta gamma delta one two"),
        (22L, "alpha beta gamma delta one two three"),
        (23L, "wd"))).toDF("doc_id", "text") // doc 23: < 3 tokens, excluded
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.sortedNeighborhoodPairs(df, "doc_id", "text", window = 3, threshold = 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    val a = run(docs.repartition(1))
    val b = run(docs.repartition(9, col("doc_id")))
    assert(a == b, s"rank not partition-invariant: $a vs $b")
    assert(a.contains((21L, 22L)), a.toString)
    assert(!a.exists(p => p._1 == 23L || p._2 == 23L))
  }

  test("semanticDedupBlocked: within-cell greedy keeps lowest id, cross-cell pairs untouched") {
    val s = spark; import s.implicits._
    // two well-separated directions; ids 0,1,2 ~ +x (near-dups), ids
    // 10,11 ~ +y (near-dups), id 20 alone near -x. Centroids = +x, +y.
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat, 0f, 0f)
    val items = Seq(
      (0L, v(1, 0.00)), (1L, v(1, 0.01)), (2L, v(1, -0.01)),
      (10L, v(0.01, 1)), (11L, v(-0.01, 1)),
      (20L, v(-1, 0.3))).toDF("vec_id", "embedding")
    val cent = Seq((100L, v(1, 0)), (200L, v(0, 1))).toDF("centroid_id", "cvec")
    val got = Dedup.semanticDedupBlocked(items, "vec_id", "embedding", cent, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
    // 20 lands in the +x cell (cos≈-0.95 vs -0.29... nearest is +y? compute:
    // cos((-1,0.3),(1,0))≈-0.957; cos((-1,0.3),(0,1))≈0.287 → cell 200) but
    // is far from 10/11 (cos≈0.27 < 0.9) so it survives
    assert(got == Seq(
      (0L, 100L, true), (1L, 100L, false), (2L, 100L, false),
      (10L, 200L, true), (11L, 200L, false), (20L, 200L, true)), got.toString)
  }

  test("semanticDedupBlocked: an over-full cell is excluded from pairing, members kept") {
    val s = spark; import s.implicits._
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    val items = Seq((0L, v(1, 0)), (1L, v(1, 0.01)), (2L, v(1, -0.01)),
      (10L, v(0, 1)), (11L, v(0.01, 1))).toDF("vec_id", "embedding")
    val cent = Seq((100L, v(1, 0)), (200L, v(0, 1))).toDF("centroid_id", "cvec")
    val got = Dedup.semanticDedupBlocked(items, "vec_id", "embedding", cent,
        threshold = 0.9, maxCell = 2)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).sortBy(_._1).toSeq
    // the 3-member +x cell exceeds maxCell=2 → all kept; the 2-member +y
    // cell still dedups
    assert(got == Seq((0L, true), (1L, true), (2L, true),
      (10L, true), (11L, false)), got.toString)
  }

  test("cosine/dot fail loudly on a dimension mismatch (codegen and interpreted)") {
    val s = spark; import s.implicits._
    val bad = Seq((Array(1f, 2f, 3f), Array(1f, 2f))).toDF("a", "b")
    for (wsc <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", wsc)
      try {
        val e = intercept[Exception] {
          bad.select(Similarity.cosine(col("a"), col("b"))).collect()
        }
        def msgs(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
        assert(msgs(e).exists(_.contains("length mismatch")), s"wsc=$wsc: $e")
        val e2 = intercept[Exception] {
          bad.select(graft.plans.VectorExpressions.dotProduct(col("a"), col("b"))).collect()
        }
        assert(msgs(e2).exists(_.contains("length mismatch")), s"wsc=$wsc: $e2")
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("minhash kernel matches HOF for negative hash inputs (floorMod = pmod)") {
    val s = spark; import s.implicits._
    val neg = Seq(Seq(-5L, -2147483650L, 7L, 0L)).toDF("hs")
    val both = neg.select(
      Dedup.minhashSignature(col("hs"), 8).as("cg"),
      Dedup.minhashSignatureHof(col("hs"), 8).as("hof"))
    assert(both.where(to_json(col("cg")) =!= to_json(col("hof"))).count() == 0)
  }

  test("k-means IVF beats arbitrary-centroid IVF recall on real embeddings") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.t(spark, sf, "embeddings")
    val queries = emb.where(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(r.fieldIndex("query_id")), r.getLong(r.fieldIndex("item_id")))).toSet
    val brute = pairs(graft.operators.Ann.bruteTopK(emb, queries, "vec_id", "embedding", 10))
    val km = graft.operators.Ann.kmeansCentroids(emb, "vec_id", "embedding", k = 6, iters = 2)
    assert(km.count() == 6)
    val ivf = pairs(graft.operators.Ann.ivfTopK(emb, queries, km, "vec_id", "embedding", 10, nprobe = 2))
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.6, f"k-means IVF recall@10: $recall%.2f")
  }

  test("IVF ANN reaches usable recall against brute force on real embeddings") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.t(spark, sf, "embeddings")
    val queries = emb.where(col("vec_id") < 10)
    val centroids = emb.where(pmod(col("vec_id"), lit(97)) === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
    val k = 10
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(r.fieldIndex("query_id")), r.getLong(r.fieldIndex("item_id")))).toSet
    val brute = pairs(graft.operators.Ann.bruteTopK(emb, queries, "vec_id", "embedding", k))
    val ivf = pairs(graft.operators.Ann.ivfTopK(emb, queries, centroids, "vec_id", "embedding", k, nprobe = 2))
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.5, f"IVF recall@10 too low: $recall%.2f")
  }

  test("brute-force ANN: top-1 of a vector's own duplicate is that duplicate") {
    val s = spark; import s.implicits._
    val items = vecs.union(Seq((999L, (0 until 16).map(j => (((7 * 31 + j * 17) % 97) - 48) / 48.0f).toArray)).toDF("id", "v"))
    val queries = items.where(col("id") === 999L)
    val top = graft.operators.Ann.bruteTopK(items, queries, "id", "v", k = 1).first()
    assert(top.getLong(top.fieldIndex("item_id")) == 7L) // identical vector
  }

  test("exact cluster centroids are bit-identical under repartitioning (order-free integer sums)") {
    val s = spark; import s.implicits._
    val members = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L)).toDF("id", "cluster_rep")
    // doubles chosen to be rounding-hostile (non-terminating binary fractions)
    val emb = Seq.tabulate(5)(i => ((i + 1).toLong,
      Array.tabulate(8)(j => ((i + 1) * 0.1f + j * 0.07f - 0.3f)))).toDF("vid", "v")
    def run(e: org.apache.spark.sql.DataFrame) =
      graft.operators.Ann.clusterCentroidsExact(members, e, "vid", "v")
        .orderBy(col("cluster_rep"), col("pos")).collect().toSeq
    val a = run(emb)
    val b = run(emb.repartition(7))
    assert(a == b, "centroids changed under repartitioning")
    // and the mean really is sum/n on the nano grid
    val r0 = a.head
    assert(r0.getDouble(r0.fieldIndex("centroid")) ==
      r0.getLong(r0.fieldIndex("c_nano")).toDouble / (r0.getLong(r0.fieldIndex("n_members")).toDouble * 1e9))
  }

  test("LSH hyperplanes are deterministic and sign-balanced") {
    val hps = (0 until 8).map(j => graft.operators.Ann.hyperplane(j, 64))
    assert(hps == (0 until 8).map(j => graft.operators.Ann.hyperplane(j, 64)))
    // the md5 sign bits must not collapse to a constant or parity pattern
    hps.foreach { hp => assert(math.abs(hp.sum) <= 24, s"degenerate plane: $hp") }
    assert(hps.distinct.size == 8, "hyperplanes must differ across j")
  }

  test("multiprobe LSH ANN beats its candidate-fraction baseline on real embeddings") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.t(spark, sf, "embeddings")
    val queries = emb.where(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(r.fieldIndex("query_id")), r.getLong(r.fieldIndex("item_id")))).toSet
    val brute = pairs(graft.operators.Ann.bruteTopK(emb, queries, "vec_id", "embedding", 10))
    val lsh = pairs(graft.operators.Ann.lshTopK(emb, queries, "vec_id", "embedding",
      dim = 64, bits = 5, k = 10))
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    // probing 6 of 32 buckets examines ~19% of the corpus; sign-correlated
    // buckets must recover clearly more than that random-candidate baseline
    // (these embeddings are near-isotropic — see SURVEY §2C — so recall
    // here is structurally modest; more bits + probes is the scale lever)
    assert(recall >= 0.3, f"LSH recall@10: $recall%.2f not above candidate baseline")
  }

  test("int8-rerank cascade recalls nearly all brute-force neighbors on real embeddings") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.t(spark, sf, "embeddings")
    val queries = emb.where(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(r.fieldIndex("query_id")), r.getLong(r.fieldIndex("item_id")))).toSet
    val brute = pairs(graft.operators.Ann.bruteTopK(emb, queries, "vec_id", "embedding", 10))
    val cascade = pairs(graft.operators.Ann.int8Rerank(emb, queries, "vec_id", "embedding",
      k = 10, candidates = 50))
    val recall = brute.intersect(cascade).size.toDouble / brute.size
    info(f"int8 cascade recall@10 vs brute: $recall%.3f")
    // int8 max-abs quantization keeps cosine order almost intact
    // (reconstruction cosine ~0.9999 on 64-dim, c38), so a 5× candidate
    // margin should recover essentially everything; the measured figure
    // is printed above and recorded in docs/PLANS.md. Bound left slightly
    // loose for tie-order wobble near the rank-50 frontier.
    assert(recall >= 0.95, f"int8 cascade recall@10: $recall%.2f")
  }

  test("slice-rerank cascade: exact at full candidates, measured recall at 50") {
    // two laws of Ann.sliceRerankTopK (c122): (1) with candidates >= n
    // the coarse cut keeps everything, so the cascade MUST equal brute
    // top-k exactly — the rerank stage is brute-force by construction;
    // (2) at the production dial (50) the 8-of-64-dim coarse metric
    // still recovers most true neighbors (recorded, not just asserted).
    val sf = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.t(spark, sf, "embeddings")
    val queries = emb.where(col("vec_id") < 10)
    val sliced = emb.select(col("vec_id"), slice(col("embedding"), 1, 8).as("embedding"))
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(r.fieldIndex("query_id")), r.getLong(r.fieldIndex("item_id")))).toSet
    val brute = pairs(graft.operators.Ann.bruteTopK(emb, queries, "vec_id", "embedding", 10))
    val exactAll = pairs(graft.operators.Ann.sliceRerankTopK(sliced, emb, queries,
      "vec_id", "embedding", sliceFrom = 0, sliceLen = 8, k = 10, candidates = 100000))
    assert(exactAll == brute, "cascade at full candidates must equal brute top-k")
    val at50 = pairs(graft.operators.Ann.sliceRerankTopK(sliced, emb, queries,
      "vec_id", "embedding", sliceFrom = 0, sliceLen = 8, k = 10, candidates = 50))
    val recall = brute.intersect(at50).size.toDouble / brute.size
    info(f"slice(8/64) cascade recall@10 vs brute at candidates=50: $recall%.3f")
    // 8 of 64 near-isotropic dims is a weak coarse signal (unlike int8,
    // which preserves the full geometry) — the floor documents the
    // approximation honestly rather than claiming int8-grade recall
    assert(recall >= 0.3, f"slice cascade recall@10: $recall%.2f")
  }

  test("banded-LSH embedding pairs: subset of exact, no dups, high recall, no BNLJ") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.t(spark, sf, "embeddings")
    val lshDf = Dedup.embeddingLshPairs(emb, "vec_id", "embedding",
      threshold = 0.35, dim = 64, bits = 4, tables = 16)
    // the candidate front must never degrade the plan to an unblocked
    // cross/broadcast-nested-loop join — that's the whole point
    val phys = lshDf.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"),
      s"unblocked join in LSH pair plan:\n$phys")
    val lsh = lshDf.select(col("a"), col("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(lsh.length == lsh.toSet.size, "duplicate pairs from multi-table collisions")
    val exact = Dedup.embeddingPairs(emb, "vec_id", "embedding", threshold = 0.35)
      .select(col("a"), col("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.toSet.subsetOf(exact), "LSH output must be exact-verified (subset of exact)")
    // deterministic md5 planes: measured once, stable forever. bits=4 ×
    // tables=16 predicts ~0.91 at the threshold; these near-isotropic
    // vectors measure ~0.93 at sf0.01 (docs/PLANS.md)
    val recall = lsh.toSet.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.85, f"banded-LSH pair recall: $recall%.3f")
  }

  test("banded-LSH at the production operating point (cos>=0.8, bits=8/tables=16) recalls >=0.95") {
    // The testdata embeddings are near-isotropic (max pair cosine ~0.5), so
    // the production threshold has no qualifying pairs there; plant them.
    // Deterministic synthetic corpus: independent pseudo-random base
    // vectors (splitmix64 finalizer — a bare multiplicative hash on
    // sequential seeds is a Weyl sequence whose vectors correlate heavily;
    // caught when the 'ground truth' came out 300x the planted set) plus
    // perturbed near-dups v + eps*u with eps in [0.25, 0.70) => planted
    // cosines span ~[0.83, 0.97] — including pairs near the threshold,
    // not just easy ones. Independence math predicts 1-(1-p^8)^16 >= 0.94
    // at cos 0.8 exactly and ~0.996 at cos 0.9; the mix must land >= 0.95
    // (docs/PLANS.md records the measured value).
    val s = spark; import s.implicits._
    def h(seed: Long): Float = {
      var z = seed + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      (((z >>> 11).toDouble / (1L << 53).toDouble) * 2 - 1).toFloat
    }
    val nBase = 1500; val nDup = 400; val dim = 64
    val base = (0 until nBase).map { i =>
      (i.toLong, (0 until dim).map(k => h(i.toLong * dim + k + 1)).toArray)
    }
    val dups = (0 until nDup).map { i =>
      val eps = 0.25f + 0.45f * (i % 10) / 10f
      val u = (0 until dim).map(k => h((i + 100000L) * dim + k + 7))
      ((nBase + i).toLong, base(i)._2.zip(u).map { case (a, b) => a + eps * b })
    }
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    val exact = Dedup.embeddingPairs(emb, "vec_id", "embedding", threshold = 0.8)
      .select(col("a"), col("b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // all planted pairs qualify; random 64-dim base pairs sit ~6 sigma
    // below 0.8, so the ground truth is essentially the planted set
    assert(exact.size >= nDup * 9 / 10, s"ground truth too small: ${exact.size}")
    val lsh = Dedup.embeddingLshPairs(emb, "vec_id", "embedding",
        threshold = 0.8, dim = dim, bits = 8, tables = 16)
      .select(col("a"), col("b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH output must be exact-verified (subset of exact)")
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    info(f"production-point recall: ${lsh.size}/${exact.size} = $recall%.4f")
    assert(recall >= 0.95, f"recall at bits=8/tables=16, cos>=0.8: $recall%.4f")
  }

  test("prefix-filtered jaccard equals the inverted-index jaccard, pair for pair") {
    // two exact algorithms, one semantics: the PPJoin prefix filter must
    // lose nothing vs the full posting-list join (the pigeonhole argument
    // in Dedup.prefixJaccardPairsOf), on real near-dup-bearing data
    // NOT persisted here: this plan is identical to the memoized shared
    // index's, and unpersisting it would evict that cache by plan match
    // (CacheManager keys on the logical plan), breaking the c02 cache
    // plan-assert when suites share the session
    val real = graft.sources.Tables.t(spark, "/root/testdata/sf0.001", "documents")
    val sets = Dedup.shingleSets(real, "doc_id", "text", shingleN = 3)
    val inv = Dedup.ngramJaccardPairsOf(sets, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pre = Dedup.prefixJaccardPairsOf(sets, tNum = 4, tDen = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inv.nonEmpty, "fixture should contain near-dups")
    assert(pre == inv, s"prefix filter diverged: missing=${inv -- pre} extra=${pre -- inv}")
  }

  test("lsh advisor: measured bucket stats equal a direct banding recount; chosen = c02 point") {
    // the advisor's cand_pairs / hot_buckets / max_bucket must equal an
    // independent recount of the same banding (signature slices grouped
    // by hand), and on the real corpus the decision rule must land on
    // the proven c02 operating point (bands=16)
    val real = graft.sources.Tables.t(spark, "/root/testdata/sf0.001", "documents")
    val sets = Dedup.shingleSets(real, "doc_id", "text", shingleN = 3)
    val got = Dedup.lshParamAdvisor(sets).collect()
      .map(r => r.getInt(0) -> r).toMap
    val sigs = sets.withColumn("sig", Dedup.minhashSignature(col("hs"), 64))
      .select(col("id"), col("sig")).collect()
      .map(r => r.getSeq[Long](1).toIndexedSeq)
    for (b <- Seq(8, 16, 32)) {
      val r = 64 / b
      val buckets = sigs.flatMap(sig =>
          (0 until b).map(i => (i, sig.slice(i * r, i * r + r))))
        .groupBy(identity).map(_._2.length)
      val row = got(b)
      assert(row.getLong(6) == buckets.map(n => n.toLong * (n - 1) / 2).sum,
        s"cand_pairs mismatch at bands=$b")
      assert(row.getLong(4) == buckets.count(_ >= 2).toLong,
        s"hot_buckets mismatch at bands=$b")
      assert(row.getLong(5) == buckets.max.toLong, s"max_bucket mismatch at bands=$b")
    }
    assert(got(16).getBoolean(8) && !got(8).getBoolean(8) && !got(32).getBoolean(8),
      "advisor should choose bands=16 (the c02 operating point) on this corpus")
    assert(got(16).getBoolean(7), "the chosen config must be eligible")
    // chosen REQUIRES eligibility: with an unreachable recall floor no
    // config may be chosen (the r16 contract fix — previously the
    // cheapest INELIGIBLE config was silently marked chosen)
    val none = Dedup.lshParamAdvisor(sets, recallFloorMilli = 1001L).collect()
    assert(none.forall(r => !r.getBoolean(8)),
      "no config clears an impossible recall floor — chosen must be all-false")
    assert(none.forall(r => !r.getBoolean(7)))
  }

  test("bloom advisor: sizing rule exact, chosen minimal-eligible, fp facts hold") {
    val s = spark; import s.implicits._
    val hs = (1L to 100L).toDF("k")
      .select(graft.functions.Text.tokenHash(concat(lit("m"), col("k").cast("string"))).as("h"))
      .distinct()
    val got = graft.operators.Pipeline.bloomAdvisor(hs)
      .orderBy(col("m_bits")).collect()
    // n=100, k=10: min_bits = ceil(1000/ln2) = (1000*10000+6930)//6931 = 1443
    assert(got.forall(_.getLong(3) == 1443L), s"min_bits rule broken: ${got.toSeq}")
    assert(got.forall(_.getBoolean(4)), "all three candidates are eligible at n=100")
    assert(got.map(r => r.getInt(0) -> r.getBoolean(5)).toMap ==
      Map(16384 -> true, 65536 -> false, 262144 -> false),
      "chosen must be the smallest eligible size")
    assert(got.forall(_.getBoolean(6)), "fp_ok must hold for eligible sizes")
    // fp_count is REPORTED, not asserted monotone (r9 ADVICE): rates
    // falling with m is expected but not theorem-backed across
    // independently hashed filters — assert only that the measured counts
    // are sane nonnegative values under the probe total.
    assert(got.forall(r => r.getLong(7) >= 0L && r.getLong(7) <= (1L << 16)),
      "fp_count must be a sane probe-bounded count")
    info(s"measured fp_counts by m_bits: ${got.map(r => r.getInt(0) -> r.getLong(7)).toSeq}")
  }

  test("advisors do not pin unbounded storage: repeat calls reuse memoized entries") {
    // The name is from when the advisors kept their own plan-keyed memo.
    // They now take the frames they read, and the caller decides what is
    // persisted: c96 and c100 read `Shared` entries, whose reuse across
    // repeat runs SharedSpec's warm test checks. So no advisor call may
    // persist anything (r9 VERDICT #4: a bare persist pins storage for
    // the app's life).
    val s = spark; import s.implicits._
    def persisted = s.sparkContext.getPersistentRDDs.keySet
    val hs = (1L to 50L).toDF("k")
      .select(graft.functions.Text.tokenHash(concat(lit("u"), col("k").cast("string"))).as("h"))
      .distinct()
    val t1 = (1L to 40L).toDF("tok").select(col("tok").cast("string").as("tok"))
    val t2 = (20L to 60L).toDF("tok").select(col("tok").cast("string").as("tok"))
    val sketches = Seq("t1" -> t1, "t2" -> t2).map { case (n, toks) =>
      n -> graft.functions.CountMin.build(toks, "tok", d = 4, width = 64)
    }
    val before = persisted
    (1 to 2).foreach { i =>
      graft.operators.Pipeline.bloomAdvisor(hs).collect()
      assert(persisted == before, s"bloomAdvisor call $i persisted ${persisted -- before}")
      graft.functions.CountMin.joinOrderAdvisor(sketches).collect()
      assert(persisted == before, s"joinOrderAdvisor call $i persisted ${persisted -- before}")
    }
  }

  test("canonical dedup merges case/punctuation variants byte-exact dedup keeps apart") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "Hello, world!"), (2L, "hello world"), (3L, "HELLO  world."),
      (4L, "goodbye world")).toDF("doc_id", "text")
    val got = Dedup.canonicalExact(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // three reformattings of one sentence collapse (3 raw variants), the
    // fourth doc stands alone; c01-style byte dedup would find 4 groups
    assert(got == Set((1L, 3L, 3L), (4L, 1L, 1L)), got.toString)
  }

  test("editDistancePairs: finds the 1-edit title pair, drops far pairs, blocks by lead token") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta"),       // 1 edit from doc 2's title
      (2L, "alpha beta gamna delta"),
      (3L, "alpha completely different words here entirely unrelated text"),
      (4L, "omega beta gamma delta"))       // near doc 1 but lead token differs
      .toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(df, "doc_id", "text", keyTokens = 8, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // (1,2) at distance 1; (1,3)/(2,3) share the block but exceed maxDist;
    // (1,4) is 1 lead-token edit away but escapes the block — the
    // documented recall bound of blocked candidate generation
    assert(got == Set((1L, 2L, 1)), got.toString)
  }

  test("editDistancePairs: length pre-filter never drops a true pair (theorem check)") {
    val s = spark; import s.implicits._
    // brute-force all same-block pairs WITHOUT the length filter and
    // assert the operator returns exactly the lev<=maxDist subset
    val docs = (0L until 40L).map { i =>
      val words = (0 until 8).map(j => "w" + ((i * 7 + j * j) % 5)).mkString(" ")
      (i, words)
    }
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(df, "doc_id", "text", keyTokens = 8, maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      (ia, ta) <- docs; (ib, tb) <- docs
      if ia < ib && ta.split(" ").head == tb.split(" ").head && lev(ta, tb) <= 6
    } yield (ia, ib)).toSet
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
  }

  test("ivfProbeAdvisor: recall monotone in nprobe, exactly one chosen row, valid decision") {
    val s = spark
    val emb = graft.sources.Tables.t(s, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.where(col("vec_id") < 5)
    val cents = emb.where(pmod(col("vec_id"), lit(97)) === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
    val rows = graft.operators.Ann.ivfProbeAdvisor(emb, queries, cents,
        "vec_id", "embedding", k = 10, probes = Seq(1, 2, 4), targetPpm = 900000L)
      .orderBy("nprobe").collect()
    assert(rows.length == 3)
    val recalls = rows.map(r => r.getAs[Long]("recall_ppm"))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall must be monotone in nprobe: ${recalls.toSeq}")
    assert(recalls.forall(r => r >= 0 && r <= 1000000), recalls.toSeq.toString)
    val chosen = rows.filter(_.getAs[Boolean]("chosen"))
    assert(chosen.length == 1, s"exactly one chosen, got ${chosen.length}")
    val eligible = rows.filter(_.getAs[Long]("recall_ppm") >= 900000L)
    val wantProbe =
      if (eligible.nonEmpty) eligible.map(_.getAs[Int]("nprobe")).min
      else rows.map(_.getAs[Int]("nprobe")).max
    assert(chosen.head.getAs[Int]("nprobe") == wantProbe,
      s"chosen=${chosen.head} want nprobe=$wantProbe")
    // the nested-candidate running-count rank must agree with ivfTopK at
    // the top probe: hits at nprobe=4 == |ivfTopK(nprobe=4) ∩ brute|
    val ivf4 = graft.operators.Ann.ivfTopK(emb, queries, cents,
        "vec_id", "embedding", k = 10, nprobe = 4)
      .select(col("query_id"), col("item_id"))
    val brute = graft.operators.Ann.bruteTopK(emb, queries, "vec_id", "embedding", 10)
      .select(col("query_id"), col("item_id"))
    val wantH4 = ivf4.join(brute, Seq("query_id", "item_id")).count()
    assert(rows.last.getAs[Long]("hits") == wantH4,
      s"running-count hits ${rows.last} != ivfTopK∩brute $wantH4")
  }

  test("CDC chunks re-align after a front insertion (fixed strides would not)") {
    val s = spark; import s.implicits._
    val base = (1 to 80).map(i => "w" + (i * 31 % 57)).mkString(" ")
    val df = Seq((1L, base), (2L, "zzz " + base)).toDF("doc_id", "text")
    val got = Dedup.cdcChunkDedup(df, "doc_id", "text", w = 2, gearMod = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // the inserted token shifts every downstream POSITION in doc 2, but
    // boundaries are content-defined, so chunks after the first shared
    // boundary are verbatim-equal across the two docs
    assert(got(1L)._2 > 0 && got(2L)._2 > 0,
      s"expected shared chunks despite the shift, got $got")
    // and the chunking is total: chunk counts are positive and within
    // position counts
    assert(got(1L)._1 > 1, s"fixture should cut multiple chunks: $got")
  }
}
