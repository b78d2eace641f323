package graft

import org.apache.spark.sql.functions._
import graft.operators.Scale
import graft.sources.{Catalog, Tables}

/** Scale helpers: bucketed co-located joins and skew-safe distinct. */
class ScaleSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("bucketed tables join without any shuffle exchange") {
    // warehouse.dir is a static conf; tables land in the default
    // spark-warehouse dir and are dropped below
    Scale.writeBucketed(
      Tables.t(spark, sf, "orders").select(col("o_orderkey"), col("o_totalprice")),
      "orders_b", "o_orderkey", 8)
    Scale.writeBucketed(
      Tables.t(spark, sf, "lineitem").select(col("l_orderkey"), col("l_quantity")),
      "lineitem_b", "l_orderkey", 8)
    val joined = spark.table("lineitem_b")
      .join(spark.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
    // force a plan without broadcast so the shuffle question is real
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      // and it computes the right thing
      val n = joined.count()
      assert(n == Tables.t(spark, sf, "lineitem").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("bucketedTable: a second session of the same app reuses the files, never rewrites") {
    // The lifetime invariant from Formats.bucketedTable's scaladoc: catalog
    // registration (SharedState, JVM-wide) and files (app-id-keyed scratch)
    // share the application lifetime, so a newSession clone — the
    // Sessions.isolated shape — must see tableExists and NOT overwrite
    // buckets the first session may be mid-read on.
    val s1 = spark
    def build(s: org.apache.spark.sql.SparkSession) =
      graft.sources.Formats.bucketedTable(s, "xsess", sf,
        Tables.t(s, sf, "orders").select(col("o_orderkey"), col("o_custkey")),
        "o_custkey", 4)
    val n1 = build(s1).count()
    val succ = new java.io.File(
      graft.sources.Formats.scratchDir(s1, "bkt_xsess", sf), "_SUCCESS")
    assert(succ.exists(), s"bucketed write left no success marker at $succ")
    val mtime = succ.lastModified()
    Thread.sleep(1100) // some filesystems stamp mtime at 1 s granularity
    val s2 = s1.newSession()
    assert(build(s2).count() == n1)
    assert(succ.lastModified() == mtime,
      "second session rewrote the bucketed files instead of reusing the registration")
  }

  test("AQE splits a skewed join partition at runtime") {
    val s = spark; import s.implicits._
    val prev = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" ->
        s.conf.getOption("spark.sql.adaptive.skewJoin.skewedPartitionFactor"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        s.conf.getOption("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        s.conf.getOption("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "spark.sql.autoBroadcastJoinThreshold" ->
        s.conf.getOption("spark.sql.autoBroadcastJoinThreshold"))
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "20KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "20KB")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // 100k rows on ONE key vs a near-uniform right side
      val left = (1 to 100000).map(i => (1L, i)).toDF("k", "v")
        .union((1 to 1000).map(i => (i.toLong + 1, i)).toDF("k", "v"))
      val right = (1 to 1001).map(i => (i.toLong, s"r$i")).toDF("k", "name")
      val joined = left.join(right, "k")
      // collect() executes THIS QueryExecution, finalizing its adaptive plan
      // (count() would plan a separate query and leave this one unexecuted)
      assert(joined.collect().length == 101000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected AQE skew-split in final plan:\n$finalPlan")
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("skewSafeCountDistinct matches countDistinct exactly") {
    val li = Tables.t(spark, sf, "lineitem")
    val safe = Scale.skewSafeCountDistinct(li, "l_returnflag", "l_orderkey")
      .orderBy("l_returnflag").collect().map(r => (r.getString(0), r.getLong(1)))
    val direct = li.groupBy("l_returnflag").agg(countDistinct("l_orderkey").as("n"))
      .orderBy("l_returnflag").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(safe.toSeq == direct.toSeq)
  }

  test("SQL functions from GraftExtensions match the Column API") {
    graft.plans.GraftExtensions.register(spark)
    Catalog.register(spark, sf)
    val viaSql = spark.sql(
      """SELECT doc_id, simhash64(split(text, ' ')) AS sh,
        |  minhash_sig(shingle_hashes(split(text, ' '), 3), 4)[0] AS m0
        |FROM documents ORDER BY doc_id""".stripMargin).collect()
    val viaApi = Tables.t(spark, sf, "documents")
      .select(col("doc_id"),
        graft.operators.Dedup.simhash64(graft.functions.Text.tokens(col("text"))).as("sh"),
        element_at(graft.operators.Dedup.minhashSignature(
          graft.functions.Text.shingleHashes(col("text"), 3), 4), 1).as("m0"))
      .orderBy("doc_id").collect()
    assert(viaSql.map(_.toSeq).toSeq == viaApi.map(_.toSeq).toSeq)

    val cos = spark.sql(
      "SELECT cosine_sim(embedding, embedding) AS c FROM embeddings LIMIT 5").collect()
    assert(cos.forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-9))
  }

  test("catalog layer: views resolve and SQL plans prune/push down") {
    Catalog.register(spark, sf)
    val df = spark.sql("SELECT l_orderkey FROM lineitem WHERE l_quantity > 45")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("l_quantity"))
    assert(df.count() > 0)
  }

  test("schema evolution: mergeSchema unifies parts written with different columns") {
    val s = spark; import s.implicits._
    val dir = tempDir("graft_evolve").toString
    Seq((1L, "a")).toDF("id", "v1").write.parquet(s"$dir/p=1")
    Seq((2L, 3.5)).toDF("id", "v2").write.parquet(s"$dir/p=2")
    val merged = s.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("id", "p", "v1", "v2"))
    val byId = merged.collect().map(r => r.getLong(r.fieldIndex("id")) -> r).toMap
    assert(byId(1L).getString(byId(1L).fieldIndex("v1")) == "a")
    assert(byId(1L).isNullAt(byId(1L).fieldIndex("v2"))) // old part: new col null
    assert(byId(2L).getDouble(byId(2L).fieldIndex("v2")) == 3.5)
  }

  test("packByBudget: distributed two-phase cumsum is invariant to partition count") {
    val s = spark; import s.implicits._
    val rows = (1L to 997L).map(i => (i, (i * 37 % 120) + 1))
    val df = rows.toDF("id", "w")
    val expected = {
      // reference: sequential exclusive cumsum on the driver
      var cum = 0L
      rows.map { case (i, w) => val sh = cum / 5000L; cum += w; (i, sh) }.toMap
    }
    Seq(1, 3, 32).foreach { hint =>
      val got = graft.operators.Pipeline
        .packByBudget(df.repartition(7), "id", "w", budget = 5000L, numShardsHint = hint)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got == expected, s"shard assignment diverged at numShardsHint=$hint")
    }
  }

  test("packByBudget: shards are contiguous in id order and respect the budget") {
    val s = spark; import s.implicits._
    val df = (1L to 500L).map(i => (i, 100L)).toDF("id", "w")
    val got = graft.operators.Pipeline.packByBudget(df, "id", "w", budget = 1000L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(2)))
    // weight 100, budget 1000 → exactly 10 docs per shard, ids contiguous
    assert(got.forall { case (id, sh) => sh == (id - 1) / 10 })
  }

  test("packGreedy matches the sequential reference fold at any partition count") {
    val s = spark; import s.implicits._
    val cap = 100L
    val rows = (1L to 500L).map(i => (i, i % 7, (i * 13 % 90) + 1))
    val df = rows.toDF("id", "shard", "w")
    val expected = rows.groupBy(_._2).flatMap { case (sh, docs) =>
      var fill = 0L; var pack = -1L
      docs.sortBy(_._1).map { case (id, _, w) =>
        if (pack < 0 || fill + w > cap) { pack += 1; fill = w } else fill += w
        id -> ((sh, pack, w))
      }
    }
    Seq(1, 5, 32).foreach { parts =>
      val got = graft.operators.Pipeline
        .packGreedy(df.repartition(parts), "id", "w", capacity = cap)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got == expected.toMap, s"fold diverged at input partitions=$parts")
    }
  }

  test("packGreedy: packs never exceed capacity except oversized singletons") {
    val s = spark; import s.implicits._
    // mix of small docs and three oversized ones (w > capacity)
    val df = ((1L to 60L).map(i => (i, 0L, 30L)) ++
      Seq((100L, 0L, 999L), (101L, 1L, 500L), (102L, 1L, 40L))).toDF("id", "shard", "w")
    val packs = graft.operators.Pipeline.packGreedy(df, "id", "w", capacity = 128L)
      .groupBy(col("shard"), col("pack"))
      .agg(sum(col("w")).as("fill"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    assert(packs.nonEmpty)
    packs.foreach { case (fill, n) =>
      assert(fill <= 128L || n == 1L, s"overfull multi-doc pack: fill=$fill n=$n")
    }
  }

  test("saltedJoin equals the plain join on a skewed fixture, for duplicate small-side keys too") {
    val s = spark; import s.implicits._
    // hot key 1 (10k rows) + tail; small side has a DUPLICATE key (1 twice)
    val big = (1 to 10000).map(i => (1L, i)).toDF("k", "v")
      .union((1 to 50).map(i => (i.toLong + 1, i)).toDF("k", "v"))
    val small = Seq((1L, "a"), (1L, "a2"), (2L, "b"), (3L, "c")).toDF("k", "name")
    val salted = Scale.saltedJoin(big, small, "k", salts = 8)
      .groupBy(col("k"), col("name")).agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    val plain = big.join(small, Seq("k"))
      .groupBy(col("k"), col("name")).agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty,
      "salted join result diverged from the plain join")
    // the join itself must be the salted merge shape, not a broadcast
    val plan = Scale.saltedJoin(big, small, "k", salts = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected the pinned SMJ:\n$plan")
    assert(plan.contains("__salt"), s"salt missing from the join key:\n$plan")
  }

  test("weightedSample: weight-proportional draw, bit-stable under repartition") {
    val s = spark; import s.implicits._
    import graft.operators.Pipeline
    // 900 light docs (1 ticket) vs 100 heavy (64 tickets): heavy docs hold
    // ~88% of the ticket mass, so a 50-doc draw should be dominated by them
    val df = ((1 to 900).map(i => (i.toLong, 1L)) ++ (901 to 1000).map(i => (i.toLong, 64L)))
      .toDF("doc_id", "w")
    def run(d: org.apache.spark.sql.DataFrame) =
      Pipeline.weightedSample(d, "doc_id", col("w"), k = 50)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val a = run(df)
    assert(a == run(df.repartition(7)), "sample changed under repartitioning")
    val heavy = a.count(_._1 > 900)
    assert(heavy >= 35, s"weight-proportionality violated: only $heavy/50 heavy docs drawn")
    // zero/negative weights draw nothing
    val z = Pipeline.weightedSample(Seq((1L, 0L), (2L, 5L)).toDF("doc_id", "w"),
      "doc_id", col("w"), k = 10).collect()
    assert(z.map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("split: deterministic, stable under repartition, ratios roughly honored") {
    val docs = Tables.t(spark, sf, "documents").select(col("doc_id"))
    val a = graft.operators.Pipeline.split(docs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = graft.operators.Pipeline.split(docs.repartition(13), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b, "split assignment must not depend on layout")
    val n = a.size.toDouble
    val train = a.values.count(_ == "train") / n
    assert(train > 0.8 && train < 0.97, f"train fraction $train%.2f far from 0.90")
  }

  test("stratifiedSample keeps non-target strata whole and downsamples the target") {
    val s = spark; import s.implicits._
    val df = (1L to 2000L).map(i => (i, if (i % 2 == 0) "en" else "es")).toDF("id", "lang")
    val kept = graft.operators.Pipeline
      .stratifiedSample(df, col("lang"), "id", Map("en" -> 30))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.count(_._2 == "es") == 1000, "non-target stratum must be untouched")
    val enFrac = kept.count(_._2 == "en") / 1000.0
    assert(enFrac > 0.2 && enFrac < 0.4, f"en kept $enFrac%.2f, want ~0.30")
    // membership is a pure function of the id — rerun must agree exactly
    val again = graft.operators.Pipeline
      .stratifiedSample(df.repartition(11), col("lang"), "id", Map("en" -> 30))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.toSet == again.toSet)
  }

  test("bestRepresentative picks the highest-scoring member, id tie-break") {
    val s = spark; import s.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "cluster_rep")
    val scores = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (10L, 0.1), (11L, 0.1))
      .toDF("doc_id", "score")
    val best = graft.operators.Pipeline.bestRepresentative(clusters, scores)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(best == Map(1L -> 2L, 10L -> 10L)) // 2 beats 3 on id at equal score
  }

  test("boilerplateStats counts shingles shared by >= minDf docs, zero-fills the rest") {
    val s = spark; import s.implicits._
    val sets = Seq(
      (1L, Seq(10L, 11L)),
      (2L, Seq(10L, 12L)),
      (3L, Seq(10L, 13L)),
      (4L, Seq(14L, 15L, 16L))
    ).toDF("id", "hs")
    val got = graft.operators.Pipeline.boilerplateStats(sets, minDf = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // shingle 10 appears in 3 docs → boilerplate; nothing else reaches df=3
    assert(got(1L) == ((2L, 1L, 0.5)))
    assert(got(2L) == ((2L, 1L, 0.5)))
    assert(got(3L) == ((2L, 1L, 0.5)))
    assert(got(4L) == ((3L, 0L, 0.0))) // untouched doc must zero-fill, not drop
  }

  test("lengthBandFilter: percentile_disc cutoffs per stratum, exact integer band") {
    val s = spark; import s.implicits._
    val en = (1L to 100L).map(v => (v, "en", v))
    val es = (1L to 10L).map(v => (v + 1000L, "es", v))
    val df = (en ++ es).toDF("doc_id", "lang", "n_chars")
    // access by name: the using-column join inside lengthBandFilter puts the
    // stratum column first, so positional access is order-fragile
    val kept = graft.operators.Pipeline.lengthBandFilter(df, "lang", "n_chars")
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_chars")))
    // en: 100 distinct values → lo_cut=5 (cum 5 ≥ 5% of 100), hi_cut=95 → keep 5..95
    val enVals = kept.collect { case ("en", v) => v }.sorted
    assert(enVals.toSeq == (5L to 95L).toSeq, s"en band wrong: ${enVals.head}..${enVals.last}")
    // es: 10 values → lo_cut=1 (cum 1 ≥ 0.5), hi_cut=10 (cum 10 ≥ 9.5) → all kept
    assert(kept.count(_._1 == "es") == 10)
  }

  test("chunk: budgets, overlap, reassembly, and one-chunk floor for short docs") {
    val s = spark; import s.implicits._
    val words = (0 until 25).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, words), (2L, "a b"), (3L, "solo")).toDF("doc_id", "text")
    val got = graft.operators.Pipeline.chunk(docs, "doc_id", "text",
        sizeTokens = 10, overlap = 2)
      .orderBy(col("id"), col("chunk_idx")).collect()
    val byDoc = got.groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(1))).toMap
    // 25 tokens, size 10, stride 8 → ceil((25-2)/8) = 3 chunks
    assert(byDoc(1L).length == 3)
    assert(byDoc(1L).forall(_.getInt(3) <= 10), "chunk over token budget")
    assert(byDoc(1L).last.getInt(3) == 25 - 2 * 8, "tail chunk length")
    // consecutive chunks share exactly `overlap` tokens
    val c0 = byDoc(1L)(0).getString(2).split(" "); val c1 = byDoc(1L)(1).getString(2).split(" ")
    assert(c0.takeRight(2).sameElements(c1.take(2)), "overlap tokens differ")
    // stride-dedup reassembly reproduces the document exactly
    val rebuilt = byDoc(1L).map(_.getString(2).split(" ")).reduce((acc, nxt) => acc ++ nxt.drop(2))
    assert(rebuilt.mkString(" ") == words, "chunks do not reassemble the doc")
    // short docs: exactly one chunk, whole text
    assert(byDoc(2L).length == 1 && byDoc(2L).head.getString(2) == "a b")
    assert(byDoc(3L).length == 1 && byDoc(3L).head.getInt(3) == 1)
    // narrow op: no shuffle exchange in the plan
    val phys = graft.operators.Pipeline.chunk(docs, "doc_id", "text", 10, 2)
      .queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange"), s"chunking must not shuffle:\n$phys")
  }

  test("incremental dedup hot-bucket cap bounds a degenerate identical-doc tower") {
    val s = spark; import s.implicits._
    val tower = "x y z" // hundreds of identical docs → every band is a hot tower
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = ((1L to 300L).map(i => (i, tower)) ++ Seq(
      (1001L, base),            // corpus doc
      (2003L, base + " edit"),  // batch near-dup of 1001 (id % 10 == 3)
      (2013L, tower)            // batch member of the tower
    )).toDF("doc_id", "text")
    val sets = graft.operators.Dedup.shingleSets(docs, "doc_id", "text", shingleN = 2)
    val pairs = graft.operators.Dedup.incrementalMinhashPairs(
        sets, pmod(col("id"), lit(10)) === 3, threshold = 0.5, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the real near-dup survives; the 300-doc tower is capped out (its
    // bands exceed maxBucket), so no candidate explosion — documented cap
    // semantics: pairs colliding ONLY in hot buckets are skipped
    assert(pairs.contains((1001L, 2003L)), s"real pair lost: $pairs")
    assert(!pairs.exists { case (a, b) => a <= 300L || b == 2013L },
      s"tower pairs leaked past the cap: ${pairs.take(5)}")
  }

  test("zOrderKey matches a naive bit-interleave and preserves quadrant locality") {
    val s = spark; import s.implicits._
    def naive(x: Long, y: Long): Long = {
      var z = 0L
      for (i <- 0 until 16) {
        z |= ((x >> i) & 1L) << (2 * i)
        z |= ((y >> i) & 1L) << (2 * i + 1)
      }
      z
    }
    val pts = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y)).toDF("x", "y")
    val got = pts.select(col("x"), col("y"),
        Scale.zOrderKey(col("x"), col("y")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    got.foreach { case ((x, y), z) =>
      assert(z == naive(x, y), s"($x,$y): got $z, want ${naive(x, y)}")
    }
    // quadrant locality: the top two bits of z are exactly the quadrant of
    // (x, y) in the 64×64 grid — a 2-D range restricted to one quadrant is
    // one contiguous z range (the property file skipping relies on)
    got.foreach { case ((x, y), z) =>
      val quad = ((y >> 5) << 1) | (x >> 5)
      assert((z >> 10) == quad, s"($x,$y) quadrant $quad but z=$z")
    }
  }

  test("hilbertD: aligned 32x32 block is a contiguous unit-step walk from the origin") {
    // Two structural laws at once. (1) Bijectivity onto a contiguous
    // range: the curve fills any origin-aligned 2^k square completely
    // before leaving it, so the 32×32 block's keys must be EXACTLY
    // [0, 1024) with no gaps or dups. (2) Unit-step locality — the
    // property Morton lacks and the whole reason b93 exists: consecutive
    // keys are Manhattan-distance-1 grid neighbors, never diagonal jumps.
    val cells = for (x <- 0 until 32; y <- 0 until 32)
      yield (x, y) -> graft.plans.SpatialExpressions.hilbertD(x.toLong, y.toLong)
    assert(cells.map(_._2).toSet == (0 until 1024).map(_.toLong).toSet,
      "32x32 block keys are not a bijection onto [0,1024)")
    cells.sortBy(_._2).map(_._1).sliding(2).foreach {
      case Seq((x1, y1), (x2, y2)) =>
        assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
          s"non-unit curve step: ($x1,$y1) -> ($x2,$y2)")
      case _ =>
    }
    // low-16-bit masking: coordinates beyond 16 bits fold like the column
    // form's documented contract (and like zOrderKey's & 0xFFFF)
    assert(graft.plans.SpatialExpressions.hilbertD(5L + 65536L, 9L) ==
      graft.plans.SpatialExpressions.hilbertD(5L, 9L))
  }

  test("hilbert layout: the 2-D box skips files on min/max envelopes") {
    // b93's write is the surface under test; measured against b64's on
    // the same box, same file count. The suite asserts only STRUCTURAL
    // properties (multi-file layout, nonzero skipping): Hilbert usually
    // beats Morton and does on every measured fixture so far
    // (docs/PLANS.md records the strict wins at sf0.01/sf0.1), but the inequality is data-dependent — a fixture
    // regeneration could legitimately produce a 16-file layout where it
    // ties or loses by one file without any code bug (r9 ADVICE), so
    // the comparison is RECORDED, not hard-asserted.
    def touchedOf(query: String, scratch: String): (Int, Int) = {
      SparkEntry.queries(query)(spark, sf).collect()
      val dir = graft.sources.Formats.scratchDir(spark, scratch, sf)
      val env = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min(col("o_custkey")).as("c0"), min(col("o_day")).as("d0"))
        .collect()
      (env.count(r => r.getAs[Long]("c0") < 80L && r.getAs[Int]("d0") < 730),
        env.length)
    }
    val (ht, htotal) = touchedOf("b93_hilbert_prune", "orders_hilbert")
    val (zt, ztotal) = touchedOf("b64_zorder_prune", "orders_zorder")
    assert(htotal >= 8, s"expected a multi-file layout, got $htotal files")
    assert(ht < htotal, s"hilbert layout skipped nothing ($ht/$htotal)")
    info(s"hilbert touched $ht/$htotal vs morton $zt/$ztotal (recorded, not asserted)")
  }

  test("z-order layout: the 2-D box skips most files on min/max envelopes") {
    // b64's write is the surface under test: materialize it (write-once per
    // app), then measure the file-level skipping its box predicate earns —
    // a file is touched iff its (custkey, day) envelope intersects
    // [0,80)×[0,730). This is the measurement the parquet reader's
    // footer-stats pruning performs; computing it from the data itself
    // keeps the assert independent of reader internals.
    SparkEntry.queries("b64_zorder_prune")(spark, sf).collect()
    val dir = graft.sources.Formats.scratchDir(spark, "orders_zorder", sf)
    val env = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("o_custkey")).as("c0"), min(col("o_day")).as("d0"))
      .collect()
    val total = env.length
    val touched = env.count(r => r.getAs[Long]("c0") < 80L && r.getAs[Int]("d0") < 730)
    assert(total >= 8, s"expected a multi-file layout, got $total files")
    assert(touched < total, s"z-order layout skipped nothing ($touched/$total)")
    assert(touched.toDouble / total <= 0.6,
      s"expected the box to skip ≥40% of files, touched $touched/$total")
  }

  test("partition evolution: appendPartitions adds a day without disturbing the layout contract") {
    // the daily-ingest story for partitionedBucketedTable: day-3 arrives
    // after the table exists. Assert (a) the new partition is visible and
    // prunable, (b) pre-existing rows are untouched, (c) the key self-join
    // still plans ZERO Exchange — the bucket contract is per-file, so
    // appended files co-locate with the originals.
    val s = spark; import s.implicits._
    def day(d: String, n: Int) =
      (0 until n).map(i => (i.toLong, i * 10L, d)).toDF("k", "v", "day")
    val base = graft.sources.Formats.partitionedBucketedTable(
      s, "evolve", sf, day("d1", 40).union(day("d2", 40)),
      partCol = "day", key = "k", buckets = 4)
    val before = base.where(col("day") === "d1").orderBy("k").collect()
    val evolved = graft.sources.Formats.appendPartitions(
      s, "evolve", sf, day("d3", 25), partCol = "day", key = "k", buckets = 4)
    assert(evolved.count() == 105)
    assert(evolved.where(col("day") === "d3").count() == 25)
    // new-partition filter prunes directories at planning time
    val pruned = evolved.where(col("day") === "d3")
      .queryExecution.executedPlan.toString
    assert(pruned.contains("PartitionFilters: [isnotnull(day"),
      s"day filter must prune partitions:\n$pruned")
    // pre-existing partition byte-identical after the append
    assert(evolved.where(col("day") === "d1").orderBy("k").collect()
      .map(_.toSeq).toSeq == before.map(_.toSeq).toSeq)
    // bucketed self-join across old+new partitions: no Exchange anywhere
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = evolved.select(col("k"), col("v"))
      val b = evolved.select(col("k").as("k2"), col("day").as("day2"))
      val plan = a.hint("merge").join(b, col("k") === col("k2"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"append broke the zero-exchange bucket contract:\n$plan")
    } finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("contamination flags a planted eval near-duplicate and nothing else") {
    val s = spark; import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (7L, base),                        // eval doc (id % 10 == 7)
      (21L, base + " with a tiny edit"), // train near-dup → contaminated
      (22L, "completely different content about spark query planning at scale")
    ).toDF("doc_id", "text")
    val sets = graft.operators.Dedup.shingleSets(docs, "doc_id", "text", shingleN = 3)
    val out = graft.operators.Pipeline
      .contamination(sets, pmod(col("id"), lit(10)) === 7, minShingles = 5)
      .collect()
    assert(out.map(_.getLong(0)).toSet == Set(21L))
    assert(out.head.getLong(1) == 1L) // one eval doc hit
  }

  test("contamination counts DISTINCT shared shingles even on non-distinct input sets") {
    // r18: the overlap became a plain count over source-distincted
    // exploded sides (partial-aggregatable) instead of countDistinct
    // over the matched stream. A caller passing duplicate hashes in hs
    // must still get distinct-overlap semantics — the in-operator
    // array_distinct is the guard this pins.
    val s = spark; import s.implicits._
    val sets = Seq(
      (7L, Seq(1L, 1L, 2L, 2L, 3L)),      // eval, dup-heavy
      (21L, Seq(1L, 2L, 2L, 3L, 3L, 3L)), // train: 3 DISTINCT shared
      (22L, Seq(9L, 9L))                  // train: nothing shared
    ).toDF("id", "hs")
    val out = graft.operators.Pipeline
      .contamination(sets, pmod(col("id"), lit(10)) === 7, minShingles = 3)
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((21L, 1L, 3L)), out.mkString(","))
  }
}
