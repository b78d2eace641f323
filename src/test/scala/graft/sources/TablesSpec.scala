package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** The schema-once contract of [[Tables.t]]: a repeated read of a path
  * runs no inference job, yet reads exactly what a plain
  * `spark.read.parquet` reads, as a fresh relation, and sees a rewrite. */
class TablesSpec extends SparkSpec {

  /** (row count, order-independent sum of per-row xxhash64). */
  private def rowHash(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col).toSeq: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** A fresh parquet table `<dir>/<name>.parquet` with mixed column types. */
  private def fixture(name: String): String = {
    val dir = tempDir("tables-spec").toString
    spark.range(0, 200, 1, 3)
      .select(col("id").as("k"), (col("id") % 7).cast("int").as("g"),
        concat(lit("s"), col("id").cast("string")).as("s"),
        (col("id") / 3.0).as("d"),
        array(col("id"), col("id") + 1).as("arr"),
        struct(col("id").as("a"), lit("x").as("b")).as("st"))
      .write.parquet(s"$dir/$name.parquet")
    dir
  }

  test("a repeated Tables.t on the same path starts no Spark job") {
    val dir = fixture("t")
    val cold = jobsDuring(Tables.t(spark, dir, "t"))
    assert(cold >= 1, "the first read infers the schema with a footer-read job")
    val warm = jobsDuring(Tables.t(spark, dir, "t"))
    assert(warm == 0, s"a memoized read started $warm job(s)")
  }

  test("a memoized read has the plain read's schema and rows") {
    val dir = fixture("t")
    val plain = spark.read.parquet(s"$dir/t.parquet")
    Tables.t(spark, dir, "t")
    val memo = Tables.t(spark, dir, "t")
    assert(memo.schema == plain.schema)
    assert(rowHash(memo) == rowHash(plain))
  }

  test("every Tables.t call is a fresh relation: disjoint exprIds, self-joins resolve") {
    val dir = tempDir("tables-spec").toString
    val s = spark; import s.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
      .write.parquet(s"$dir/edges.parquet")
    val a = Tables.t(spark, dir, "edges")
    val b = Tables.t(spark, dir, "edges")
    val ids = (df: DataFrame) => df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    // Dataset-qualified references across the two reads, as in
    // Graph.pageRankNano's withDeg("src") === rank("node")
    val twoHop = a.join(b, a("dst") === b("src")).select(a("src"), b("dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(twoHop == Set((1L, 3L), (2L, 1L), (3L, 2L)))
  }

  test("rewriting a path with a different schema re-infers") {
    val dir = tempDir("tables-spec").toString
    val s = spark; import s.implicits._
    Seq((1, "a")).toDF("x", "y").write.parquet(s"$dir/r.parquet")
    assert(Tables.t(spark, dir, "r").columns.toSeq == Seq("x", "y"))
    Seq((2.5, 7L, true)).toDF("p", "q", "z").write.mode("overwrite").parquet(s"$dir/r.parquet")
    val after = Tables.t(spark, dir, "r")
    assert(after.schema == spark.read.parquet(s"$dir/r.parquet").schema)
    assert(after.as[(Double, Long, Boolean)].collect().toSeq == Seq((2.5, 7L, true)))
  }

  test("events ts is normalized to TimestampType on cold and memoized reads") {
    val s = spark; import s.implicits._
    val micros = Seq(1704067200000000L, 1704070800123456L) // 2024-01-01T00:00Z, +1h
    // the two physical layouts: naive micros (TIMESTAMP_NTZ) and
    // nanos stored as plain INT64 (the legacy nanos-as-long read)
    val ntz = tempDir("tables-spec").toString
    micros.toDF("us").select(col("us").as("event_id"),
        timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))
      .write.parquet(s"$ntz/events.parquet")
    val nanos = tempDir("tables-spec").toString
    micros.toDF("us").select(col("us").as("event_id"), (col("us") * 1000L).as("ts"))
      .write.parquet(s"$nanos/events.parquet")
    for (dir <- Seq(ntz, nanos)) {
      val cold = Tables.t(spark, dir, "events")
      val warm = Tables.t(spark, dir, "events")
      val plain = Tables.normalizeEventsTs(spark.read.parquet(s"$dir/events.parquet"))
      for (df <- Seq(cold, warm)) {
        assert(df.schema("ts").dataType == TimestampType, dir)
        assert(df.schema == plain.schema, dir)
        assert(df.select(unix_micros(col("ts"))).as[Long].collect().toSeq.sorted == micros, dir)
        assert(rowHash(df) == rowHash(plain), dir)
      }
    }
    assert(spark.read.parquet(s"$nanos/events.parquet").schema("ts").dataType == LongType)
  }
}
