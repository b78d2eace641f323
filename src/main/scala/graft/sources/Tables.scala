package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Testdata table access (TESTDATA.md / FIXTURES.md).
  *
  * Reads are plain parquet scans so Spark's vectorized reader, predicate
  * pushdown, column pruning and (for nested outputs) nested-schema pruning
  * all apply — the Spark-native equivalent of oamap's lazy per-column
  * backend fetch (`oamap/generator.py::Cache`, public repo — see SURVEY.md
  * provenance notice).
  *
  * Schema once per path: like oamap, which reads a dataset's schema once
  * and builds its generator from it (`oamap/generator.py::Generator`),
  * [[t]] infers each file's Parquet schema once per process and reads it
  * with that schema afterwards. Inference runs a footer-read Spark job on
  * every plain `spark.read.parquet`; a read with a given schema runs none.
  * The memo holds the `StructType`, never a DataFrame: every [[t]] call
  * builds a fresh relation with fresh attribute ids, so both sides of a
  * self-join stay distinguishable (`Graph.pageRankNano`'s
  * `withDeg("src") === rank("node")`). The memo is keyed by
  *   - the qualified path,
  *   - the file's length and modification time (one `getFileStatus`), so
  *     a rewrite that replaces the path re-infers, and
  *   - the SQL confs that change Parquet inference (`inferenceConfs`).
  * An in-place edit that keeps a directory's length and mtime is not
  * seen; the testdata files are single read-only files.
  */
object Tables {

  val all: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The SQL confs whose values change the schema Parquet inference
    * returns for the same file — part of the schema memo key. */
  private val inferenceConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  private final case class Inferred(len: Long, mtime: Long, schema: StructType)

  /** (qualified path, inference conf values) → the schema inferred from
    * the file as it was at (len, mtime). A rewrite replaces its path's
    * entry, so the map holds one entry per path and conf setting. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[Option[String]]), Inferred]()

  /** `spark.read.parquet(path)` with the schema inferred at most once per
    * memo key (see the object doc). */
  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    val key = (st.getPath.toString, inferenceConfs.map(spark.conf.getOption))
    val schema = Option(schemas.get(key))
      .filter(e => e.len == st.getLen && e.mtime == st.getModificationTime)
      .map(_.schema)
      .getOrElse {
        val inferred = spark.read.parquet(path).schema
        schemas.put(key, Inferred(st.getLen, st.getModificationTime, inferred))
        inferred
      }
    spark.read.schema(schema).parquet(path)
  }

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      // Historically events.ts was parquet TIMESTAMP(NANOS), which Spark's
      // vectorized reader rejects (PARQUET_TYPE_ILLEGAL) — read as raw
      // nanos and rebuild. Newer testdata generations carry TIMESTAMP
      // (MICROS, isAdjustedToUTC=false) which Spark infers as
      // TIMESTAMP_NTZ. Normalize both to session TimestampType so every
      // downstream query (and the DuckDB oracle, which reads the same
      // naive micros) sees identical instants — session tz is pinned UTC.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeEventsTs(parquet(spark, s"$sfDir/$name.parquet"))
    } else {
      parquet(spark, s"$sfDir/$name.parquet")
    }

  /** Normalize the events `ts` column to TimestampType regardless of the
    * physical parquet layout: BIGINT = legacy nanos-as-long (rebuild with
    * integer `DIV` — 2024-epoch nanos exceed double's 2^53 exact range;
    * the data is µs-precision so this is lossless); TIMESTAMP_NTZ = naive
    * micros (cast reinterprets in the session tz, pinned UTC). Shared by
    * the batch reader above and the file-source streaming path. */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** lineitem regrouped as one row per order with a sorted array-of-struct
    * `items` column — the canonical "List(Record)" nested fixture used by
    * the §2A operator queries (events-containing-particles shape).
    *
    * Element order inside `items` is made deterministic by sorting on the
    * full element struct ((l_orderkey, l_linenumber) alone is not unique in
    * the testdata). One shuffle on l_orderkey; at 100 TB this is the same
    * shuffle any per-order pipeline needs and partitions by a dense,
    * well-distributed key.
    *
    * A [[SharedFrame]] (persisted, memoized per (session, sfDir)): nine
    * §2A queries derive from this one intermediate, so it's the
    * materialized-view case — pay the shuffle once per session, not per
    * query.
    */
  val orderItems: SharedFrame = SharedFrame { (spark, sfDir) =>
    t(spark, sfDir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(struct(
        col("l_linenumber").as("ln"),
        col("l_quantity").as("qty"),
        col("l_extendedprice").as("price"),
        col("l_discount").as("disc")))).as("items"))
  }
}
