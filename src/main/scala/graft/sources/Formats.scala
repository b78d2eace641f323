package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Columnar/text source+sink roundtrips beyond parquet (SURVEY.md §1.6:
  * oamap's pluggable backends — here each format is a Spark datasource, so
  * partitioned parallel read/write, predicate pushdown (ORC) and schema
  * enforcement come from the datasource API, not bespoke backend code).
  *
  * Roundtrips write with `mode=overwrite` into a caller-scoped directory and
  * read back through the same session — the correctness contract is
  * value-exactness, proven by the oracle queries aggregating the *reread*
  * data against DuckDB over the original parquet.
  *
  * Scale notes: both writers emit one file per partition (parallel, no
  * driver funnel); ORC is splittable + column-pruned on read. CSV is the
  * interchange path, not the analytics path — schema must be re-declared on
  * read (header names only, no types), which is exactly why the read goes
  * through an explicit `StructType`, never `inferSchema` (an extra full pass
  * and double-ambiguity at 100 TB).
  */
object Formats {

  def writeOrc(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").orc(dir)

  def readOrc(spark: SparkSession, dir: String): DataFrame =
    spark.read.orc(dir)

  /** Null vs empty-string must survive the text roundtrip: Spark's CSV
    * defaults write null as the empty field and read the empty field back as
    * null, silently collapsing the two. An explicit non-colliding null token
    * on BOTH writer and reader keeps them distinct (`\N`, the classic
    * Hive/MySQL dump convention); real empty strings are written quoted
    * (`""`) and read back as empty via the matching emptyValue option.
    */
  private val NullToken = "\\N"

  /** CSV with header; `schema` declared on read (no inference pass). */
  def writeCsv(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true")
      .option("nullValue", NullToken)
      .option("emptyValue", "\"\"")
      .csv(dir)

  def readCsv(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("nullValue", NullToken)
      .option("emptyValue", "")
      .schema(schema)
      .csv(dir)

  /** JSON-lines sink+source — the interchange sibling of CSV with
    * structure (nested fields/arrays survive; a20's ingest path is the
    * read-only half of this). `ignoreNullFields=false` keeps explicit
    * nulls in the output so a declared-schema read restores them — the
    * default silently drops null fields, collapsing null-vs-absent.
    * Numbers that must be value-exact through the text format travel as
    * DECIMAL (the b34 CSV convention); doubles would also survive
    * (shortest-decimal printing round-trips), but decimal states the
    * contract. Read takes a DECLARED schema: no inference pass at 100 TB.
    * Parallel per-partition write, splittable read — no driver funnel. */
  def writeJsonLines(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite")
      .option("ignoreNullFields", "false")
      .json(dir)

  def readJsonLines(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(dir)

  /** Base directory for roundtrip sinks: `SPARK_GRAFT_SCRATCH`, else the
    * local JVM tmpdir, which is correct for local[*] only. ON A REAL
    * CLUSTER this MUST point at a filesystem shared by all executors
    * (HDFS/S3/NFS URI) — executor-local /tmp is per-node, so a read-back
    * after a distributed write would see only the driver's shard.
    */
  def sinkRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_SCRATCH", sys.props("java.io.tmpdir"))

  /** Human-debuggable, collision-free tag for an input dir: its sanitized
    * basename PLUS a short hash of the full canonical path — basename alone
    * would silently alias two different inputs that share a leaf name
    * (/data/v1/sf0.1 vs /data/v2/sf0.1), making the write-once guards
    * serve the first input's data for the second. */
  private def inputTag(inDir: String): String = {
    val canonical =
      try new java.io.File(inDir).getCanonicalPath catch { case _: Throwable => inDir }
    val base = new java.io.File(canonical).getName.replaceAll("[^A-Za-z0-9._-]", "_")
    f"${base}_${canonical.hashCode & 0x7fffffff}%08x"
  }

  // Scratch dirs are app-id-suffixed, so no other process ever reads them:
  // delete them at JVM exit or repeated runs monotonically fill the scratch
  // root (each run writes fresh table copies under a fresh app id).
  private val cleanupDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val cleanupHookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      cleanupDirs.forEach { d =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        try rm(new java.io.File(d)) catch { case _: Throwable => () }
      }
    }))
    true
  }

  /** A scratch dir unique to (purpose, input dir, spark application).
    * The [[inputTag]] keeps distinct inputs in distinct directories; the
    * application id isolates concurrent runs over the SAME input so one
    * run can't overwrite files another is mid-read on. Registered for
    * deletion at JVM exit (no other process can want an app-scoped dir). */
  def scratchDir(spark: SparkSession, purpose: String, inDir: String): String = {
    val dir = s"$sinkRoot/graft_${purpose}_${inputTag(inDir)}_${spark.sparkContext.applicationId}"
    if (cleanupHookInstalled) cleanupDirs.add(dir)
    dir
  }

  /** Per-target monitors for the write-once guards below. The guards are
    * check-then-act (`_SUCCESS` probe / `tableExists`), so WITHOUT a lock
    * two concurrent queries in one application — the norm on a shared
    * multi-tenant driver — could both see "not written" and race the same
    * directory: one overwrite-in-progress under a reader mid-scan, or a
    * second `saveAsTable` failing on the first's half-registered table.
    * A JVM-level monitor per target serializes exactly the first build;
    * after it, every caller takes the fast marker-check path. (Scratch
    * dirs/tables are application-scoped by construction, so JVM-level
    * locking IS target-level locking — no cross-process coordination is
    * needed.) */
  private val writeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(target: String): Object =
    writeLocks.computeIfAbsent(target, _ => new Object)

  /** Run `write` into `dir` only if this application hasn't already produced
    * it (presence of the Hadoop `_SUCCESS` marker). Keeps repeated plan
    * construction (warmup loops, plan-inventory tests, explain tooling)
    * action-free after the first invocation — the write is idempotent,
    * happens at most once per (purpose, input, application), and is safe
    * to race: concurrent callers serialize on a per-dir monitor and the
    * losers re-check the marker. */
  def ensureWritten(spark: SparkSession, dir: String)(write: => Unit): Unit = {
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) lockFor(dir).synchronized {
      if (!fs.exists(marker)) write
    }
  }

  /** Bucketed external table for co-located joins: write `df` once per
    * (purpose, input, application) hash-bucketed and sorted on `key`, and
    * return it via the catalog (bucketing metadata lives in the catalog, so
    * a plain parquet read-back would NOT get the shuffle elimination).
    *
    * This is the at-rest half of the shuffle-avoidance story: two fact
    * tables bucketed on their join key with the same bucket count join with
    * ZERO Exchange on either side — at 100 TB the bucket layout is paid
    * once at ingest and every subsequent join/aggregation on that key reads
    * co-located buckets. Bucket count is a layout property: size it so one
    * bucket ≈ one task's worth of data at the target scale (hundreds to
    * thousands on a cluster; small here so local[32] still fills tasks).
    *
    * Lifetime invariant (asserted by ScaleSpec's two-session test): the
    * catalog registration lives in the JVM's SharedState external catalog —
    * shared by every session of the application, including `newSession`
    * clones ([[graft.operators.Sessions.isolated]]) — and the files live in
    * an application-id-keyed scratch dir deleted at JVM exit. Registration
    * and files therefore have exactly the same (application) lifetime: a
    * second session of the same app sees `tableExists` and reuses the
    * files without rewriting (it could otherwise overwrite buckets the
    * first session is mid-read on), and a fresh application starts with
    * both an empty catalog and a fresh scratch dir and rewrites under its
    * own app id. No shared external metastore is assumed.
    */
  def bucketedTable(spark: SparkSession, purpose: String, inDir: String,
                    df: => DataFrame, key: String, buckets: Int): DataFrame = {
    val table = s"graft_${purpose}_${inputTag(inDir)}".replaceAll("[^A-Za-z0-9_]", "_")
    if (!spark.catalog.tableExists(table)) lockFor(table).synchronized {
      if (!spark.catalog.tableExists(table))
        graft.operators.Scale.writeBucketed(df, table, key, buckets,
          path = Some(scratchDir(spark, s"bkt_$purpose", inDir)))
    }
    spark.table(table)
  }

  /** The two at-rest layout dimensions combined on one table:
    * `partitionBy(partCol)` directories for PLANNING-time pruning on the
    * predicate column, and `bucketBy(buckets, key)` files within each
    * partition for shuffle-free joins/aggregations on the key. This is the
    * full ingest-once layout for a 100 TB fact table whose queries filter
    * on one low-cardinality column and join on one high-cardinality key:
    * the filter never lists the pruned directories and the join reads
    * co-located, pre-sorted buckets — no scan waste, no Exchange. Same
    * write-once-per-(purpose, input, application) lifetime and catalog
    * contract as [[bucketedTable]]. `partCol` must be low-cardinality
    * (priorities, dates, regions): each value × bucket pair is at least
    * one file, so a high-cardinality partition column shatters the table
    * into tiny files — the classic over-partitioning failure. */
  def partitionedBucketedTable(spark: SparkSession, purpose: String, inDir: String,
                               df: => DataFrame, partCol: String, key: String,
                               buckets: Int): DataFrame = {
    val table = s"graft_${purpose}_${inputTag(inDir)}".replaceAll("[^A-Za-z0-9_]", "_")
    if (!spark.catalog.tableExists(table)) lockFor(table).synchronized {
      if (!spark.catalog.tableExists(table)) {
        df.write.mode("overwrite")
          .option("path", scratchDir(spark, s"pbkt_$purpose", inDir))
          .partitionBy(partCol)
          .bucketBy(buckets, key)
          .sortBy(key)
          .format("parquet")
          .saveAsTable(table)
      }
    }
    spark.table(table)
  }

  /** Partition-evolution (daily-ingest) path for
    * [[partitionedBucketedTable]]: append a new batch — typically one new
    * `partCol` value per day — into the existing catalog table, keeping
    * BOTH layout dimensions. Plain `append` (never dynamic-partition
    * overwrite): new files land only under the partition directories the
    * batch contains, existing partitions' files are untouched, so readers
    * mid-scan on yesterday's partitions are safe. Spark validates the
    * declared (partitioning, bucketing, sorting) spec against the
    * catalog's and rejects a mismatched append, which is the contract
    * that keeps the layout trustworthy over months of ingest.
    *
    * Scale contract after N appends: directory pruning on `partCol` is
    * unchanged (new values = new directories). The bucket property —
    * hash(key) mod buckets — is per-FILE, so appended files join
    * exchange-free with the original ones; what each append relaxes is
    * the one-file-per-bucket sortedness, so a merge join may re-sort
    * WITHIN partitions (a local Sort node, no Exchange). Compact a
    * partition (rewrite at the same spec) if file counts grow large.
    * Asserted in ScaleSpec: appended partitions are visible and pruned
    * correctly, pre-existing rows byte-identical, and the key self-join
    * still plans zero Exchange. */
  def appendPartitions(spark: SparkSession, purpose: String, inDir: String,
                       df: DataFrame, partCol: String, key: String,
                       buckets: Int): DataFrame = {
    val table = s"graft_${purpose}_${inputTag(inDir)}".replaceAll("[^A-Za-z0-9_]", "_")
    require(spark.catalog.tableExists(table),
      s"appendPartitions: $table does not exist — create it with partitionedBucketedTable first")
    df.write.mode("append")
      .partitionBy(partCol)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
    spark.table(table)
  }
}
