package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session plumbing: the one local session factory ([[local]]), and
  * conf-isolated siblings for iterative operators that need
  * operator-specific SQL conf (AQE off, right-sized shuffle.partitions)
  * for their rounds.
  *
  * Setting that conf on the caller's session would leak it to queries
  * planned CONCURRENTLY on the same session (they'd be optimized under the
  * wrong settings). Instead the rounds run on a `newSession()` clone — same
  * SparkContext, shared catalog and cache manager, but an ISOLATED
  * RuntimeConfig — and DataFrames cross the session boundary by re-rooting.
  */
private[graft] object Sessions {

  /** Core count for the CLI mains: `SPARK_GRAFT_CPUS`, default 32. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** The one session every main and the test suites run on: `local[cpus]`
    * with one shuffle partition per core, UTC session time (the DuckDB
    * oracle's zone), no UI, and WARN logging. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Re-root `df`'s logical plan onto `target` (a sibling session of the
    * same SparkContext) via a uniquely-named global temp view. Dataset
    * construction analyzes eagerly, inlining the view plan, so the view is
    * dropped before returning — nothing lingers in the shared catalog and
    * concurrent re-roots can't collide (UUID name). Shared-cache entries
    * (persist/cached plans) still match after re-rooting because the cache
    * manager keys on canonicalized plans, which the inlining preserves. */
  def reroot(df: DataFrame, target: SparkSession): DataFrame = {
    val v = "graft_reroot_" + java.util.UUID.randomUUID().toString.replace("-", "")
    df.createOrReplaceGlobalTempView(v)
    try target.table("global_temp." + v)
    finally target.catalog.dropGlobalTempView(v)
  }

  /** A conf-isolated sibling of `origin` with `confs` applied.
    *
    * `newSession()` starts from the SparkContext conf + builder options,
    * NOT from the caller's runtime `spark.conf.set(...)` state — so the
    * caller's modifiable SQL conf (ANSI mode, timeouts, codegen toggles…)
    * is copied over first; otherwise the rounds would silently plan under
    * defaults the rest of the caller's queries don't use. Static/
    * non-modifiable entries can't be re-set on a live session and keep
    * their context-level values, which is the same on both sessions. */
  def isolated(origin: SparkSession, confs: (String, String)*): SparkSession = {
    val sess = origin.newSession()
    origin.conf.getAll.foreach { case (k, v) =>
      if (sess.conf.isModifiable(k) && sess.conf.getOption(k) != Some(v))
        try sess.conf.set(k, v) catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    confs.foreach { case (k, v) => sess.conf.set(k, v) }
    sess
  }
}
