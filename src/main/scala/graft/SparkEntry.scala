package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.{Ann, Dedup, Multimodal, Nested, Pipeline, Scale, Variant}
import graft.functions.{Similarity, Text}
import graft.sources.Tables
import graft.streaming.Streams
import graft.EntryShared._

/** Driver contract (SURVEY.md §7.0): one `queries` entry per implemented
  * operator from SURVEY.md §2, with a DuckDB-equivalent `oracleSql` for every
  * SQL-expressible one.
  *
  * Determinism rules applied to every query (SURVEY.md §7.3): a final
  * `orderBy` over enough columns for a total order (full row if needed);
  * money sums via exact `decimal(18,2)` arithmetic cast back to double (the
  * testdata's doubles are exactly 2dp, so the cast is lossless and sums are
  * order-independent and engine-identical); no raw floats whose last ulp
  * could differ between engines (similarity queries emit ids/ranks, with
  * thresholds sitting in empirically wide gaps of the data's distribution).
  */
object SparkEntry {

  /** Materialize every shared intermediate for (session, sfDir): each
    * [[graft.sources.Shared]] declared in [[EntryShared]] or [[Tables]]
    * registers itself by name, so declaring a shared frame is what gets it
    * warmed, and the warm pass lists no names of its own.
    *
    * Bench-warmup hook (r9 VERDICT #3): per-query shuffle attribution under
    * min-of-two timing is bistable when a SHARED intermediate (a shingle
    * index, a pair graph, cluster labels) happens to be cold in both timed
    * passes — the first query to touch it that round absorbs the build's
    * shuffle bytes (c36 recorded 2746 KB in most runs and 5490 KB whenever
    * it paid the corpus-index build). Warming these in the UNTIMED warmup pass makes every timed
    * run steady-state, so the per-query byte ledger measures each query's
    * own plan, never cache weather. Library callers don't need this: it
    * only stabilizes measurement, not results.
    *
    * Fault isolation (r16 driver run, VERDICT #1): each builder runs in
    * its OWN try/catch that names the failed builder on stderr. One
    * transient failure early in the list must not silently skip every
    * builder after it — that desynchronizes the whole byte ledger.
    * Returns the names of builders that FAILED (empty = fully warm):
    * Bench surfaces the list in its JSON output, because a driver
    * run's stderr is unobservable after the fact and a silent warm gap
    * is indistinguishable from a plan regression in the byte ledger
    * (exactly the r16→r17 c02 mis-diagnosis). */
  def warmSharedIntermediates(s: SparkSession, d: String): Seq[String] = {
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    def warm(name: String)(body: => Unit): Unit =
      try body catch {
        case e: Throwable =>
          failed += name
          System.err.println(s"[bench] warm '$name' failed (continuing): $e")
      }
    sharedIntermediates.foreach(x => warm(x.name)(x.warm(s, d)))
    // One-time builds that live INSIDE query builders rather than in a
    // named memo (r11 VERDICT #1: at runs=1 these landed in the timed
    // ledger — c36 paid its corpus band-index persist, c63 its
    // cell-assignment persist, b64/b93 their ensureWritten layout writes,
    // ~24 MB of attribution drift). Executing each builder once here warms
    // exactly the timed plan: the persists key on the canonicalized plan
    // (CacheManager) and the layout writes key on (purpose, input,
    // application) `_SUCCESS` markers / catalog registration, so the timed
    // run reuses them all. The full list is every query whose first
    // execution does work later executions skip.
    val oneTimeBuildQueries = Seq(
      "b33_orc_roundtrip", "b34_csv_roundtrip", "b37_bucketed_join",
      "b38_partition_prune", "b49_json_roundtrip", "b63_partitioned_bucketed",
      "b64_zorder_prune", "b79_dynamic_partition_prune", "b86_bucketed_agg",
      "b93_hilbert_prune", "b129_npy_roundtrip", "b130_npy_ids_scan",
      "c34_bloom_decontaminate", "c36_incremental_dedup",
      "c63_semantic_dedup", "c96_bloom_advisor")
    oneTimeBuildQueries.foreach { n =>
      // a stale/renamed name must surface as a warm FAILURE, not a silent
      // no-op — an unwarmed one-time build is exactly the ledger-drift
      // class this list exists to prevent
      queries.get(n) match {
        case Some(fn) => warm(n)(fn(s, d).count())
        case None =>
          failed += n
          System.err.println(s"[bench] warm '$n': no such query key (stale list entry)")
      }
    }
    failed.toSeq
  }

  /** Every shared intermediate. A declaration registers itself when its
    * object initializes, so both declaring objects are initialized before
    * the registry is read. */
  private[graft] def sharedIntermediates: Seq[graft.sources.Shared[_]] = {
    Seq(Tables, EntryShared) // initializes both declaring objects
    graft.sources.Shared.registered
  }

  /** Flagship query on sf=0.001 (TPC-H Q1 shape); driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q1Agg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    EntryA.aQueries ++ EntryB.bQueries ++ EntryC.cQueries ++ EntryC2.cQueries2

  /** The sorted query keys the mains run: every key when `prefixes` is
    * empty, else each key starting with some prefix (a full key name is its
    * own prefix). Throws IllegalArgumentException naming every prefix that
    * matches no key, so a typo fails the run instead of running nothing. */
  def select(prefixes: Seq[String]): Seq[String] = {
    val keys = queries.keys.toSeq.sorted
    val unmatched = prefixes.filterNot(p => keys.exists(_.startsWith(p)))
    require(unmatched.isEmpty, s"no query key starts with: ${unmatched.mkString(", ")}")
    if (prefixes.isEmpty) keys else keys.filter(k => prefixes.exists(k.startsWith))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables — every query key has an oracle. */
  def oracleSql: Map[String, String] =
    OraclesA.aOracles ++ OraclesB.bOracles ++ OraclesC.cOracles ++ OraclesC2.cOracles2
}
