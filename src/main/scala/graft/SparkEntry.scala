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
