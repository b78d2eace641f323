package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Bounded memoizer for per-(session, key) values: the shared
  * intermediates ([[Shared]]) and the plan-keyed advisor caches
  * (`Pipeline.bloomAdvisor`, `CountMin.joinOrderAdvisor`).
  *
  * An unbounded ConcurrentHashMap would pin cached blocks and SparkSession
  * references for the life of the JVM; this LRU evicts beyond `maxEntries`
  * and `release`s the evicted value (unpersisting its frames) so its
  * storage is released. Sized for the realistic working set (a handful of
  * (session, scale-factor) combinations), not as a general cache.
  *
  * Entries live as long as the session: the memo assumes the data behind
  * a key is immutable for the app's life (the at-rest-layout write-once
  * convention). A key cannot see files rewritten in place under the same
  * path, so such a rewrite needs a new session.
  */
private[graft] final class Memo[V](maxEntries: Int = 8)(release: V => Unit) {
  private type K = (SparkSession, String)

  private def quietly(v: V): Unit = try release(v) catch { case _: Exception => () }

  private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      if (size() > maxEntries) { quietly(e.getValue); true } else false
  }

  def getOrElseUpdate(k: K)(f: => V): V = m.synchronized {
    val v = m.get(k)
    if (v != null) v
    else {
      val nv = f
      m.put(k, nv)
      nv
    }
  }
}

/** A per-(session, sfDir) intermediate that several query keys share: built
  * once per (session, sfDir) by `build` and kept in a bounded [[Memo]] (LRU
  * of 8). `frames` lists the DataFrames a value holds; eviction unpersists
  * each. [[SharedFrame]] is the persisted single-frame case. */
private[graft] class Shared[V](frames: V => Seq[DataFrame])(
    build: (SparkSession, String) => V) {
  private val memo = new Memo[V]()(v => frames(v).foreach(_.unpersist()))

  def apply(s: SparkSession, d: String): V = memo.getOrElseUpdate((s, d))(build(s, d))
}

/** A shared intermediate that is one DataFrame, persisted
  * `MEMORY_AND_DISK` (spill-backed, so it degrades rather than OOMs when
  * the frame outgrows executor memory): the materialized-view posture,
  * paid once per (session, sfDir), read by every consumer. */
private[graft] final class SharedFrame(build: (SparkSession, String) => DataFrame)
    extends Shared[DataFrame](Seq(_))(
      (s, d) => build(s, d).persist(StorageLevel.MEMORY_AND_DISK))

private[graft] object SharedFrame {
  def apply(build: (SparkSession, String) => DataFrame): SharedFrame = new SharedFrame(build)
}

private[graft] object Memo {
  /** md5 hex of a string — the one shared digest helper for memo keys
    * (one definition, so a keying fix can never apply to half the
    * call sites). */
  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Collision-resistant key component for a DataFrame's plan. Built from
    * the ANALYZED plan — the unresolved `logical` plan's toString omits
    * exactly the identity that matters (a raw parquet read stringifies to
    * a constant `UnresolvedDataSource … paths: 1 provided` with no path,
    * and toString truncates projections at `maxToStringFields`), so
    * hashing it collides across tables and scale factors. The key
    * concatenates (a) the analyzed canonicalized plan's semanticHash —
    * resolved structure, (b) the full output schema JSON — untruncated
    * column identity, and (c) every file-relation's root paths collected
    * from the plan — the table identity toString drops; the md5 of that
    * is 128-bit. The key still identifies the PLAN, not the data:
    * memoized entries assume the scanned input is immutable for the
    * app's life (the at-rest-layout write-once convention); a file
    * rewritten in place under the same path is served stale. */
  def planKey(df: DataFrame): String = {
    val analyzed = df.queryExecution.analyzed
    val paths = analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.mkString(",")
          case other => other.toString
        }
    }.mkString(";")
    md5Hex(s"${analyzed.canonicalized.semanticHash()}|${analyzed.schema.json}|$paths")
  }
}
