package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** A per-(session, sfDir) intermediate, built once per (session, sfDir) by
  * `build` and read by the query keys that need it: usually several keys,
  * but an entry may have one consumer (c96's member-hash set, c100's
  * sketches), where it keeps repeat runs of that key cache reads. `frames`
  * lists the DataFrames a value holds. [[SharedFrame]] is the persisted
  * single-frame case.
  *
  * Values live in an LRU of [[Shared.MaxEntries]] entries per declaration,
  * sized for the realistic working set (a handful of (session, scale
  * factor) combinations), not as a general cache: an unbounded map would
  * pin cached blocks and SparkSession references for the life of the JVM.
  * An evicted value's frames are unpersisted, so their storage is
  * released.
  *
  * Entries live as long as the session: a value assumes the data behind
  * its sfDir is immutable for the app's life (the at-rest-layout
  * write-once convention). A file rewritten in place under the same path
  * needs a new session. */
private[graft] class Shared[V](frames: V => Seq[DataFrame])(
    build: (SparkSession, String) => V) {
  private type K = (SparkSession, String)

  private def release(v: V): Unit =
    try frames(v).foreach(_.unpersist()) catch { case _: Exception => () }

  private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      if (size() > Shared.MaxEntries) { release(e.getValue); true } else false
  }

  def apply(s: SparkSession, d: String): V = m.synchronized {
    val v = m.get((s, d))
    if (v != null) v
    else {
      val nv = build(s, d)
      m.put((s, d), nv)
      nv
    }
  }
}

private[graft] object Shared {
  /** Live entries per declaration; the eldest beyond it is evicted. */
  val MaxEntries = 8
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
