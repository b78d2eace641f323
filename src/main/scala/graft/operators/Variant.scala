package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Union (sum type) and Pointer encodings — SURVEY.md §1.2 / §4.2.
  *
  * oamap's `Union(possibilities)` owns `tags`/`offsets` arrays and
  * `Pointer(target)` owns a `positions` array (`oamap/schema.py`, public
  * repo — mount empty this round, SURVEY.md provenance notice). Spark has no
  * sum types and no row addressing, so:
  *
  *  - Union  → tagged struct `{tag: int, p0: T0 nullable, p1: T1 nullable}`;
  *    exactly one possibility is non-null per value. Dense per-branch
  *    `offsets` are a physical trick we do not replicate (§4.3).
  *  - Pointer → an ordinary integer key column + an explicit `gather`
  *    (equi-join) against the target table, which `gather` broadcasts: at
  *    every call site the target is a dim table. A fact-sized target at
  *    100 TB would need a shuffle join on the key instead.
  */
object Variant {

  /** Build an N-way tagged union value (oamap `Union(possibilities)` is
    * arbitrary-arity): `{tag, p0 … pN-1}` with possibility i non-null only
    * where `tag === i`. Pure column-level rewrite — no shuffle, stays
    * inside whole-stage codegen. */
  def unionN(tag: Column, possibilities: Column*): Column = {
    require(possibilities.nonEmpty, "unionN needs at least one possibility")
    struct(
      tag.cast("int").as("tag") +:
        possibilities.zipWithIndex.map { case (p, i) =>
          when(tag === i, p).as(s"p$i")
        }: _*)
  }

  /** Build a 2-way tagged union value. */
  def union2(tag: Column, p0: Column, p1: Column): Column =
    unionN(tag, p0, p1)

  /** `Schema.case` — runtime type test on a union value. */
  def isCase(u: Column, i: Int): Column = u.getField("tag") === i

  /** `Schema.cast` — downcast: the possibility's value when the tag
    * matches, else null (oamap raises; null is the relational analogue). */
  def castCase(u: Column, i: Int): Column = u.getField(s"p$i")

  /** Pointer dereference (`oamap/proxy.py` PointerGenerator behavior):
    * follow `positions[i]` into the target's value space. Expressed as an
    * equi-join against the broadcast target (a small dim table).
    */
  def gather(df: DataFrame, pointerCol: String, target: DataFrame, targetKey: String): DataFrame = {
    val t = broadcast(target)
    df.join(t, col(pointerCol) === t(targetKey), "left")
  }

  /** Resolve self-referential `Pointer` chains to their roots — the
    * general helper for oamap's recursive schemas (a self-pointing
    * `Pointer` encodes trees/linked structures; Spark has no recursive
    * types, so the ingest convention is an adjacency table and traversal
    * is iterative — SURVEY.md §1.2/§4.2).
    *
    * Given rows `(key, ptr)` where `ptr` is a nullable reference to
    * another row's key, returns `(key, root)` with `root` the end of each
    * chain — the last reachable node (a row whose ptr is null, or a
    * dangling reference target). Pointer jumping (`ptr := ptr(ptr)`)
    * doubles the resolved distance per round, so unbounded-depth
    * structures resolve in O(log depth) rounds — each round is one
    * self-join of the hop table under the [[Iterate]] round policy (a
    * lazy local checkpoint, one probe action per round: did any pointer
    * move?). Throws when chains outlast `maxRounds` (depth >
    * 2^maxRounds), which also catches pointer CYCLES — a cyclic parent
    * chain has no root and is a data bug for this helper.
    */
  def followChain(df: DataFrame, keyCol: String, ptrCol: String,
                  maxRounds: Int = 20): DataFrame = {
    // The initial checkpoint below plans the CALLER's upstream on the
    // caller's session with AQE untouched (it may need skew splits); only
    // the rounds after it run with AQE off, same rationale as
    // Dedup.clusters: every round re-plans identical tiny stages and
    // AQE's per-stage materialization overhead multiplies by O(log depth).
    // That conf lives on a conf-isolated session clone (Sessions), never
    // the caller's session; checkpointed frames are re-rooted across.
    val origin = df.sparkSession
    val sess = Sessions.isolated(origin, "spark.sql.adaptive.enabled" -> "false")
    // hop table jumped through itself each round: after r rounds hptr(k)
    // is the node 2^r hops past k, or the chain end if nearer — jumps
    // stop at a node whose own pointer is null or at a dangling target. A
    // round that moves no pointer has reached the fixpoint. The hop table
    // is the whole state: a second frame materialized by the same probe
    // would only be an ancestor of the probed checkpoint, and Spark
    // truncates the lineage of the probed one alone.
    val hops0 = Sessions.reroot(
      df.select(col(keyCol).as("hkey"), col(ptrCol).as("hptr"))
        .localCheckpoint(eager = false), sess)
    val hops = Iterate.fixpoint(hops0, maxRounds,
        "Variant.followChain (a pointer cycle, or a chain deeper than 2^maxRounds)") { hops =>
      val jumped = hops.as("h1")
        .join(hops.select(col("hkey").as("jkey"), col("hptr").as("jptr")),
          col("h1.hptr") === col("jkey"), "left")
        .select(col("h1.hkey").as("hkey"),
          coalesce(col("jptr"), col("h1.hptr")).as("hptr"),
          col("jptr").isNotNull.as("moved"))
        .localCheckpoint(eager = false)
      (jumped, jumped.where(col("moved")).count() == 0)
    }
    // a null pointer marks a root, which is its own chain's end
    Sessions.reroot(hops.select(col("hkey").as("key"),
      coalesce(col("hptr"), col("hkey")).as("root")), origin)
  }

  /** Ingest-side pointer normalization — the declared Spark answer to
    * oamap's fill-time pointer identity-dedup (`oamap/fill.py` stores a
    * shared sub-object once and points at it; SURVEY.md §4.1 last row).
    *
    * Splits the named sub-object columns out of `df` into a deduplicated
    * dimension table keyed by a deterministic 64-bit content hash
    * (`xxhash64` over the sub-object columns), and replaces them in the
    * fact side with that key. `denormalize` (a [[gather]]) restores the
    * original rows exactly — the roundtrip law
    * `denormalize(normalize(x)) == x` is property-tested.
    *
    * Scale: the fact pass is narrow (hash projection, no shuffle); the
    * dimension build is one `distinct` shuffle over sub-object values —
    * the same dedup any ingest normalization pays. Key collisions are a
    * 2⁻⁶⁴-per-pair event (~n²/2⁶⁵ overall); for corpora where that is not
    * acceptable, verify once with
    * `dim.groupBy(keyCol).count.where(count > 1)` at ingest.
    */
  def normalize(df: DataFrame, subCols: Seq[String], keyCol: String): (DataFrame, DataFrame) = {
    val key = xxhash64(subCols.map(col): _*)
    val fact = df.withColumn(keyCol, key).drop(subCols: _*)
    val dim = df.select(subCols.map(col): _*).distinct()
      .withColumn(keyCol, key)
    (fact, dim)
  }

  /** Inverse of [[normalize]]: join the sub-object columns back by key and
    * drop the key. The dimension side is broadcast: it holds one row per
    * distinct sub-object. */
  def denormalize(fact: DataFrame, dim: DataFrame, keyCol: String): DataFrame =
    fact.join(broadcast(dim), Seq(keyCol)).drop(keyCol)
}
