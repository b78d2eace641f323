package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch — the bounded-memory frequency estimator that
  * completes the sketch family next to HLL (b18), GK quantiles (b36) and
  * the Bloom bitmap (c34). `d` md5-derived hash rows × `width` buckets;
  * the sketch is a (row, bucket) → count table of at most d·width cells
  * built by ONE partial-aggregated groupBy, and sketches of shards merge
  * by cell-wise addition — at 100 TB you keep a few KB per shard instead
  * of an unbounded token→count map, and the merge is associative.
  *
  * Every cell is an exact integer and the hash is the engine-portable
  * 60-bit md5 construction ([[Text.tokenHash]]'s convention), so unlike
  * textbook CMS with seeded multiply-shift hashing, this sketch is
  * bit-reproducible in any engine — the one-sided error guarantee
  * (estimate ≥ true count, ALWAYS; overcount only from collisions,
  * P[overcount > 2N/width per row] < 1/2 per independent row) is therefore
  * hash-oracle-checkable, not just unit-testable.
  */
object CountMin {

  /** Bucket of `tok` in hash row `r` (a column): 60-bit md5 of "r:tok",
    * mod width — positive on both engines. private[graft]: the windowed
    * cell builders (c98 batch parity, Streams.streamSlidingCmsCells)
    * share this one bucket rule so the grids can never drift. */
  private[graft] def bucketOf(r: Column, tok: Column, width: Int): Column =
    pmod(conv(substring(md5(concat(r.cast("string"), lit(":"), tok)), 1, 15), 16, 10)
      .cast("long"), lit(width.toLong))

  /** Build the sketch over a token column: ≤ d·width rows of
    * (r, bucket, cnt). One explode (d× the tokens, map-side) and one
    * partial+final groupBy whose reduce state is the fixed cell grid. */
  def build(toks: DataFrame, tokCol: String, d: Int, width: Int): DataFrame = {
    require(d >= 1 && width >= 2, s"need d >= 1, width >= 2; got d=$d width=$width")
    toks.select(col(tokCol).as("tok"),
        explode(sequence(lit(0), lit(d - 1))).as("r"))
      .select(col("r"), bucketOf(col("r"), col("tok"), width).as("bucket"))
      .groupBy(col("r"), col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** Self-join-size (second frequency moment, F2 = Σ_x f(x)²) estimated
    * FROM THE SKETCH — the classic query-planner use of CMS (Alon–Matias–
    * Szegedy's F2, read off count-min cells): |R ⋈_key R| predicts whether
    * a planned join explodes and needs salting (b47) BEFORE running it,
    * from d·width integers instead of a vocabulary-sized groupBy. The
    * estimate is min over rows r of Σ_b cell[r,b]² ; each colliding pair
    * only ADDS cross-terms, so est ≥ F2 ALWAYS (one-sided, like point
    * estimates), and E[overcount per row] = (F1² − F2)/width, so
    * `min` over d independent rows lands within 4·F1²/width except with
    * probability ≤ 4^−d (Markov per row). Because the cells use the
    * engine-portable md5 bucket rule, the estimate itself is a
    * deterministic integer — the audit checks BOTH bounds as booleans any
    * engine reproduces (the b18/c52 calibration pattern).
    *
    * Plan: the sketch build's one partial-aggregated groupBy (≤ d·width
    * cells), a ≤ d-row row-sum agg, one broadcast of the 1-row estimate
    * onto the 1-row exact audit side. The exact F2 leg exists only to
    * audit; the production path is the cells-only estimate with fixed
    * state. */
  def selfJoinSizeAudit(toks: DataFrame, tokCol: String, d: Int, width: Int): DataFrame = {
    val est = build(toks, tokCol, d, width)
      .groupBy(col("r")).agg(sum(col("cnt") * col("cnt")).as("row_est"))
      .agg(min(col("row_est")).as("est_f2"))
    toks.groupBy(col(tokCol)).agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n_toks"), sum(col("c") * col("c")).as("exact_f2"))
      .crossJoin(broadcast(est))
      .select(col("n_toks"), col("exact_f2"), col("est_f2"),
        (col("est_f2") >= col("exact_f2")).as("one_sided_ok"),
        ((col("est_f2") - col("exact_f2")) * width <=
          lit(4L) * col("n_toks") * col("n_toks")).as("bound_ok"))
  }

  /** Cross-table join-size estimation from two sketches — the two-table
    * generalization of [[selfJoinSizeAudit]]: |A ⋈_key B| = Σ_x f_A(x)·f_B(x)
    * is the INNER PRODUCT of the frequency vectors, estimated as
    * min_r Σ_b cellA[r,b]·cellB[r,b]. Collisions only add non-negative
    * cross-terms (est ≥ exact always); E[overcount per row] ≤ nA·nB/width.
    * This is how a planner sizes a join between two 100 TB tables from
    * 2·d·width integers built in one scan each — the sketches can even be
    * maintained incrementally (cell addition commutes, c78) so the
    * estimate is available BEFORE the query arrives. The exact leg here
    * exists only to audit: it joins the two DISTINCT-KEY frequency
    * tables (vocabulary-sized), never the raw rows. */
  def joinSizeAudit(toksA: DataFrame, toksB: DataFrame, tokCol: String,
                    d: Int, width: Int): DataFrame = {
    val ca = build(toksA, tokCol, d, width).withColumnRenamed("cnt", "ca")
    val cb = build(toksB, tokCol, d, width).withColumnRenamed("cnt", "cb")
    val est = ca.join(cb, Seq("r", "bucket")) // ≤ d·width cells each side
      .groupBy(col("r")).agg(sum(col("ca") * col("cb")).as("row_est"))
      .agg(min(col("row_est")).as("est_join"))
    val fa = toksA.groupBy(col(tokCol)).agg(count(lit(1)).as("fa"))
    val fb = toksB.groupBy(col(tokCol)).agg(count(lit(1)).as("fb"))
    val na = fa.agg(sum(col("fa")).as("na"))
    val nb = fb.agg(sum(col("fb")).as("nb"))
    fa.join(fb, tokCol).agg(coalesce(sum(col("fa") * col("fb")), lit(0L)).as("exact_join"))
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb)).crossJoin(broadcast(est))
      .select(col("na"), col("nb"), col("exact_join"), col("est_join"),
        (col("est_join") >= col("exact_join")).as("one_sided_ok"),
        ((col("est_join") - col("exact_join")) * width <=
          lit(4L) * col("na") * col("nb")).as("bound_ok"))
  }

  /** Multi-table join-order advisor — c83's measure-then-decide pattern
    * at the next planning level: sketch each table's join-key column
    * ONCE, estimate every pairwise join size as the sketch inner product
    * (the [[joinSizeAudit]] estimator, one-sided ≥ truth), and flag the
    * pair a greedy cost-based reorderer starts with: the smallest
    * estimated intermediate. This is the decision a 100 TB planner makes
    * from 2·d·width integers per table BEFORE committing a multi-way
    * join order — no raw-row join is ever executed here.
    *
    * Determinism: cells use the engine-portable md5 bucket rule, inner
    * products and the argmin rank (est, then table names) are pure
    * BIGINT — every column reproduces on any engine. Scale: one counting
    * pass per table (map-side partials into the fixed d·width grid);
    * pairwise costs join ≤ d·width cells; the decision window runs over
    * the |pairs| frame. */
  /** Bounded cache for the advisor's per-table sketch grids (≤ d·width rows
    * each, but `persist` without release still pins blocks + session refs
    * for the app's life — r9 VERDICT #4). Keyed by the caller's table NAME
    * plus the 128-bit md5 of the canonicalized plan ([[graft.sources.Memo.planKey]]
    * — not the 32-bit semanticHash, whose collisions would silently serve
    * the wrong sketch). The key identifies the plan, not the data: the
    * memo assumes scanned inputs are immutable for the app's life. */
  private val sketchMemo = new graft.sources.Memo[DataFrame](maxEntries = 8)(_.unpersist())

  def joinOrderAdvisor(tables: Seq[(String, DataFrame)], tokCol: String,
                       d: Int = 4, width: Int = 64): DataFrame = {
    require(tables.size >= 2, s"need at least two tables, got ${tables.size}")
    val sketches = tables.map { case (n, df) =>
      val key = s"joinSketch:$n:$tokCol:$d:$width:${graft.sources.Memo.planKey(df)}"
      n -> sketchMemo.getOrElseUpdate((df.sparkSession, key)) {
        build(df, tokCol, d, width)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
    }
    val pairs = for {
      i <- tables.indices
      j <- tables.indices if i < j
    } yield {
      val (na, sa) = sketches(i)
      val (nb, sb) = sketches(j)
      sa.withColumnRenamed("cnt", "ca")
        .join(sb.withColumnRenamed("cnt", "cb"), Seq("r", "bucket"))
        .groupBy(col("r")).agg(sum(col("ca") * col("cb")).as("row_est"))
        .agg(coalesce(min(col("row_est")), lit(0L)).as("est_join"))
        .select(lit(na).as("left_table"), lit(nb).as("right_table"),
          col("est_join"))
    }
    val w = org.apache.spark.sql.expressions.Window.orderBy(
      col("est_join"), col("left_table"), col("right_table"))
    pairs.reduce(_.unionAll(_))
      .withColumn("join_first", row_number().over(w) === 1)
  }

  /** Point-estimate frequencies for `queries`' tokens: min over the d
    * cells each token hashes to. The sketch (≤ d·width rows) is broadcast;
    * the query side never shuffles. A queried token that was never counted
    * can miss cells entirely — the left join + coalesce(0) keeps the
    * no-false-negative reading (estimate 0 only for tokens with no
    * colliding mass at all). */
  def estimate(sketch: DataFrame, queries: DataFrame, tokCol: String,
               d: Int, width: Int): DataFrame =
    queries.select(col(tokCol).as("tok"),
        explode(sequence(lit(0), lit(d - 1))).as("r"))
      .withColumn("bucket", bucketOf(col("r"), col("tok"), width))
      .join(broadcast(sketch), Seq("r", "bucket"), "left")
      .groupBy(col("tok"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
}
