package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Time-series regularization: resample an irregular event stream onto a
  * fixed grid and fill the gaps by LINEAR INTERPOLATION — the step beyond
  * carry-forward (b57 LOCF) that sensor/metrics pipelines need before
  * feature extraction.
  *
  * Exactness contract: values are non-negative integer cents and the
  * interpolated point is the cleared-denominator weighted mean
  *
  *   v(h) = (pv·(nh−h) + nv·(h−ph)) div (nh−ph)
  *
  * — both products non-negative BIGINTs, one integral division, so the
  * result is bit-identical at any parallelism and in any engine (DuckDB
  * `//` and Spark `div` agree on non-negative operands; non-negativity is
  * structural: cents ≥ 0 and grid points lie strictly between their
  * bracketing observations). No float arithmetic anywhere.
  *
  * Scale (100 TB of events): one groupBy (user, bucket) compacts the raw
  * stream map-side; the grid explodes from each key's OWN [min, max] span
  * (the b53 spine rule — never a keys × calendar cartesian); the four
  * bracketing lookups are two window passes (forward + backward) over the
  * same (user) partitioning and sort — Spark plans them as one sort, two
  * window operators, no self-join, no range join. Work and state are
  * O(grid points per user), and the grid is bounded by the key's observed
  * lifetime, not the global calendar.
  */
object Series {

  /** Ordered-funnel stage times per user — the b94 kernel, shared by the
    * batch funnel query and the streaming funnel's batch-parity oracle
    * (b99): a user reaches stage n at the EARLIEST event of stage-n's type
    * STRICTLY AFTER their stage-(n−1) time (event-ORDER semantics, not
    * mere type presence). Output: one row per user with `s1..sN`
    * timestamp columns (null = stage never reached) — s(i) is null
    * whenever s(i−1) is.
    *
    * Plan: ONE shuffle on `userCol`; the N stage times are chained
    * conditional mins over the same user-partition window (no joins, no
    * per-user sort materialized beyond the window), then a per-user
    * compaction. At 100 TB this is the cost of any per-user pass — the
    * window partitioning is the same hashpartitioning(user) every stage
    * reuses. [[graft.streaming.Streams.funnelWithState]] computes the
    * identical machine per user on a stream. */
  def funnelStageTimes(events: DataFrame, userCol: String, typeCol: String,
                       tsCol: String, stages: Seq[String],
                       lastTsCol: Option[String] = None): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val wu = Window.partitionBy(col(userCol))
    val staged = stages.zipWithIndex.foldLeft(events) { case (df, (st, i)) =>
      val hit =
        if (i == 0) col(typeCol) === st
        else col(typeCol) === st && col(tsCol) > col(s"s$i")
      df.withColumn(s"s${i + 1}", min(when(hit, col(tsCol))).over(wu))
    }
    // lastTsCol: opt-in per-user horizon column (max stage-event time) —
    // consumers that cut on a funnel horizon (b126's watermark replica)
    // get it from the SAME per-user compaction instead of paying a second
    // aggregate + join on the user key.
    val tailAggs = stages.indices.drop(1).map(i => max(col(s"s${i + 1}")).as(s"s${i + 1}")) ++
      lastTsCol.map(n => max(col(tsCol)).as(n))
    staged.groupBy(col(userCol))
      .agg(max(col("s1")).as("s1"), tailAggs: _*)
  }

  /** Per-`keyCol` hourly grid over the key's observed span; each hour
    * carries the last observation in that hour (if any) and otherwise the
    * linear interpolation between the bracketing observed hours.
    * Output: (keyCol, hour_id, val_cents, src = 'obs' | 'interp').
    */
  /** Time-weighted average value (TWAP) over each key's observed span —
    * the metrics/finance aggregate where a value holds UNTIL the next
    * observation, so plain `avg` over-weights bursts of readings:
    *
    *   twap(k) = (Σ cents_i · (t_{i+1} − t_i)) div (t_last − t_first)
    *
    * Pure integer: cents (≥0) × micros durations (≥0, BIGINT; max
    * observed-cents · span ≪ 2^63), one floor division per key. Equal
    * timestamps naturally get zero duration (the lead over the
    * (ts, tie) total order lands on the same microsecond); the last
    * observation contributes no area — the left-Riemann/LOCF convention,
    * matching b57's carry-forward semantics. Keys with a single
    * observation (span 0) are excluded rather than divided by zero.
    *
    * Scale: one window pass per key partition (the lead) feeding one
    * partial+final aggregate on the key — the b67 sweep cost, no
    * self-join, no grid materialization (unlike [[interpolateHourlyCents]]
    * this never expands rows).
    */
  def twapCents(events: DataFrame, keyCol: String, tsCol: String,
                tieCol: String, valueCol: String): DataFrame = {
    val w = Window.partitionBy(col("k")).orderBy(col("us"), col("tie"))
    events
      .select(col(keyCol).as("k"), unix_micros(col(tsCol)).as("us"),
        col(tieCol).as("tie"),
        floor(col(valueCol) * 100 + 0.5).cast("long").as("cents"))
      .withColumn("nxt", lead(col("us"), 1).over(w))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_obs"),
        (max(col("us")) - min(col("us"))).as("span_micros"),
        sum(when(col("nxt").isNotNull, col("cents") * (col("nxt") - col("us")))
          .otherwise(lit(0L))).as("area"))
      .where(col("span_micros") > 0)
      .select(col("k").as(keyCol), col("n_obs"), col("span_micros"),
        expr("area div span_micros").as("twap_cents"))
  }

  def interpolateHourlyCents(events: DataFrame, keyCol: String, tsCol: String,
                             tieCol: String, valueCol: String): DataFrame = {
    val hourMicros = 3600000000L
    val cents: Column = floor(col(valueCol) * 100 + 0.5).cast("long")
    // last observation wins within an hour, by (ts, tie) — the b58 max_by
    // compaction shape, partial-aggregated map-side
    val obs = events
      .select(col(keyCol).as("k"),
        call_function("div", unix_micros(col(tsCol)), lit(hourMicros)).as("h"),
        col(tsCol).as("ts"), col(tieCol).as("tie"), cents.as("cents"))
      .groupBy(col("k"), col("h"))
      .agg(max_by(col("cents"), struct(col("ts"), col("tie"))).as("cents"))
    val spine = obs.groupBy(col("k"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("k"), explode(sequence(col("h0"), col("h1"))).as("h"))
    val g = spine.join(obs, Seq("k", "h"), "left")
    // Both lookups are running frames (unboundedPreceding → currentRow),
    // one pass per partition. The next observation is the last non-null
    // of the DESCENDING-h running frame, which holds exactly the hours
    // ≥ h since (k, h) is unique; a (currentRow, unboundedFollowing)
    // frame is re-scanned per row, quadratic in a key's span.
    val back = Window.partitionBy(col("k")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(col("k")).orderBy(col("h").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hImg = when(col("cents").isNotNull, col("h"))
    // one select, so each frame is one Window operator over one sort
    val filled = g.select(col("*"),
      last(col("cents"), ignoreNulls = true).over(back).as("pv"),
      last(hImg, ignoreNulls = true).over(back).as("ph"),
      last(col("cents"), ignoreNulls = true).over(fwd).as("nv"),
      last(hImg, ignoreNulls = true).over(fwd).as("nh"))
    filled.select(col("k").as(keyCol), col("h").as("hour_id"),
      when(col("cents").isNotNull, col("cents"))
        .otherwise(expr("(pv * (nh - h) + nv * (h - ph)) div (nh - ph)"))
        .as("val_cents"),
      when(col("cents").isNotNull, lit("obs")).otherwise(lit("interp")).as("src"))
  }

  /** The treatment lift on rev-per-user over the A/B pivot's columns
    * (ctrl_users, trt_users, ctrl_rev_c, trt_rev_c), as a cleared
    * ratio-of-ratios in basis points computed as ONE DECIMAL(38,0)
    * division — splitting it (div by trt_users first) compounds two
    * floors and changes the value, so exactness requires the full
    * products. −1 sentinel when an arm has no starters / ctrl revenue
    * is zero — and, Spark-side only, if the 38-digit product ever
    * overflowed (non-ANSI decimal overflow → null → coalesce; needs
    * rev_cents·users ≥ 10^34, eleven orders above planet-scale
    * products — documented, not disambiguated; DuckDB's HUGEINT twin
    * raises instead). ONE definition for the batch keys (b123/b126/
    * b128 via the EntryShared readout) and the streaming readout
    * ([[graft.streaming.Streams.streamFunnelAbRevenue]]), so the lift
    * rule can never fork between stream and batch. */
  def revLiftBp: Column = coalesce(
    expr("(CAST(trt_rev_c AS DECIMAL(38,0)) * ctrl_users * 10000) " +
      "div nullif(CAST(ctrl_rev_c AS DECIMAL(38,0)) * trt_users, 0)"),
    lit(-1L))

  /** The full three-column A/B revenue readout tail over the six-column
    * pivot: exact rev-per-user micro-cents (BIGINT floor, −1 when the
    * arm has no starters) + [[revLiftBp]]. Extra input columns (e.g. the
    * stream's dropped_events) pass through untouched. */
  def revPerUserLiftCols(pivot: DataFrame): DataFrame = pivot
    .withColumn("ctrl_rev_per_user_uc", coalesce(
      expr("(ctrl_rev_c * 10000) div nullif(ctrl_users, 0)"), lit(-1L)))
    .withColumn("trt_rev_per_user_uc", coalesce(
      expr("(trt_rev_c * 10000) div nullif(trt_users, 0)"), lit(-1L)))
    .withColumn("rev_lift_bp", revLiftBp)
}
