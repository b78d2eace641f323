package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.{Ann, Dedup, Multimodal, Nested, Pipeline, Scale, Variant}
import graft.functions.{Similarity, Text}
import graft.sources.Tables
import graft.streaming.Streams
import graft.EntryShared._

/** §2B query-builder family of the [[SparkEntry]] driver contract — the
  * relational surface (mechanical r15 split; bodies verbatim).
  * The DuckDB oracle twins live in [[OraclesB]] (r16 seam). */
private[graft] object EntryB {

  // =================================================================
  // §2B — relational surface (Spark built-ins)
  // =================================================================

  private[graft] val bQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b01_tpch_q1" -> ((s, d) => q1Agg(s, d)),

    // ── r11 continuation wave 1: TPC-H completion (Q4/Q12/Q13/Q15/Q19).
    // The fixture has no commit/receipt dates, shipmodes, or comments;
    // adapted predicates are documented per query and in SURVEY §2D.
    "b106_tpch_q4" -> ((s, d) => {
      // TPC-H Q4 shape (order-priority checking): orders in one quarter
      // having at least one "late" lineitem. The fixture carries no
      // commit/receipt dates, so late := shipped >60 days after the
      // order date — same EXISTS structure, adapted predicate. Plan:
      // the quarter window is PUSHED to the orders scan; the EXISTS is
      // a left_semi join on orderkey with the late test a residual on
      // the join — never a correlated per-order re-scan. At 100 TB both
      // sides shuffle once on orderkey; the final agg is 5 rows.
      t(s, d, "orders")
        .where(col("o_orderdate").cast("date") >= lit("1997-01-01").cast("date") &&
          col("o_orderdate").cast("date") < lit("1997-04-01").cast("date"))
        .join(t(s, d, "lineitem").select(col("l_orderkey"), col("l_shipdate")),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate").cast("date") > date_add(col("o_orderdate").cast("date"), 60),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    "b107_tpch_q12" -> ((s, d) => {
      // TPC-H Q12 shape (shipping classes vs order priority): among
      // late-shipped lines in one ship-year, count critical- vs
      // normal-priority orders per l_linestatus (the fixture's shipmode
      // stand-in; late := >30 days after order date). Plan: the
      // ship-year window is PUSHED to the lineitem scan BEFORE the
      // join, the priority CASE folds into conditional partial aggs —
      // one orderkey shuffle, then a 2-row final. A NULL priority is
      // EXPLICITLY a low line on both engines (coalesce to false here,
      // the same COALESCE in the oracle): without it Spark's
      // when/otherwise counts NULL as low while SQL's NOT IN drops it
      // into neither bucket — benign on this fixture (no null
      // priorities) but a latent cross-engine divergence (r11 ADVICE).
      val high = coalesce(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), lit(false))
      t(s, d, "orders")
        .join(t(s, d, "lineitem")
            .where(col("l_shipdate").cast("date") >= lit("1997-01-01").cast("date") &&
              col("l_shipdate").cast("date") < lit("1998-01-01").cast("date"))
            .select(col("l_orderkey"), col("l_shipdate"), col("l_linestatus")),
          col("o_orderkey") === col("l_orderkey"))
        .where(col("l_shipdate").cast("date") > date_add(col("o_orderdate").cast("date"), 30))
        .groupBy(col("l_linestatus"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy(col("l_linestatus"))
    }),

    "b108_tpch_q13" -> ((s, d) => {
      // TPC-H Q13 shape (customer order-count distribution): two-level
      // aggregate preserving zero-order customers. The textbook form
      // left-outer-joins RAW orders then counts per customer; here
      // orders pre-aggregate to (custkey, cnt) BELOW the join — legal
      // because the join key is the group key — so the big side shrinks
      // to ≤1 row per customer before it shuffles against customer. The
      // excluded priority class (the fixture's comment-filter stand-in)
      // is pushed to the orders scan; the second aggregate groups a few
      // dozen distinct counts — a tiny final exchange.
      val oc = t(s, d, "orders")
        .where(col("o_orderpriority") =!= "4-NOT SPECIFIED")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
      t(s, d, "customer").select(col("c_custkey"))
        .join(oc, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(coalesce(col("cnt"), lit(0L)).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    "b109_tpch_q15" -> ((s, d) => {
      // TPC-H Q15 shape (top supplier): per-supplier quarter revenue,
      // keep the max. Revenue is exact cent·percent integers so the
      // max-equality probe is bit-safe in both engines. Plan: ONE
      // suppkey aggregate whose exchange feeds both the 1-row global
      // max (the audited one-row broadcast gate) and the equality
      // probe — Spark's exchange reuse deduplicates the lineitem scan;
      // the ≈1-row surviving side then BROADCASTS against supplier
      // (never supplier broadcast: at 100 TB supplier is SF-scaled,
      // the max-revenue winner set is not).
      val cents = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
      val rev = t(s, d, "lineitem")
        .where(col("l_shipdate").cast("date") >= lit("1997-01-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1997-04-01").cast("date"))
        .groupBy(col("l_suppkey"))
        .agg(sum(cents * (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long")))
          .as("total_revenue_c100"))
      val mx = broadcast(rev.agg(max(col("total_revenue_c100")).as("mx")))
      val top = rev.crossJoin(mx).where(col("total_revenue_c100") === col("mx"))
      broadcast(top)
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue_c100"))
        .orderBy(col("s_suppkey"))
    }),

    "b110_tpch_q19" -> ((s, d) => {
      // TPC-H Q19 shape (discounted revenue from three brand/size/
      // quantity classes): the canonical OR-of-ANDs mixed-side
      // predicate. Plan: a plain partkey equi-join (both sides SF-scale
      // at 100 TB — AQE picks broadcast vs shuffle from runtime sizes,
      // the b100 discipline) with the disjunction one codegen'd
      // residual; part prunes to 3 columns at the scan. Each scan also
      // carries the disjunction's derivable HULL (r11 VERDICT #4):
      // `l_quantity BETWEEN 1 AND 30` on lineitem and the brand-IN/size
      // range on part — implied by the OR-of-ANDs, so semantics are
      // unchanged, but as single-column conjuncts they PUSH to the
      // parquet scans (PlanSpec asserts lineitem's PushedFilters), and
      // at 100 TB row-group min/max skipping on the quantity hull is
      // the difference between reading every lineitem row group and
      // only the matching ones. The exact disjunction stays as the
      // post-join residual. Exact-integer 1-row output.
      val cents = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
      val rev = cents * (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long"))
      t(s, d, "lineitem")
        .where(col("l_quantity") >= 1.0 && col("l_quantity") <= 30.0)
        .join(t(s, d, "part")
            .where(col("p_brand").isin("Brand#12", "Brand#23", "Brand#3") &&
              col("p_size").between(1, 15))
            .select(col("p_partkey"), col("p_brand"), col("p_size")),
          col("l_partkey") === col("p_partkey"))
        .where(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity") >= 1.0 && col("l_quantity") <= 11.0) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity") >= 10.0 && col("l_quantity") <= 20.0) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
            col("l_quantity") >= 20.0 && col("l_quantity") <= 30.0))
        .agg(sum(rev).as("revenue_c100"), count(lit(1)).as("n_items"))
    }),

    // ── r11 continuation wave 3: TPC-H partsupp family on the derived
    // catalog (psDerived — the fixture has no partsupp table).
    "b115_tpch_q2" -> ((s, d) => {
      // TPC-H Q2 shape (minimum-cost supplier): for small LARGE-type
      // parts, the European supplier(s) at the per-part minimum supply
      // cost. The textbook correlated-min subquery re-scans partsupp
      // per part; this is the window form — ONE region-filtered
      // ps⋈supplier build, a per-partkey min window, filter cost==min
      // (bit-safe integer cents), then the part dim join. nation/region
      // fold into a tiny broadcast; the size/type filter prunes part at
      // its scan; ordered with a full tiebreak so LIMIT is stable.
      val eur = broadcast(t(s, d, "nation")
        .join(t(s, d, "region").where(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name")))
      val cost = psDerived(s, d)
        .join(t(s, d, "supplier"), col("ps_suppkey") === col("s_suppkey"))
        .join(eur, col("s_nationkey") === col("n_nationkey"))
      val wmin = Window.partitionBy(col("ps_partkey"))
      cost.withColumn("min_cost", min(col("ps_supplycost_c")).over(wmin))
        .where(col("ps_supplycost_c") === col("min_cost"))
        .join(t(s, d, "part").where(col("p_size") <= 10 && col("p_type") === "LARGE")
            .select(col("p_partkey"), col("p_type")),
          col("ps_partkey") === col("p_partkey"))
        .select(floor(col("s_acctbal") * 100 + 0.5).cast("long").as("s_acctbal_c"),
          col("s_name"), col("n_name"), col("p_partkey"), col("p_type"),
          col("ps_supplycost_c"))
        .orderBy(col("s_acctbal_c").desc, col("n_name"), col("s_name"), col("p_partkey"))
        .limit(100)
    }),

    "b116_tpch_q9" -> ((s, d) => {
      // TPC-H Q9 shape (product-type profit): profit per (supplier
      // nation, order year) for one part family. Cost of a line := its
      // (part, supplier)'s historical-minimum line price (psDerived),
      // so profit = rev_c100 − 100·cost_c stays exact integers in 10⁻⁴
      // dollars. Plan: lineitem joins ps on the COMPOSITE key ps was
      // grouped on (its exchange feeds the join directly); the part
      // family filters before its join; nation broadcast; one
      // (nation, year) aggregate.
      val cents = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
      val rev = cents * (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long"))
      t(s, d, "lineitem")
        .join(psDerived(s, d), col("l_partkey") === col("ps_partkey") &&
          col("l_suppkey") === col("ps_suppkey"))
        .join(t(s, d, "part").where(col("p_name").contains("red"))
          .select(col("p_partkey")), col("l_partkey") === col("p_partkey"))
        .join(t(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate").cast("date")).cast("long").as("o_year"))
        .agg(sum(rev - lit(100L) * col("ps_supplycost_c")).as("profit_c100"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    "b117_tpch_q11" -> ((s, d) => {
      // TPC-H Q11 shape (important stock): per-part inventory value
      // within one nation's suppliers, kept where the part's share
      // clears 3× the MEAN share (TPC-H's fixed fraction is 1/SF-scaled
      // precisely because a constant goes vacuous as the part count
      // grows; the mean-relative form self-scales to any SF). The
      // global (total, count) arrives as the audited one-row broadcast
      // with the fraction INTEGER-CLEARED (value·n > 3·total — no float
      // division); the per-part aggregate's subtree feeds both the
      // total and the probe, so exchange reuse builds it once. The
      // cleared products run in DECIMAL(38,0) (r11 ADVICE): value_cd is
      // already a sum of cost_c×availqty_deci products (~1e14 at sf1),
      // so value_cd·n_parts and 3·tot both clear BIGINT's 9.2e18 well
      // before 100 TB — and the two engines fail DIFFERENTLY on
      // overflow (Spark wraps silently, DuckDB raises), the worst
      // cross-engine failure mode. DECIMAL(38,0) holds to 1e38;
      // the safe regime is value_cd·n_parts < 1e38, i.e. any
      // conceivable SF.
      val natSupp = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation").where(col("n_name") === "NATION_5")
          .select(col("n_nationkey"))), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val v = psDerived(s, d)
        .join(natSupp, col("ps_suppkey") === col("s_suppkey"))
        .groupBy(col("ps_partkey"))
        .agg(sum(col("ps_supplycost_c") * col("ps_availqty_deci")).as("value_cd"))
      val tot = broadcast(v.agg(sum(col("value_cd")).as("tot"),
        count(lit(1)).as("n_parts")))
      v.crossJoin(tot).where(col("value_cd").cast("decimal(38,0)") * col("n_parts")
          > lit(3L) * col("tot").cast("decimal(38,0)"))
        .select(col("ps_partkey"), col("value_cd"))
        .orderBy(col("value_cd").desc, col("ps_partkey"))
    }),

    "b118_tpch_q16" -> ((s, d) => {
      // TPC-H Q16 shape (suppliers per part class): distinct suppliers
      // per (brand, type, size) class, excluding one brand, one type,
      // and flagged suppliers (negative balance — the fixture's
      // complaint stand-in). The exclusion is a left_anti join with the
      // balance filter pushed to the supplier scan (never NOT IN with a
      // rescan; anti side is SF-scaled, so no forced broadcast — AQE
      // sizes it); part's IN-list/inequality filters prune at its scan;
      // count(DISTINCT) runs the standard two-phase partial expand.
      psDerived(s, d)
        .join(t(s, d, "supplier").where(col("s_acctbal") < 0)
          .select(col("s_suppkey")), col("ps_suppkey") === col("s_suppkey"), "left_anti")
        .join(t(s, d, "part")
          .where(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(3, 9, 14, 19, 23, 36, 45, 49)),
          col("ps_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    }),

    "b119_tpch_q20" -> ((s, d) => {
      // TPC-H Q20 shape (potential part promotion): suppliers in one
      // nation holding excess stock of a part family — availqty above
      // 4× the 1997 shipped quantity. (The derived ps_availqty is
      // LIFETIME shipped, so the textbook 0.5× test would be vacuously
      // true; 4× keeps the nested-IN cascade and cuts both ways.)
      // Plan: the year aggregate left-joins ps on ps's own grouping
      // key; the part-family test is a left_semi (no row duplication);
      // the qualified supplier set reaches supplier as a final
      // left_semi — the textbook nested IN chain flattened to joins
      // with no correlated re-scan; nation broadcast.
      val yq = t(s, d, "lineitem")
        .where(col("l_shipdate").cast("date") >= lit("1997-01-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1998-01-01").cast("date"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(floor(col("l_quantity") * 10 + 0.5).cast("long")).as("year_qty_deci"))
      val qualified = psDerived(s, d)
        .join(t(s, d, "part").where(col("p_name").startsWith("blue"))
          .select(col("p_partkey")), col("ps_partkey") === col("p_partkey"), "left_semi")
        .join(yq, col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"), "left_outer")
        .where(col("ps_availqty_deci") > lit(4L) * coalesce(col("year_qty_deci"), lit(0L)))
        .select(col("ps_suppkey"))
      t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation").where(col("n_name") === "NATION_7")
          .select(col("n_nationkey"))), col("s_nationkey") === col("n_nationkey"))
        .join(qualified, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .select(col("s_name"),
          floor(col("s_acctbal") * 100 + 0.5).cast("long").as("s_acctbal_c"))
        .orderBy(col("s_name"))
    }),

    // ── r11 continuation wave 2: TPC-H Q7/Q8/Q21 + funnel attribution.
    "b111_tpch_q7" -> ((s, d) => {
      // TPC-H Q7 shape (volume shipping between two nations): revenue
      // by (supplier nation, customer nation, ship year) for one nation
      // pair over two years. Plan: nation is a provably-tiny broadcast
      // pre-filtered to the pair on BOTH legs, so supplier and customer
      // prune to two nations BEFORE the big joins; the ship window is
      // PUSHED to the lineitem scan; lineitem⋈orders shuffles on
      // orderkey then custkey; the pair-direction residual runs on the
      // joined row. Exact cent·percent revenue.
      val cents = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
      val rev = cents * (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long"))
      val pair = Seq("NATION_1", "NATION_2")
      val supp = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation").where(col("n_name").isin(pair: _*))
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("s_nk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val cust = t(s, d, "customer")
        .join(broadcast(t(s, d, "nation").where(col("n_name").isin(pair: _*))
          .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))),
          col("c_nationkey") === col("c_nk"))
        .select(col("c_custkey"), col("cust_nation"))
      t(s, d, "lineitem")
        .where(col("l_shipdate").cast("date") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1998-01-01").cast("date"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .where((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate").cast("date")).cast("long").as("l_year"))
        .agg(sum(rev).as("revenue_c100"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    "b112_tpch_q8" -> ((s, d) => {
      // TPC-H Q8 shape (national market share): the target nation's
      // share of one region's market for one part type, by order year,
      // in integer basis points. Plan: region/nation fold into tiny
      // broadcasts on the customer (market) and supplier (share) legs;
      // part filters on type before joining lineitem (AQE sizes the
      // exchange); the share is TWO conditional sums in ONE final
      // aggregate — never a second pass over the join.
      val cents = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
      val rev = cents * (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long"))
      val mktNk = broadcast(t(s, d, "nation")
        .join(t(s, d, "region").where(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("mkt_nk")))
      val cust = t(s, d, "customer").join(mktNk, col("c_nationkey") === col("mkt_nk"))
        .select(col("c_custkey"))
      val supp = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")
          .select(col("n_nationkey").as("supp_nk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("supp_nk"))
        .select(col("s_suppkey"), col("supp_nation"))
      t(s, d, "lineitem")
        .join(t(s, d, "part").where(col("p_type") === "STANDARD").select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "orders")
            .where(col("o_orderdate").cast("date") >= lit("1996-01-01").cast("date") &&
              col("o_orderdate").cast("date") < lit("1998-01-01").cast("date"))
            .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(year(col("o_orderdate").cast("date")).cast("long").as("o_year"))
        .agg(sum(when(col("supp_nation") === "NATION_3", rev).otherwise(0L))
            .as("nation_rev_c100"),
          sum(rev).as("total_rev_c100"))
        .withColumn("mkt_share_bp", expr("(nation_rev_c100 * 10000) div total_rev_c100"))
        .orderBy(col("o_year"))
    }),

    "b113_tpch_q21" -> ((s, d) => {
      // TPC-H Q21 shape (suppliers who kept orders waiting): finished
      // orders where EXACTLY ONE supplier shipped late (>90 days after
      // the order date — the fixture's receipt-date stand-in) with at
      // least one other supplier on the order; per late supplier in one
      // region, count their late lines on such orders. The textbook
      // EXISTS + NOT-EXISTS pair is TWO lineitem self-joins — the plan
      // that dies first at 100 TB; this is the aggregated rewrite: one
      // orderkey shuffle computing (distinct suppliers, distinct late
      // suppliers, the unique late supplier, late-line count) per
      // order, then a filter and a tiny dim join. The oracle runs the
      // textbook EXISTS form, checking the rewrite's equivalence.
      val late = col("l_shipdate").cast("date") >
        date_add(col("o_orderdate").cast("date"), 90)
      // r18 (guide §2.3, VERDICT r17 #5): the two countDistincts planned
      // as an Expand — every joined row tripled (one stream per distinct
      // set + one for the plain aggregates) into the orderkey exchange.
      // Rewritten as the algebraically identical TWO-LEVEL aggregate:
      // one orderkey-keyed NUMBERED repartition of the post-join
      // (orderkey, suppkey, is_late) rows — half the row count of the
      // old Expand stream at a third the width — then
      // groupBy(orderkey, suppkey) (per-supplier late flag + late-line
      // count) then groupBy(orderkey), BOTH exchange-free on top of the
      // repartition (hashpartitioning(l_orderkey) satisfies both
      // clusterings). n_supp = count of (orderkey, suppkey) groups ≡
      // countDistinct(suppkey); n_late = count of groups with a late
      // line ≡ countDistinct(when(late, suppkey)) (countDistinct
      // ignores nulls). The numbered repartition (the c104 discipline —
      // AQE would byte-coalesce an unnumbered one) also spreads the
      // aggregation off the single-file broadcast-probe; at cluster
      // scale, where the orders side stops broadcasting and the join
      // becomes an orderkey SortMergeJoin, the repartition matches the
      // join's own output partitioning. Skew-safe: rows per orderkey
      // are bounded by lines/order.
      val perOrder = t(s, d, "lineitem")
        .join(t(s, d, "orders").where(col("o_orderstatus") === "F")
            .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"), late.as("is_late"))
        .repartition(s.sessionState.conf.numShufflePartitions, col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(col("is_late")).as("supp_late"),
          sum(when(col("is_late"), 1L).otherwise(0L)).as("late_lines"))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_supp"),
          sum(when(col("supp_late"), 1L).otherwise(0L)).as("n_late"),
          min(when(col("supp_late"), col("l_suppkey"))).as("late_supp"),
          sum(col("late_lines")).as("n_late_lines"))
        .where(col("n_supp") >= 2 && col("n_late") === 1)
      val suppR = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")
          .join(t(s, d, "region").where(col("r_name") === "AFRICA"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"))
      perOrder.join(suppR, col("late_supp") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(sum(col("n_late_lines")).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    }),

    "b114_funnel_attribution" -> ((s, d) => {
      // funnel → revenue attribution (the r12-roadmap consumer of the
      // funnel family): join the b94 stage-time kernel back to purchase
      // revenue. Per user: highest stage reached, total purchase cents,
      // and ATTRIBUTED cents — purchases inside the 30-day window
      // strictly after the user's click time (the kernel's own
      // strictly-after semantics bound by a campaign horizon). Plan:
      // the stage windows and the purchase-row join both hash on
      // user_id — the left join adds no new exchange key; the per-user
      // share is integer ppm, null-free via a −1 sentinel.
      val stages = Seq("view", "click", "purchase")
      val ev = t(s, d, "events").where(col("event_type").isin(stages: _*))
      val staged = graft.operators.Series.funnelStageTimes(
        ev, "user_id", "event_type", "ts", stages)
      val purRows = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          floor(col("value") * 100 + 0.5).cast("long").as("pc"))
      val attrWin = col("ts") > col("s2") &&
        col("ts") <= col("s2") + expr("INTERVAL 30 DAYS")
      staged.join(purRows, Seq("user_id"), "left_outer")
        .groupBy(col("user_id"), col("s1"), col("s2"), col("s3"))
        .agg(sum(col("pc")).as("purch_c"),
          sum(when(attrWin, col("pc"))).as("attr_c"))
        .select(col("user_id"),
          when(col("s3").isNotNull, 3).when(col("s2").isNotNull, 2)
            .when(col("s1").isNotNull, 1).otherwise(0).as("cohort"),
          coalesce(col("purch_c"), lit(0L)).as("purchase_c"),
          coalesce(col("attr_c"), lit(0L)).as("attributed_c"))
        .withColumn("attr_share_ppm",
          coalesce(expr("(attributed_c * 1000000) div nullif(purchase_c, 0)"), lit(-1L)))
        .orderBy(col("user_id"))
    }),

    "b120_funnel_ttc" -> ((s, d) => {
      // per-transition TIME-TO-CONVERT distribution + drop-off (the r11
      // VERDICT's depth item): for each funnel transition i → i+1, the
      // hour-bucketed latency histogram of converting users with a
      // cumulative CDF in integer ppm OF THE POPULATION THAT REACHED
      // stage i — so the last row of each transition reads off the
      // conversion rate and every row before it answers "what share
      // converted within h hours". Plan: the b94/b102 kernel's ONE
      // user_id exchange (plan-asserted), a 3-rows-per-user stack
      // (map-side), then the b71 cumulative-window machinery on the
      // BUCKETED frame — groupBy (t, hrs) partial-aggregates map-side
      // and the cumulative window runs over transitions × distinct
      // hour buckets, bounded by the funnel horizon in hours, never by
      // user count. Exact integers end to end: micros deltas are
      // non-negative (strictly-after kernel semantics), so `div` floors
      // identically in both engines; dropped users (null next stage)
      // count in users_from via a pre-filter window over the same
      // t-partitioning and never enter the CDF.
      val stages = Seq("view", "click", "signup", "purchase")
      val staged = graft.operators.Series.funnelStageTimes(
        t(s, d, "events").where(col("event_type").isin(stages: _*)),
        "user_id", "event_type", "ts", stages)
      val trans = staged.select(expr(
          "stack(3, " +
            "1, 'view_click',      unix_micros(s1), unix_micros(s2), " +
            "2, 'click_signup',    unix_micros(s2), unix_micros(s3), " +
            "3, 'signup_purchase', unix_micros(s3), unix_micros(s4)) " +
            "AS (t, transition, from_us, to_us)"))
        .where(col("from_us").isNotNull)
        .select(col("t"), col("transition"),
          when(col("to_us").isNotNull,
            expr("(to_us - from_us) div 3600000000")).as("hrs"))
      val hist = trans.groupBy(col("t"), col("transition"), col("hrs"))
        .agg(count(lit(1)).as("n_users"))
      val wAll = Window.partitionBy(col("t"))
      val wCum = Window.partitionBy(col("t")).orderBy(col("hrs"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist.withColumn("users_from", sum(col("n_users")).over(wAll))
        .where(col("hrs").isNotNull)
        .withColumn("cum_users", sum(col("n_users")).over(wCum))
        .select(col("t"), col("transition"), col("hrs"), col("n_users"),
          col("cum_users"), col("users_from"),
          expr("(cum_users * 1000000) div users_from").as("ttc_cum_ppm"))
        .orderBy(col("t"), col("hrs"))
    }),

    "b121_funnel_ab" -> ((s, d) => {
      // deterministic A/B experiment readout over the funnel: users
      // split into control/treatment by the md5 tokenHash convention
      // (never rand() — the split is reproducible in any engine and
      // stable across runs, the c23 train/test discipline), per-arm
      // stage conversion in ppm, and the per-stage treatment LIFT as a
      // cleared-fraction ratio-of-ratios in integer basis points:
      // lift_bp = (trt_i·ctrl_1·10000) div (trt_1·ctrl_i), computed in
      // DECIMAL(38,0) (the b117 rule: at 1e9 users the BIGINT product
      // wraps in Spark but raises in DuckDB). CROSS-ENGINE FLOOR RULE
      // (r12 ADVICE): Spark's `div` on DECIMAL is exact floor on
      // non-negative operands, but DuckDB's `//` on DECIMAL operands is
      // plain double division + round-half-even — the oracle therefore
      // computes the lift in HUGEINT, whose `//` is exact integer floor
      // division. FloorDivSpec exercises a non-degenerate funnel where
      // the lift fraction is >= 0.5 so floor-vs-round actually bites.
      // Plan: the kernel's one
      // user_id exchange; the arm aggregate partial-compacts to ≤2
      // rows per task before its (tiny) shuffle; the pivot + stack run
      // on a 1-row frame. −1 sentinel when a denominator is empty.
      val stages = Seq("view", "click", "signup", "purchase")
      val staged = graft.operators.Series.funnelStageTimes(
        t(s, d, "events").where(col("event_type").isin(stages: _*)),
        "user_id", "event_type", "ts", stages)
      val perArm = staged
        .withColumn("arm",
          pmod(Text.tokenHash(col("user_id").cast("string")), lit(2L)))
        .groupBy(col("arm"))
        .agg(count(col("s1")).as("u1"), count(col("s2")).as("u2"),
          count(col("s3")).as("u3"), count(col("s4")).as("u4"))
      val pivCols = (1 to 4).flatMap(i => Seq(
        sum(when(col("arm") === 0, col(s"u$i"))).as(s"c$i"),
        sum(when(col("arm") === 1, col(s"u$i"))).as(s"t$i")))
      val piv = perArm.agg(pivCols.head, pivCols.tail: _*)
      piv.select(expr(
          "stack(4, " +
            "1, 'view',     c1, t1, " +
            "2, 'click',    c2, t2, " +
            "3, 'signup',   c3, t3, " +
            "4, 'purchase', c4, t4) " +
            "AS (stage, event_type, cu, tu)"),
          col("c1"), col("t1"))
        .select(col("stage"), col("event_type"),
          coalesce(col("cu"), lit(0L)).as("ctrl_users"),
          coalesce(col("tu"), lit(0L)).as("trt_users"),
          coalesce(col("c1"), lit(0L)).as("cb"),
          coalesce(col("t1"), lit(0L)).as("tb"))
        .withColumn("ctrl_ppm", coalesce(
          expr("(ctrl_users * 1000000) div nullif(cb, 0)"), lit(-1L)))
        .withColumn("trt_ppm", coalesce(
          expr("(trt_users * 1000000) div nullif(tb, 0)"), lit(-1L)))
        .withColumn("lift_bp", coalesce(
          expr("(CAST(trt_users AS DECIMAL(38,0)) * cb * 10000) " +
            "div nullif(CAST(ctrl_users AS DECIMAL(38,0)) * tb, 0)"),
          lit(-1L)))
        .drop("cb", "tb")
        .orderBy(col("stage"))
    }),

    "b122_stream_classifier_parity" -> ((s, d) =>
      // batch parity for STREAMING classifier inference (the r13 graduate:
      // StreamingSpec proves Pipeline.linearClassifierScore runs UNCHANGED
      // on a readStream — stateless broadcast weight join + one per-doc
      // aggregate — and that the drained stream's per-SOURCE gate monitor
      // equals this query). The readout is the live dashboard a streaming
      // gate deployment publishes: per ingest source, docs scored, docs
      // and chars passing the gate, and the exact-ppm keep rate — the
      // per-source view the c110 lang-yield curve intentionally does not
      // cover (roadmap 8n-3d's "real consumer shape": an ingest monitor is
      // keyed by source, not language). Batch side reads the memoized
      // scored frame + ONE slim (doc_id, source) parquet scan
      // (plan-asserted, the c111 leaf discipline); at 100 TB the stream
      // pays the same plan per micro-batch with O(|sources|) state.
      t(s, d, "documents").select(col("doc_id"), col("source"))
        .join(docClassifierScores(s, d)
          .select(col("doc_id"), col("n_chars"), col("score")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("total_docs"),
          sum(when(col("score") >= 0L, 1L).otherwise(0L)).as("kept_docs"),
          sum(when(col("score") >= 0L, col("n_chars")).otherwise(0L)).as("kept_chars"))
        .withColumn("kept_ppm", expr("(kept_docs * 1000000) div total_docs"))
        .orderBy(col("source"))),

    "b123_funnel_ab_revenue" -> ((s, d) => {
      // the A/B readout in REVENUE terms (the r13-roadmap b102 consumer):
      // per experiment arm — md5 tokenHash split, the b121 convention —
      // funnel starters, purchasers, and ATTRIBUTED revenue (purchase
      // cents inside the 30-day window strictly after the user's click,
      // b114's attribution window verbatim), then revenue-per-starter in
      // exact micro-cents-per-user and the treatment lift on that rate as
      // a cleared ratio-of-ratios in basis points:
      //   rev_lift_bp = (trt_c·ctrl_u1·10000) div (ctrl_c·trt_u1)
      // computed in DECIMAL(38,0) / HUGEINT (the b121 floor rule — both
      // engines floor, never round). The single division is load-bearing:
      // splitting it (div by trt_users first) compounds two floors and
      // changes the value, so exactness requires the full products. Plan:
      // the stage windows and the purchase join both hash on user_id —
      // ONE user exchange (plan-asserted); the per-arm aggregate
      // partial-compacts to ≤2 rows per task; the lift pivot runs on a
      // 1-row frame. −1 sentinel when an arm has no starters or ctrl
      // revenue is zero — and, on the Spark side only, if the 38-digit
      // product ever overflowed (non-ANSI DECIMAL overflow → null →
      // coalesce; DuckDB's HUGEINT would raise instead, r14 ADVICE).
      // That path needs rev_cents·users ≥ 10^34 — at full-planet scale
      // (10^10 users × $10^11 in cents) the product is ~10^23, eleven
      // orders below the cliff, so the overload is documented rather
      // than disambiguated. Since the r15 extended session the per-user
      // attributed frame lives in the MEMOIZED funnelAbRevUserFrame (the
      // b128 contrast consumes it too); this readout is a cache read +
      // the ≤2-row arm aggregate, and the user-exchange assert runs
      // against the frame's embedded build plan (PlanSpec, the b124
      // convention). Pivot + lift tail single-sourced in
      // EntryShared.funnelAbRevReadout (shared with b126/b128 — r15
      // extended review).
      funnelAbRevReadout(funnelAbRevUserFrame(s, d))
    }),

    "b124_funnel_ab_ttc" -> ((s, d) => {
      // per-ARM time-to-convert — "did treatment speed conversions up,
      // not just raise them?", the latency readout next to b121's rate
      // readout: for each arm × funnel transition, users reaching the
      // from-stage, converting users, exact-ppm conversion, and exact
      // discrete p50/p90 latency hour buckets — pN = the SMALLEST hour
      // bucket whose cumulative converter count clears N% of converters
      // (2·cum ≥ n and 10·cum ≥ 9·n in pure BIGINT — no interpolation,
      // both engines floor identically). Plan: the b120 shape with arm
      // in every key — ONE user_id exchange for the stage windows, the
      // 3-row stack map-side, then windows + aggregate over the
      // (arm, t, hrs)-bucketed frame, bounded by 2 arms × 3 transitions
      // × horizon hours, never by user count. Since r15 that machinery
      // lives in the MEMOIZED funnelAbTtcCumFrame (the b125 contrast
      // consumes it three times); this readout is a cache read + one
      // bounded-frame aggregate, and the user-exchange assert runs
      // against the frame's embedded build plan (PlanSpec).
      // An (arm, transition) with zero converters has no latency rows
      // and drops out in BOTH engines (from_users would be its only
      // content; b120 publishes that population).
      funnelAbTtcCumFrame(s, d)
        .groupBy(col("arm"), col("t"), col("transition"),
          col("from_users"), col("conv_users"))
        .agg(min(when(col("cum") * 2 >= col("conv_users"), col("hrs"))).as("p50_hrs"),
          min(when(col("cum") * 10 >= col("conv_users") * 9, col("hrs"))).as("p90_hrs"))
        .select(col("arm"), col("t"), col("transition"),
          col("from_users"), col("conv_users"),
          expr("(conv_users * 1000000) div from_users").as("conv_ppm"),
          col("p50_hrs"), col("p90_hrs"))
        .orderBy(col("arm"), col("t"))
    }),

    "b125_funnel_ab_ttc_contrast" -> ((s, d) => {
      // the per-arm TTC percentile CONTRAST — "is the speedup real?", the
      // decision readout over b124's raw per-arm table (r14 roadmap): one
      // row per funnel transition with both arms' converter counts and
      // p50/p90 hour buckets side by side, the percentile deltas, and two
      // integer-cleared verdict booleans. The significance device is
      // stochastic-dominance-at-the-median, all in cleared BIGINT
      // products (never a ratio): trt_cov_at_ctrl_p50 = treatment
      // converters landing at or under CONTROL's p50 bucket, then
      //   trt_faster_at_median: 2·cov ≥ trt_convs     (≥50 % — the sign)
      //   speedup_cleared:     20·cov ≥ 11·trt_convs  (≥55 % — 5-pt
      //     margin) AND both arms ≥ 20 converters (the sample floor; an
      //     underpowered transition can never clear, it reports sign
      //     only). On the fixture the md5 split is iid — no real
      //     treatment effect exists — so cleared=false on every
      //     transition at every sf IS the truthful verdict (the sign
      //     boolean flips by noise: 2 true / 1 false at sf0.1), and the
      //     margin comparison sits within 4 % of the bar at sf0.1, so a
      //     broken clearing product still flips the oracle.
      //     Sentinel propagation: an arm absent from a transition
      //     surfaces as convs=0 / percentiles −1 and both booleans false;
      //     the deltas are then vs −1 and meaningless — a consumer gates
      //     on the convs columns first (the b120 population discipline).
      // Plan: three cache reads of the MEMOIZED funnelAbTtcCumFrame (the
      // user-scale funnel machinery — one user_id exchange — is paid once
      // in the memo build, plan-asserted there); everything here (pivot,
      // coverage join, verdicts) runs on the (arm,t,hrs)-bounded frame:
      // ≤ 2 arms × 3 transitions × horizon hours rows, never user count;
      // the coverage leg joins two sub-frames of that same bounded frame
      // on t (≤3 keys, broadcast).
      val k = funnelAbTtcCumFrame(s, d)
      val pct = k.groupBy(col("arm"), col("t"), col("transition"),
          col("conv_users"))
        .agg(min(when(col("cum") * 2 >= col("conv_users"), col("hrs"))).as("p50_hrs"),
          min(when(col("cum") * 10 >= col("conv_users") * 9, col("hrs"))).as("p90_hrs"))
      val pv = pct.groupBy(col("t"), col("transition"))
        .agg(
          coalesce(max(when(col("arm") === 0, col("conv_users"))), lit(0L)).as("ctrl_convs"),
          coalesce(max(when(col("arm") === 1, col("conv_users"))), lit(0L)).as("trt_convs"),
          coalesce(max(when(col("arm") === 0, col("p50_hrs"))), lit(-1L)).as("ctrl_p50_hrs"),
          coalesce(max(when(col("arm") === 1, col("p50_hrs"))), lit(-1L)).as("trt_p50_hrs"),
          coalesce(max(when(col("arm") === 0, col("p90_hrs"))), lit(-1L)).as("ctrl_p90_hrs"),
          coalesce(max(when(col("arm") === 1, col("p90_hrs"))), lit(-1L)).as("trt_p90_hrs"))
      val cov = pv.select(col("t"), col("ctrl_p50_hrs"))
        .join(k.where(col("arm") === 1)
          .select(col("t"), col("hrs"), col("n_users")), Seq("t"), "left_outer")
        .groupBy(col("t"))
        .agg(coalesce(sum(when(col("hrs") <= col("ctrl_p50_hrs"),
          col("n_users"))), lit(0L)).as("trt_cov_at_ctrl_p50"))
      pv.join(cov, Seq("t"))
        .select(col("t"), col("transition"), col("ctrl_convs"), col("trt_convs"),
          col("ctrl_p50_hrs"), col("trt_p50_hrs"),
          col("ctrl_p90_hrs"), col("trt_p90_hrs"),
          (col("trt_p50_hrs") - col("ctrl_p50_hrs")).as("d_p50_hrs"),
          (col("trt_p90_hrs") - col("ctrl_p90_hrs")).as("d_p90_hrs"),
          col("trt_cov_at_ctrl_p50"),
          (col("ctrl_convs") > 0L && col("trt_convs") > 0L &&
            col("trt_cov_at_ctrl_p50") * 2 >= col("trt_convs"))
            .as("trt_faster_at_median"),
          (col("ctrl_convs") >= 20L && col("trt_convs") >= 20L &&
            col("trt_cov_at_ctrl_p50") * 20 >= col("trt_convs") * 11)
            .as("speedup_cleared"))
        .orderBy(col("t"))
    }),

    "b128_funnel_ab_rev_contrast" -> ((s, d) => {
      // the REVENUE A/B decision readout (roadmap-8r 5b: the b125 device
      // applied to rev-per-user): one row joining b123's rate/lift pivot
      // with a per-purchaser revenue-distribution contrast, and three
      // integer-cleared verdicts. The rate device is the b125 margin rule
      // on the rev-per-user ratio — lift_cleared ⟺ both arms ≥ 20
      // purchasers AND ctrl revenue > 0 AND
      //   20·trt_rev_c·ctrl_users ≥ 21·ctrl_rev_c·trt_users
      // (≥5 % uplift as a cleared DECIMAL(38,0)/HUGEINT product, never a
      // ratio; Spark-side decimal overflow → null → false, the documented
      // b123 overload, unreachable below ~10^34). The distribution device
      // is the whale guard a revenue A/B needs (one outlier purchase can
      // drive the aggregate lift): per-purchaser attributed revenue in
      // whole-dollar buckets (greatest(attr_c, 0) div 100 — exact; the
      // greatest() ENFORCES the non-negative invariant the bucketing
      // needs rather than trusting fixture audit: Spark's div truncates
      // toward zero while DuckDB's // floors, so a refund-style negative
      // cents value would silently diverge between engines — clamped
      // identically on BOTH sides, refunds land in bucket 0 and the
      // engines cannot disagree), control's discrete median bucket = smallest
      // rev_d with 2·cum ≥ tot, then trt_gt_ctrl_med = treatment
      // purchasers STRICTLY above control's median —
      //   trt_bigger_at_median: 2·gt ≥ trt_purchasers   (the sign)
      //   median_shift_cleared: 20·gt ≥ 11·trt_purchasers AND both arms
      //     ≥ 20 purchasers (the 5-pt margin + sample floor)
      //   uplift_cleared = lift_cleared AND median_shift_cleared —
      // "the rate moved AND the typical purchaser spends more". On the
      // fixture the md5 split is iid, so cleared=false everywhere IS the
      // truthful verdict; the sign booleans sit near the coin-flip line
      // (measured per-sf splits in SURVEY §2D), so a broken product still
      // flips the oracle. Sentinels: an arm with no purchasers reports
      // med −1 / gt 0 and every verdict false (the b125 convention; d_med
      // is then vs −1 and meaningless — gate on the purchaser columns).
      // Plan: two cache reads of the MEMOIZED funnelAbRevUserFrame (the
      // user-scale funnel machinery paid once, plan-asserted there); the
      // distribution machinery runs on the (arm × distinct dollar
      // buckets)-bounded frame — cum/total windows there, never a per-user
      // global sort (the c114 discipline; the single-partition window is
      // over that bounded frame only); the two 1-row legs meet in ONE
      // explicit-broadcast BNLJ (the audited b65 1-row class).
      val m = funnelAbRevUserFrame(s, d)
      val piv = funnelAbRevArmPivot(m)
      val dist = m.where(col("s4").isNotNull)
        .groupBy(col("arm"),
          expr("greatest(coalesce(attr_c, 0), 0) div 100").as("rev_d"))
        .agg(count(lit(1)).as("n"))
      val wCum = Window.partitionBy(col("arm")).orderBy(col("rev_d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wArm = Window.partitionBy(col("arm"))
      val wAll = Window.partitionBy()
      val flagged = dist
        .withColumn("cum", sum(col("n")).over(wCum))
        .withColumn("tot", sum(col("n")).over(wArm))
        .withColumn("at_med", col("cum") * 2 >= col("tot"))
        .withColumn("ctrl_med_g",
          min(when(col("arm") === 0 && col("at_med"), col("rev_d"))).over(wAll))
      // ctrl_med_rev_d is DERIVED from the same ctrl_med_g the coverage
      // count uses (constant across the frame, min = the value) — one
      // median definition per engine, so the reported median and the
      // coverage's reference can never diverge (r15 extended review)
      val med = flagged.agg(
        coalesce(min(col("ctrl_med_g")), lit(-1L)).as("ctrl_med_rev_d"),
        coalesce(min(when(col("arm") === 1 && col("at_med"), col("rev_d"))),
          lit(-1L)).as("trt_med_rev_d"),
        coalesce(sum(when(col("arm") === 1 && col("rev_d") > col("ctrl_med_g"),
          col("n"))), lit(0L)).as("trt_gt_ctrl_med"))
      piv.crossJoin(broadcast(med))
        .withColumn("rev_lift_bp", revLiftBp)
        .withColumn("d_med_rev_d", col("trt_med_rev_d") - col("ctrl_med_rev_d"))
        .withColumn("lift_cleared", coalesce(
          col("ctrl_purchasers") >= 20L && col("trt_purchasers") >= 20L &&
            col("ctrl_rev_c") > 0L &&
            expr("CAST(trt_rev_c AS DECIMAL(38,0)) * ctrl_users * 20 >= " +
              "CAST(ctrl_rev_c AS DECIMAL(38,0)) * trt_users * 21"),
          lit(false)))
        .withColumn("trt_bigger_at_median",
          col("ctrl_purchasers") > 0L && col("trt_purchasers") > 0L &&
            col("trt_gt_ctrl_med") * 2 >= col("trt_purchasers"))
        .withColumn("median_shift_cleared",
          col("ctrl_purchasers") >= 20L && col("trt_purchasers") >= 20L &&
            col("trt_gt_ctrl_med") * 20 >= col("trt_purchasers") * 11)
        .withColumn("uplift_cleared",
          col("lift_cleared") && col("median_shift_cleared"))
        .select(col("ctrl_users"), col("trt_users"),
          col("ctrl_purchasers"), col("trt_purchasers"),
          col("ctrl_rev_c"), col("trt_rev_c"), col("rev_lift_bp"),
          col("ctrl_med_rev_d"), col("trt_med_rev_d"), col("d_med_rev_d"),
          col("trt_gt_ctrl_med"), col("lift_cleared"),
          col("trt_bigger_at_median"), col("median_shift_cleared"),
          col("uplift_cleared"))
    }),

    "b126_stream_funnel_ab_revenue" -> ((s, d) => {
      // batch parity for the STREAMING A/B revenue readout
      // (Streams.streamFunnelAbRevenue — r14 VERDICT #4 resolved with the
      // honest shape: attribution computed INSIDE the funnel state machine
      // from the per-user buffer, never a stream-stream self-join; the
      // honesty constraint attrWindow <= gap is why this key's window is
      // 12 HOURS, not b123's 30 days — a 12 h horizon closes 6/52/593
      // fixture users at the three sfs while 30 d would close none).
      // This replicates the watermark-cut output in batch, the b99
      // discipline: stage kernel + horizon cut in integer MILLISECONDS
      // (the stream's timeout clock), then b123's attribution +
      // per-arm pivot + DECIMAL(38,0)-floored lift verbatim on the
      // CLOSED-user population. At sf0.001 control's closed revenue is
      // zero, so the oracle exercises the -1 lift sentinel; sf0.01/0.1
      // exercise real lift values. StreamingSpec asserts the live drained
      // stream equals this query column-for-column.
      // Plan: ONE user exchange shared by the stage windows (now also
      // carrying the last_ts horizon — the funnelStageTimes lastTsCol
      // extension, no second aggregate), the per-user compaction, and the
      // purchase attribution join; the watermark bound is the audited b65
      // one-row broadcast (the plan's single BNLJ); the arm pivot runs on
      // a 1-row frame.
      val stages = Seq("view", "click", "signup", "purchase")
      // ONE constant for horizon AND attribution window: the streaming
      // side require()s attrWindow <= gap, and the batch replica must
      // never drift from that invariant (the oracle hard-codes 43200000 /
      // INTERVAL 12 HOUR — change all three together or the gate fails)
      val gapMs = 43200000L
      val ev = t(s, d, "events")
      val f = ev.where(col("event_type").isin(stages: _*))
      val wm = broadcast(ev.agg(
        (unix_millis(max(col("ts"))) - lit(1800000L)).as("wm_ms")))
      val closed = graft.operators.Series.funnelStageTimes(
          f, "user_id", "event_type", "ts", stages, lastTsCol = Some("last_ts"))
        .crossJoin(wm)
        .where(unix_millis(col("last_ts")) + lit(gapMs) < col("wm_ms"))
      val purRows = f.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          floor(col("value") * 100 + 0.5).cast("long").as("pc"))
      val attrWin = col("ts") > col("s2") &&
        col("ts") <= col("s2") + expr(s"INTERVAL $gapMs MILLISECONDS")
      val perUser = closed.join(purRows, Seq("user_id"), "left_outer")
        .groupBy(col("user_id"), col("s1"), col("s2"), col("s4"))
        .agg(sum(when(attrWin, col("pc"))).as("attr_c"))
        .withColumn("arm",
          pmod(Text.tokenHash(col("user_id").cast("string")), lit(2L)))
      // pivot + rev-per-user + lift single-sourced with b123/b128
      // (EntryShared.funnelAbRevReadout — r15 extended review)
      funnelAbRevReadout(perUser)
    }),

    "b127_stream_calibration_monitor" -> ((s, d) => {
      // batch parity for the STREAMING calibration drift monitor
      // (Streams.streamCalibrationMonitor — the b122 graduation pattern
      // on the c114/c117 family): bucket every live doc's (score, kept_h)
      // into the REFERENCE calibration table's score ranges and compare
      // per-decile live keep ppm against the reference's. Reference =
      // the prev-generation table (the c117 doc_id%10 != 3 slice); live
      // = the full corpus — so the readout answers "does current traffic
      // keep at the reference's promised rates per score band", the live
      // complement of c117's generation-vs-generation delta (which
      // self-normalizes deciles; this one holds the reference's
      // boundaries FIXED, the monitor view). Bucket rule: decile d owns
      // [lo_d, lo_{d+1}), decile 1 open below, decile 10 open above —
      // total and deterministic, derived from lo_score alone (one lead
      // over the 10-row frame) so the two sides can never disagree.
      // drifted: |live − ref| > 10000 ppm (the c117 threshold; measured
      // fixture split 6/4 at sf0.001, 8/2 at 0.01, 2/8 at 0.1 — both
      // verdicts populate at every sf, nearest margin 22 ppm in exact
      // BIGINT, so a broken ppm product flips the oracle);
      // drifted_total = the c116 audit count. Live docs ⊇ the reference
      // population on this fixture, so every bucket is non-empty and the
      // inner bucket join loses nothing (the streaming twin documents
      // the empty-bucket semantics). Plan: the per-score aggregate
      // map-side combines over the memoized gate-bits cache (the c114
      // small-frame discipline — docs never sort globally); the bucket
      // join is a 10-row broadcast BNLJ against the |distinct scores|-row
      // frame (audited, docs/PLANS.md); windows only on ≤10-row frames.
      // bucket frame, membership predicate, and drift readout are the
      // SAME definitions the streaming twin uses (Streams.calibration*
      // — single-sourced per the r15 review so batch and stream can
      // never disagree); only the per-score pre-aggregate (the c114
      // small-frame discipline) and the batch-only drifted_total differ
      val ref = calibrationTableOf(
        docGateBits(s, d).where(pmod(col("doc_id"), lit(10)) =!= 3))
      val perScore = docGateBits(s, d)
        .groupBy(col("score"))
        .agg(count(lit(1)).as("n"), sum(col("kept_h").cast("long")).as("kh"))
      val wAll = Window.partitionBy()
      Streams.calibrationDriftCols(
          perScore.join(broadcast(Streams.calibrationBuckets(ref)),
              Streams.calibrationBucketCond)
            .groupBy(col("decile"), col("ref_kept_ppm"))
            .agg(sum(col("n")).as("n_docs_live"),
              sum(col("kh")).as("kept_h_docs_live")),
          driftPpm = 10000L)
        .withColumn("drifted_total",
          sum(when(col("drifted"), 1L).otherwise(0L)).over(wAll))
        .orderBy(col("decile"))
    }),

    "b02_join_broadcast" -> ((s, d) =>
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("p_brand"))),

    "b03_join_multi" -> ((s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val n = t(s, d, "nation"); val r = t(s, d, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("revenue"))
        .orderBy(col("r_name"))
    }),

    "b04_join_left" -> ((s, d) =>
      t(s, d, "customer").as("c")
        .join(t(s, d, "orders").as("o"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total"))
        .orderBy(col("c_custkey"))),

    "b05_join_semi" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders").where(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))),

    "b06_join_anti" -> ((s, d) =>
      // customers with no high-value order (plain no-orders anti join is
      // empty in the testdata; the filtered form keeps the result non-empty)
      t(s, d, "customer")
        .join(t(s, d, "orders").where(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))),

    "b07_join_theta" -> ((s, d) =>
      t(s, d, "orders")
        .join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey") && col("o_totalprice") > col("c_acctbal") * 50)
        .groupBy(col("c_custkey"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("c_custkey"))),

    "b08_join_asof" -> ((s, d) => {
      // for each purchase event: the user's most recent click at-or-before
      // it. Linear as-of: union both event kinds into ONE per-user sorted
      // stream and carry the running last click — one shuffle on user_id,
      // O(events) work. The join-then-rank alternative is quadratic per
      // user (every purchase pairs with every earlier click), which is the
      // plan that falls over at 100 TB.
      val e = t(s, d, "events")
      val tagged = e.where(col("event_type").isin("purchase", "click"))
        .select(col("event_id"), col("user_id"), col("ts"),
          // clicks sort before purchases at equal ts: cts <= ts is inclusive
          when(col("event_type") === "click", 0).otherwise(1).as("kind"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("kind"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("click_id",
          last(when(col("kind") === 0, col("event_id")), ignoreNulls = true).over(w))
        .where(col("kind") === 1)
        .select(col("event_id"), col("user_id"), col("click_id"))
        .orderBy(col("event_id"))
    }),

    "b09_window_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
        .orderBy(col("o_custkey"), col("rk"))
    }),

    "b10_window_running" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").as("running_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    "b11_lag_lead" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w)).cast("long").as("days_since_prev"),
          lead(col("o_orderkey"), 1).over(w).as("next_order"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    "b27_window_range" -> ((s, d) => {
      // RANGE frame: for each order, how many of the same customer's orders
      // fall within 50,000 of its total price (value-based frame, not row
      // count) — the range/rows distinction of SURVEY §2B windows.
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice"))
        .rangeBetween(-50000L, 50000L)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          count(lit(1)).over(w).as("n_similar"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    "b12_topk" -> ((s, d) =>
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(100)),

    "b13_setops" -> ((s, d) => {
      val oc = t(s, d, "orders").select(col("o_custkey").as("k")).distinct()
      val ec = t(s, d, "events").select(col("user_id").as("k")).distinct()
      val onlyOrders = oc.except(ec).agg(count(lit(1)).as("n")).withColumn("tag", lit("only_orders"))
      val both = oc.intersect(ec).agg(count(lit(1)).as("n")).withColumn("tag", lit("both"))
      val all = oc.union(ec).distinct().agg(count(lit(1)).as("n")).withColumn("tag", lit("union"))
      onlyOrders.union(both).union(all).select(col("tag"), col("n")).orderBy(col("tag"))
    }),

    "b31_setops_all" -> ((s, d) => {
      // bag-semantics set ops: duplicates preserved/subtracted by multiplicity
      val a = t(s, d, "lineitem").select(col("l_returnflag").as("f"))
      val b = t(s, d, "lineitem").where(col("l_quantity") > 25)
        .select(col("l_returnflag").as("f"))
      val inter = a.intersectAll(b).groupBy(col("f")).agg(count(lit(1)).as("n"))
        .withColumn("op", lit("intersect_all"))
      val exc = a.exceptAll(b).groupBy(col("f")).agg(count(lit(1)).as("n"))
        .withColumn("op", lit("except_all"))
      inter.union(exc).select(col("op"), col("f"), col("n")).orderBy(col("op"), col("f"))
    }),

    "b32_window_nav" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_order"),
          last(col("o_orderkey")).over(w).as("last_order"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_order"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    "b14_distinct" -> ((s, d) =>
      t(s, d, "lineitem").select(col("l_returnflag"), col("l_linestatus")).distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    "b15_rollup" -> ((s, d) =>
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy(col("rf"), col("ls"))),

    "b21_cube" -> ((s, d) =>
      t(s, d, "orders")
        .cube(col("o_orderpriority"), year(col("o_orderdate")).as("yr"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .select(
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          coalesce(col("yr"), lit(-1)).as("yr"),
          col("n"), col("total"))
        .orderBy(col("prio"), col("yr"))),

    "b28_pivot" -> ((s, d) =>
      // pivot = groupBy + fixed pivot values (declared, not inferred, so the
      // output schema is deterministic and no extra pass over the data runs)
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)))
        .select(col("l_returnflag"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"))
        .orderBy(col("l_returnflag"))),

    "b29_percentile_disc" -> ((s, d) =>
      // discrete percentiles return actual data values — exact across
      // engines, unlike interpolated percentile_cont
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").as("p50"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)").as("p90"))
        .orderBy(col("o_orderpriority"))),

    "b30_math_fns" -> ((s, d) =>
      // math-function surface restricted to IEEE-exact ops (abs/sqrt/floor/
      // ceil/sign/mod) so results are bit-identical across engines
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber").as("ln"),
          abs(col("l_discount") - 0.05).as("d_abs"),
          sqrt(col("l_quantity")).as("q_sqrt"),
          floor(col("l_extendedprice") / 100).cast("long").as("p_floor"),
          ceil(col("l_extendedprice") / 100).cast("long").as("p_ceil"),
          signum(col("l_discount") - 0.05).as("d_sign"),
          pmod(col("l_linenumber"), lit(3)).as("ln_mod"))
        .orderBy(col("l_orderkey"), col("ln"), col("d_abs"), col("q_sqrt"))),

    "b16_string_fns" -> ((s, d) =>
      t(s, d, "part")
        .select(col("p_partkey"),
          lower(col("p_brand")).as("brand_lower"),
          substring(col("p_name"), 1, 5).as("name5"),
          regexp_extract(col("p_type"), "^(\\w+)", 1).as("type_head"),
          size(split(col("p_type"), " ")).cast("long").as("type_words"))
        .orderBy(col("p_partkey"))),

    "b17_date_fns" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("month"))),

    "b18_approx_distinct" -> ((s, d) =>
      // exact count-distinct is oracle-checked directly; the HLL estimate is
      // engine-specific, so its correctness evidence is a relative-error
      // bound (|approx-exact|/exact ≤ 5%) that the oracle asserts as TRUE —
      // if Spark's sketch drifted out of tolerance the hash would go red.
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("exact_orders"),
          approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"))
        .select(col("l_returnflag"), col("exact_orders"),
          (abs(col("approx_orders") - col("exact_orders"))
            <= col("exact_orders") * 0.05).as("approx_ok"))
        .orderBy(col("l_returnflag"))),

    "b19_window_tumbling" -> ((s, d) =>
      Streams.tumblingCounts(t(s, d, "events"), "1 hour")
        .orderBy(col("window_start"), col("event_type"))),

    "b20_sessionize" -> ((s, d) =>
      // r17-opt: reads the memoized session frame (shared with b65's
      // batch-parity twin — one sessionization pass per (session, sfDir))
      sessionCounts30(s, d)
        .orderBy(col("user_id"), col("session_start"))),

    "b22_window_sliding" -> ((s, d) =>
      Streams.slidingCounts(t(s, d, "events"), "1 hour", "30 minutes")
        .orderBy(col("window_start"), col("event_type"))),

    "b26_grouping_sets" -> ((s, d) =>
      // explicit GROUPING SETS through the SQL front end (rollup/cube's
      // general form); same syntax runs on the oracle.
      graft.sources.Catalog.sql(s, d,
        """SELECT coalesce(l_returnflag, 'ALL') AS rf,
          |  coalesce(l_linestatus, 'ALL') AS ls,
          |  count(*) AS n
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY rf, ls""".stripMargin)),

    "b24_sql" -> ((s, d) =>
      // SQL entry point over the catalog layer (oamap database analogue):
      // same engine, text frontend.
      graft.sources.Catalog.sql(s, d,
        """SELECT o_orderpriority, count(*) AS n, min(o_orderkey) AS first_key
          |FROM orders WHERE o_totalprice > 100000
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    "b25_skew_distinct" -> ((s, d) =>
      graft.operators.Scale.skewSafeCountDistinct(
          t(s, d, "lineitem"), "l_returnflag", "l_orderkey")
        .orderBy(col("l_returnflag"))),

    "b23_join_supplier" -> ((s, d) =>
      // lineitem→supplier→nation: the remaining star-schema arm; supplier is
      // mid-size (broadcastable at any realistic dim scale), nation tiny.
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("revenue"))
        .orderBy(col("n_name"))),

    "b33_orc_roundtrip" -> ((s, d) => {
      // ORC source+sink (SURVEY §1.6 backends): write supplier as ORC,
      // read it back, aggregate the REREAD data — the oracle aggregates the
      // original parquet, so any value/type drift through the format fails
      // the hash. Parallel per-partition write, splittable column-pruned
      // read; no driver funnel.
      val dir = graft.sources.Formats.scratchDir(s, "orc_supplier", d)
      graft.sources.Formats.ensureWritten(s, dir) {
        graft.sources.Formats.writeOrc(t(s, d, "supplier"), dir)
      }
      graft.sources.Formats.readOrc(s, dir)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_sup"), dsum(col("s_acctbal")).as("sum_bal"))
        .orderBy(col("s_nationkey"))
    }),

    "b129_npy_roundtrip" -> ((s, d) => {
      // numpy-file backend (r15 extended — the reference's
      // backend/numpyfile.py role, every prior VERDICT's missing #2,
      // "correctly scoped out": it turns out to need no numpy, only ~100
      // lines of v1.0 header framing): write the embeddings table to the
      // per-partition .npy PAIR layout (int64 ids + float32 (n,d)
      // vectors — raw little-endian IEEE bits, loadable by numpy.load),
      // read it back one task per pair, and prove the roundtrip IDENTITY
      // on the Spark side: join back to the parquet original on vec_id
      // and emit roundtrip_ok = (npy vector ≡ parquet vector) —
      // float-array equality is exact because the bits never passed
      // through text. The oracle is the closed-form truth (the c118
      // asymmetry): (vec_id, dim, TRUE) straight off parquet — a missing
      // id, wrong dim, reordered element, or any bit flip through the
      // backend breaks rows or the hash. Write-once per (purpose, input,
      // app) via the _SUCCESS marker (the b33 layout-write class,
      // bench-warmed untimed). Plan: parallel per-partition write;
      // listing + one task per pair on read. The comparison join is
      // FORCED to a shuffle merge join with both inputs
      // numbered-repartitioned (the c104 discipline, r15 extended
      // review): the npy side's size estimate descends from a
      // LocalRelation of file NAMES, so Spark would otherwise broadcast
      // the ENTIRE read-back (driver OOM at scale) and stream the
      // single-file parquet probe in one task — bytes wildly understate
      // work on both sides here.
      val dir = npyEmbeddingsDir(s, d)
      val parts = s.sessionState.conf.numShufflePartitions
      val back = graft.sources.Npy.readVectors(s, dir)
        .select(col("id").as("vec_id"), col("vec").as("npy_emb"))
        .repartition(parts)
        .hint("merge")
      t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        .repartition(parts)
        .join(back, "vec_id")
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          (col("embedding") === col("npy_emb")).as("roundtrip_ok"))
        .orderBy(col("vec_id"))
    }),

    "b130_npy_ids_scan" -> ((s, d) => {
      // the COLUMN-PRUNED consumer of the npy pair layout (r16
      // Npy.readIds): an ids-only pass opens none of the .vec.npy
      // payloads — the one-array-per-file projection payoff, measured at
      // 3.05–3.75 % of layout bytes (docs/PLANS.md records the scan).
      // This key gates that read path end-to-end the way b129 gates the
      // full pair read: the layout is b129's own write (shared
      // ensureWritten purpose — written once per app, bench-warmed), the
      // readout is exact integer aggregates over the id column that
      // DuckDB reproduces from the parquet original, so a dropped part,
      // duplicated row, or misdecoded int64 breaks count/sum/min/max.
      // Plan: one task per part pair (ids file only), partial aggregates
      // per task, a single 1-row final exchange — at 100 TB this is the
      // cheapest possible existence/coverage check over a vector store.
      val dir = npyEmbeddingsDir(s, d)
      // id_sum in decimal(38,0) then BIGINT: DuckDB sums to HUGEINT before
      // its BIGINT cast, so a LongType sum here would wrap (or ANSI-error)
      // where the oracle doesn't if the id sum ever exceeded 2^63 —
      // unreachable at fixture scale, but the arithmetic should match the
      // oracle's by construction, not by data-size luck (r16 ADVICE).
      graft.sources.Npy.readIds(s, dir)
        .agg(count(lit(1)).as("n_ids"),
          sum(col("id").cast("decimal(38,0)")).cast("long").as("id_sum"),
          min(col("id")).as("id_min"),
          max(col("id")).as("id_max"))
    }),

    "b131_npy_dim_slice" -> ((s, d) => {
      // dimension-sliced consumer of the npy pair layout (r17,
      // Npy.readVectorsSlice): column pruning WITHIN the tensor leaf —
      // the reference's lazy-column contract (A16) applied inside the
      // (n, d) array, for PQ/ADC-style consumers that touch a few
      // leading dims of wide vectors. The slice path streams each
      // .vec.npy through a bounded 4 MiB window and materializes ONLY
      // n·8·4 slice bytes per task (12.5 % of the payload at d=64);
      // physical disk bytes are NOT pruned at this d (256 B rows < one
      // 4 KiB page — the honest negative result, measured in
      // docs/PLANS.md r17). Gate: roundtrip identity of dims [0,8)
      // against the parquet original's slice(embedding, 1, 8) — exact
      // float-array equality (raw IEEE bits, never text), b129's
      // closed-form-oracle asymmetry. Join discipline as b129: forced
      // merge join, both sides numbered-repartitioned (the npy side's
      // stats descend from a LocalRelation of file names and would
      // otherwise broadcast the whole read-back).
      val dir = npyEmbeddingsDir(s, d)
      val parts = s.sessionState.conf.numShufflePartitions
      val sliced = graft.sources.Npy.readVectorsSlice(s, dir, 0, 8)
        .select(col("id").as("vec_id"), col("vec").as("npy_slice"))
        .repartition(parts)
        .hint("merge")
      t(s, d, "embeddings")
        .select(col("vec_id"), slice(col("embedding"), 1, 8).as("pq_slice"))
        .repartition(parts)
        .join(sliced, "vec_id")
        .select(col("vec_id"),
          size(col("npy_slice")).cast("long").as("slice_dim"),
          (col("pq_slice") === col("npy_slice")).as("slice_ok"))
        .orderBy(col("vec_id"))
    }),

    "b34_csv_roundtrip" -> ((s, d) => {
      // CSV interchange roundtrip with a DECLARED read schema (never
      // inferSchema — that's an extra full pass at 100 TB). Money goes
      // through the format as decimal(18,2) text, so the roundtrip is
      // value-exact; the oracle aggregates the original parquet.
      val dir = graft.sources.Formats.scratchDir(s, "csv_part", d)
      graft.sources.Formats.ensureWritten(s, dir) {
        graft.sources.Formats.writeCsv(
          t(s, d, "part").select(col("p_partkey"), col("p_brand"), col("p_size"),
            col("p_retailprice").cast("decimal(18,2)").as("p_retailprice")), dir)
      }
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "p_partkey LONG, p_brand STRING, p_size INT, p_retailprice DECIMAL(18,2)")
      graft.sources.Formats.readCsv(s, dir, schema)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
          max(col("p_size")).as("max_size"),
          sum(col("p_retailprice")).cast("double").as("sum_price"))
        .orderBy(col("p_brand"))
    }),

    "b54_percentile_cont" -> ((s, d) =>
      // continuous (interpolated) percentiles complete the quantile
      // surface next to discrete b29 and sketched b36. Engine-safe by
      // construction: l_quantity is integer-valued and the requested
      // fractions are powers of two, so the R-7 interpolation
      // x + (y−x)·frac is EXACT in both engines no matter how each
      // arranges the formula — no 1-ulp wobble (the pow()/round()
      // lesson applied to quantiles). Exact percentile is a full
      // per-group sort at scale; b36's GK sketch is the 100 TB default,
      // this is the exact-answer option.
      t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(q, 0.25D)").as("q25"),
          expr("percentile(q, 0.5D)").as("median"),
          expr("percentile(q, 0.75D)").as("q75"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))),

    "b55_unpivot" -> ((s, d) =>
      // wide→long reshape (melt): the inverse of b28's pivot, via the
      // native Dataset.unpivot (an Expand node — each input row fans out
      // to one row per measure BEFORE the aggregate, and the partial
      // aggregation absorbs the 3× row blow-up map-side; nothing extra
      // crosses the shuffle). Long-typed measures only, so every
      // aggregate is exact integer arithmetic.
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber").cast("long").as("l_linenumber"))
        .unpivot(Array(col("l_orderkey")),
          Array(col("l_partkey"), col("l_suppkey"), col("l_linenumber")),
          "measure", "value")
        .groupBy(col("measure"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total"),
          min(col("value")).as("mn"), max(col("value")).as("mx"))
        .orderBy(col("measure"))),

    "b56_recursive_cte" -> ((s, d) =>
      // recursive CTE (Spark 4 WITH RECURSIVE): ancestor walk over the
      // implicit binary tree parent(k) = k div 2 rooted at custkey 1 —
      // per node, the depth and the sum of its strict-ancestor keys,
      // aggregated per depth. Pure BIGINT floor division on both engines
      // (Spark `div`, DuckDB `//`), so the recursion is integer-exact.
      // Scale: the frontier HALVES each level (cur div 2), so the
      // recursion does O(V log V) total row-work across ~log2(max key)
      // narrow map+filter steps; the only shuffle is the final
      // depth aggregate. Recursion depth at 100 TB key ranges (~2^40)
      // stays far under Spark's level limit.
      graft.sources.Catalog.sql(s, d,
        """WITH RECURSIVE walk(node, cur, path_sum, depth) AS (
          |  SELECT c_custkey, c_custkey, CAST(0 AS BIGINT), 0 FROM customer
          |  UNION ALL
          |  SELECT node, cur div 2, path_sum + (cur div 2), depth + 1
          |  FROM walk WHERE cur > 1)
          |SELECT depth, count(*) AS n_nodes, sum(path_sum) AS ancestor_key_sum
          |FROM walk WHERE cur = 1
          |GROUP BY depth ORDER BY depth""".stripMargin)),

    "b57_locf" -> ((s, d) => {
      // last-observation-carried-forward: every event carries the most
      // recent purchase value seen so far for its user (the time-series
      // forward-fill that b53's zero-fill spine cannot express). The
      // filled value is a raw stored double PASSED THROUGH — chosen by
      // window position, never arithmetic — so both engines emit the
      // identical bits. ROWS frame pinned explicitly (ties are already
      // broken by event_id, making RANGE==ROWS, but pinning removes the
      // default-frame dependency). One shuffle+sort per user partition —
      // the unavoidable window cost; no self-join.
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .select(col("user_id"), col("event_id"),
          col("ts"),
          when(col("event_type") === "purchase", col("value")).as("pv"))
        .withColumn("filled", last(col("pv"), ignoreNulls = true).over(w))
        .select(col("user_id"), col("event_id"), col("filled"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    "b58_latest_state" -> ((s, d) =>
      // CDC log compaction: the latest event per user, picked by the
      // lexicographic max of (ts, event_id), via ONE partial+final
      // max_by aggregate — no per-key sort, no window, no join. The
      // upsert/compaction shape at 100 TB: a row_number window would
      // shuffle AND fully sort the log to keep one row per key; max_by
      // keeps a single struct per key in the aggregation state and
      // combines map-side. Payload values pass through untouched.
      t(s, d, "events")
        .groupBy(col("user_id"))
        .agg(max_by(
            struct(col("event_id"), col("event_type"), col("value")),
            struct(col("ts"), col("event_id"))).as("st"))
        .select(col("user_id"), col("st.event_id").as("event_id"),
          col("st.event_type").as("event_type"), col("st.value").as("value"))
        .orderBy(col("user_id"))),

    "b60_scd2" -> ((s, d) => {
      // slowly-changing-dimension type 2: the per-user event log becomes
      // validity intervals [valid_from, valid_to) with an is_current
      // flag — one lead() window per user partition, the standard
      // change-log → dimension-table build. Timestamps emitted as epoch
      // MICROS longs (the testdata is µs-precision, lossless in both
      // engines); ties broken by event_id.
      val us = unix_micros(col("ts"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("valid_from_us", us)
        .withColumn("valid_to_us", lead(us, 1).over(w))
        .select(col("user_id"), col("event_id"), col("valid_from_us"),
          col("valid_to_us"), col("valid_to_us").isNull.as("is_current"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    "b61_zorder_key" -> ((s, d) =>
      // multi-dimensional at-rest clustering: the Morton key over
      // (custkey, order day) that a 2-D-skipping layout sorts by at
      // write time — every file then has a tight min/max envelope in
      // both dimensions. The key is pure builtin bitwise arithmetic
      // (see Scale.zOrderKey), narrow and codegen'd; the 2000-row cut
      // is total-ordered on (zkey, orderkey).
      t(s, d, "orders")
        .select(col("o_orderkey"),
          Scale.zOrderKey(col("o_custkey"),
            datediff(col("o_orderdate").cast("date"),
              lit("1992-01-01").cast("date"))).as("zkey"))
        .orderBy(col("zkey"), col("o_orderkey"))
        .limit(2000)),

    "b92_hilbert_key" -> ((s, d) =>
      // the Hilbert sibling of b61's Morton key: same (custkey, order
      // day) dimensions, same codegen discipline (one static-kernel
      // call per row inside whole-stage codegen — the rotate/reflect
      // state machine can't unroll as a column ladder, see
      // Scale.hilbertKey), oracle = the identical 16-plane algebra as
      // a CTE ladder. Pure integer, bit-identical cross-engine.
      t(s, d, "orders")
        .select(col("o_orderkey"),
          Scale.hilbertKey(col("o_custkey"),
            datediff(col("o_orderdate").cast("date"),
              lit("1992-01-01").cast("date"))).as("hkey"))
        .orderBy(col("hkey"), col("o_orderkey"))
        .limit(2000)),

    "b93_hilbert_prune" -> ((s, d) => {
      // b64's 2-D skipping layout re-clustered on the HILBERT key —
      // identical write shape (range-partition + sort on the curve key),
      // identical 2-D box query, different curve: Hilbert's unit-step
      // locality gives files tighter min/max envelopes than Morton's
      // diagonal jumps, so the same predicate skips more files
      // (docs/PLANS.md records both curves' measured skip rates). Same
      // zday non-negativity guard as b64 — a negative day would wrap to
      // the top of the key range and kill the envelope.
      val dir = graft.sources.Formats.scratchDir(s, "orders_hilbert", d)
      graft.sources.Formats.ensureWritten(s, dir) {
        t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderstatus"),
            datediff(col("o_orderdate").cast("date"),
              lit("1995-01-01").cast("date")).cast("int").as("o_day"),
            datediff(col("o_orderdate").cast("date"),
              lit("1992-01-01").cast("date")).cast("int").as("zday"))
          .withColumn("hkey", Scale.hilbertKey(col("o_custkey"), col("zday")))
          .drop("zday")
          .repartitionByRange(16, col("hkey"))
          .sortWithinPartitions("hkey")
          .write.parquet(dir)
      }
      s.read.parquet(dir)
        .where(col("o_custkey") < 80 && col("o_day") < 730)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("o_orderstatus"))
    }),

    "b62_share_of_group" -> ((s, d) => {
      // percent-of-total analytics: each nation's revenue share within
      // its region as integer ppm — exact cents aggregation (b51
      // convention), window total per region over the tiny aggregated
      // relation (|nations| rows, never the fact table), floor division
      // both engines. cents·10⁶ stays far under int64 at any realistic
      // region size; ANSI mode would error, not corrupt, if exceeded.
      val rev = t(s, d, "lineitem")
        .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum((col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("cents"))
      rev
        .withColumn("total",
          sum(col("cents")).over(Window.partitionBy(col("r_name"))))
        .select(col("r_name"), col("n_name"), col("cents"),
          expr("CAST((cents * 1000000L) div total AS BIGINT)").as("share_ppm"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    "b63_partitioned_bucketed" -> ((s, d) => {
      // The two at-rest layout dimensions on ONE table (b37 buckets by
      // join key, b38 partitions by filter column — this combines them):
      // orders written partitionBy(o_orderpriority) + bucketBy(8,
      // o_custkey). The priority filter prunes 4/5 of the directories at
      // planning time (PartitionFilters) AND the customer join reads
      // co-located pre-sorted buckets with zero Exchange on either side —
      // both plan-asserted in PlanSpec. At 100 TB this is the full
      // ingest-once contract: scan only the predicate's partitions, join
      // on the key for free, forever. The merge hint keeps the small-SF
      // demo honest (auto-broadcast would hide the bucketing; at real
      // scale neither fact side broadcasts).
      val ob = graft.sources.Formats.partitionedBucketedTable(s, "orders_pb", d,
        t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority")),
        partCol = "o_orderpriority", key = "o_custkey", buckets = 8)
      val cb = customerByCust(s, d)
      ob.where(col("o_orderpriority") === "1-URGENT")
        .hint("merge").join(cb, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("c_mktsegment"))
    }),

    "b64_zorder_prune" -> ((s, d) => {
      // b61 computed the Morton key; this is the key DOING ITS JOB: orders
      // rewritten range-partitioned + sorted on zOrderKey(custkey, day),
      // so every parquet file carries a tight min/max envelope in BOTH
      // dimensions, and a 2-D predicate box skips most files on footer
      // stats alone (row-group skipping inside the survivors comes free
      // from the same sort). ScaleSpec measures the file-level skip rate
      // from each file's actual min/max; the filters are plan-asserted as
      // PushedFilters. This is the layout for the 100 TB two-dimension
      // scan problem partitionBy can't solve (both dims high-cardinality:
      // partitionBy(custkey) shatters into tiny files, partitionBy(day)
      // leaves custkey scans full — interleaved bits cluster both).
      val dir = graft.sources.Formats.scratchDir(s, "orders_zorder", d)
      graft.sources.Formats.ensureWritten(s, dir) {
        // The interleaved day MUST be non-negative: zOrderKey masks to 16
        // bits, so a negative day (pre-epoch order) wraps to the TOP of
        // the z-range and its file's min-day envelope covers everything —
        // pruning dies. Interleave days since 1992-01-01 (before the
        // earliest TPC-H order, b61 convention); the *predicate* column
        // o_day stays on the 1995 epoch the query box is written against.
        t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderstatus"),
            datediff(col("o_orderdate").cast("date"),
              lit("1995-01-01").cast("date")).cast("int").as("o_day"),
            datediff(col("o_orderdate").cast("date"),
              lit("1992-01-01").cast("date")).cast("int").as("zday"))
          .withColumn("zkey", Scale.zOrderKey(col("o_custkey"), col("zday")))
          .drop("zday")
          .repartitionByRange(16, col("zkey"))
          .sortWithinPartitions("zkey")
          .write.parquet(dir)
      }
      s.read.parquet(dir)
        .where(col("o_custkey") < 80 && col("o_day") < 730)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("o_orderstatus"))
    }),

    "b65_stream_session_parity" -> ((s, d) => {
      // batch parity for the RUNNING native session_window stream
      // (Streams.streamSessionCounts, gap 30 min, watermark delay
      // 30 min): after a file-source stream drains the whole table,
      // append mode has emitted exactly the sessions whose end the final
      // watermark (max ts - delay) passed — open/too-recent sessions
      // stay in state. This query replicates that output shape in batch:
      // the same session_window aggregation, filtered to
      // session_end <= max(ts) - delay. StreamingSpec asserts the live
      // stream's collected output equals this query on the same data.
      // Plan: sessionization shuffles once on user_id; the watermark
      // bound is a one-row broadcast cross join (the audited c19
      // bounded-broadcast shape) — at true streaming scale the engine
      // enforces the watermark in-state; this filter exists only to make
      // the running stream's output oracle-checkable.
      val ev = t(s, d, "events")
      val wm = broadcast(ev.agg(
        (max(col("ts")) - expr("INTERVAL 30 MINUTES")).as("wm")))
      // r17-opt: the sessionization itself comes from the memoized frame
      // shared with b20; only the watermark filter is this key's own work
      sessionCounts30(s, d)
        .crossJoin(wm)
        .where(col("session_end") <= col("wm"))
        .select(col("session_start"), col("session_end"), col("user_id"), col("n"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    "b68_sketch_rollup" -> ((s, d) => {
      // sketch MERGEABILITY — the property that makes sketches matter at
      // 100 TB: per-day DataSketches-HLL user sketches (what an ingest
      // would persist in a daily rollup table) are UNIONED into weekly
      // estimates without ever revisiting the raw events. b18 bounds a
      // one-shot estimate; this bounds the union-of-partials path:
      // |union-estimate − exact| ≤ 5% · exact, asserted as a boolean the
      // oracle expects TRUE (exact weekly distinct is hash-checked
      // directly). Plan: daily sketch agg is partial+final on day;
      // weekly union shuffles only |days| sketch blobs — the raw table
      // is read once, ever, which is the entire point of the rollup.
      val ev = t(s, d, "events")
      val daily = ev
        .select(date_trunc("week", col("ts")).cast("date").as("week"),
          date_trunc("day", col("ts")).cast("date").as("day"), col("user_id"))
        .groupBy(col("week"), col("day"))
        .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
      val weekly = daily.groupBy(col("week"))
        .agg(count(lit(1)).cast("long").as("n_days"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = ev
        .select(date_trunc("week", col("ts")).cast("date").as("week"), col("user_id"))
        .groupBy(col("week"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      weekly.join(exact, Seq("week"))
        .select(col("week"), col("n_days"), col("exact_users"),
          (abs(col("est") - col("exact_users"))
            <= col("exact_users") * 0.05).as("rollup_ok"))
        .orderBy(col("week"))
    }),

    "b66_merge_apply" -> ((s, d) => {
      // MERGE INTO expressed relationally (operators/Merge): base = the
      // compacted pre-cutoff snapshot (b58 max_by shape), changes = the
      // compacted post-cutoff changelog with error-events as delete
      // tombstones; apply = one full-outer equi-join on the key — update /
      // insert / carry / delete, payload passed through untouched. Both
      // sides arrive hash-partitioned on user_id from their compaction
      // aggregates. The nightly snapshot⊕changelog shape at 100 TB.
      val cutoff = lit("2024-01-16").cast("timestamp")
      def compact(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("user_id"))
        .agg(max_by(struct(col("event_type"), col("value")),
          struct(col("ts"), col("event_id"))).as("st"))
        .select(col("user_id"), col("st.event_type").as("event_type"),
          col("st.value").as("value"))
      val ev = t(s, d, "events")
      val base = compact(ev.where(col("ts") < cutoff)).drop("event_type")
      val changes = compact(ev.where(col("ts") >= cutoff))
        .select(col("user_id"), col("value"),
          when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"))
      graft.operators.Merge.mergeApply(base, changes, "user_id")
        .orderBy(col("user_id"))
    }),

    "b67_interval_coverage" -> ((s, d) => {
      // interval-union coverage: each event opens a 30-minute activity
      // interval; per user, merge overlaps (the classic sweep: an island
      // starts where ts exceeds the running max of prior ends) and report
      // islands + total covered time. Pure integer epoch-micros
      // arithmetic. One shuffle+sort per user partition (the window),
      // then partial+final aggregates — no self-join, no driver state;
      // the standard interval-union plan at any scale.
      val span = 1800000000L // 30 min in micros
      val w = Window.partitionBy(col("user_id")).orderBy(col("s"), col("event_id"))
      val iv = t(s, d, "events")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("s"))
        .withColumn("e", col("s") + lit(span))
      val marked = iv
        .withColumn("pme", max(col("e")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("brk",
          when(col("pme").isNull || col("s") > col("pme"), lit(1)).otherwise(lit(0)))
        .withColumn("island",
          sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      marked.groupBy(col("user_id"), col("island"))
        .agg((max(col("e")) - min(col("s"))).as("cov"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("n_islands"),
          sum(col("cov")).cast("long").as("covered_micros"))
        .orderBy(col("user_id"))
    }),

    "b69_ivm_merge" -> ((s, d) => {
      // incremental view maintenance: the materialized per-user rollup
      // absorbs a new batch by merging PARTIAL STATES (operators/Ivm) —
      // never re-reading history. The oracle is the full recompute over
      // all rows: merge ≡ recompute is exactly the monoid property the
      // operator exploits (b66 is the row-level sibling; b68 the sketch
      // sibling). States are integer cents/counts — order-free,
      // engine-exact; the derived avg is a read-time floor division.
      val ev = t(s, d, "events")
      val cutoff = lit("2024-01-20").cast("timestamp")
      val cents = floor(col("value") * 100 + 0.5).cast("long")
      def state(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(cents).as("sum_cents"),
          min(cents).as("min_cents"), max(cents).as("max_cents"))
      graft.operators.Ivm.mergeStates(
          Seq(state(ev.where(col("ts") < cutoff)),
            state(ev.where(col("ts") >= cutoff))),
          Seq("user_id"),
          Map("n_events" -> "sum", "sum_cents" -> "sum",
            "min_cents" -> "min", "max_cents" -> "max"))
        .withColumn("avg_cents_floor", expr("sum_cents div n_events"))
        .orderBy(col("user_id"))
    }),

    "b70_interpolate" -> ((s, d) =>
      // linear-interpolation gap fill onto the per-user hourly grid — the
      // step past b57's LOCF; integer cleared-denominator weighted mean,
      // grid bounded by each key's own observed span (operators/Series).
      graft.operators.Series.interpolateHourlyCents(
          t(s, d, "events"), "user_id", "ts", "event_id", "value")
        .orderBy(col("user_id"), col("hour_id"))),

    "b71_equidepth_hist" -> ((s, d) =>
      // exact 16-bucket equi-depth histogram of lineitem price cents
      // WITHOUT a global row sort: per-distinct-value counts (one
      // map-side-combined shuffle), then the cumulative window runs over
      // the distinct-value frame only — bounded by the price DOMAIN, not
      // the row count (operators/Scale.equiDepthHistogram scaladoc).
      graft.operators.Scale.equiDepthHistogram(
          t(s, d, "lineitem"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long"), bins = 16)
        .orderBy(col("bin"))),

    "b79_dynamic_partition_prune" -> ((s, d) => {
      // DYNAMIC partition pruning: the fact side is the b38 at-rest
      // layout (orders partitionBy(o_orderpriority)), but the predicate
      // lives on the DIM side ("urgency = high"), so planning-time
      // pruning is impossible — Catalyst must inject the runtime
      // dynamicpruning subquery (fed by the reused dim broadcast) into
      // the fact scan's PartitionFilters, and only then do 3/5 of the
      // directories go unread. Plan-asserted. At 100 TB this is how a
      // star-schema query skips partitions it can't name until the dim
      // filter runs — the complement of b38's static prune.
      val dir = ordersByPriorityDir(s, d)
      // the dim must be an at-rest table with a REAL runtime filter: a
      // driver-literal relation gets constant-folded into a pre-filtered
      // LocalTableScan, leaving the DPP rule no selective predicate to
      // reuse (observed; that variant planned a static 5-partition scan)
      val dimDir = graft.sources.Formats.scratchDir(s, "priority_dim", d)
      graft.sources.Formats.ensureWritten(s, dimDir) {
        val sess = s; import sess.implicits._
        Seq(("1-URGENT", "high"), ("2-HIGH", "high"), ("3-MEDIUM", "low"),
          ("4-NOT SPECIFIED", "low"), ("5-LOW", "low")).toDF("p", "urgency")
          .write.mode("overwrite").parquet(dimDir)
      }
      s.read.parquet(dir)
        .join(s.read.parquet(dimDir).where(col("urgency") === "high"),
          col("o_orderpriority") === col("p"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("rev_cents"))
        .orderBy(col("o_orderpriority"))
    }),

    "b78_stream_hll_parity" -> ((s, d) => {
      // batch parity for the STREAMING windowed approx-distinct
      // (Streams.streamTumblingDistinct, 1 h tumbling, 30 min delay):
      // the HLL sketch merges by register max — arrival-order
      // insensitive — so the drained stream's append output equals this
      // batch aggregation on the closed windows (w_end <= max ts −
      // delay; the one-row watermark bound is the audited b65 broadcast
      // shape). The estimate is oracle-checked as a combined bound
      // boolean vs the exact distinct (b18 pattern): |err| ≤
      // max(4, 0.15·exact) — HLL's relative rsd guarantee only holds
      // asymptotically, and these windows hold 4–28 users where the
      // measured deviation is ≤3 absolute (≤15 at sf0.1's larger
      // windows, ≤10.8 % relative); StreamingSpec asserts the live
      // stream's estimates equal batch bit-for-bit.
      val ev = t(s, d, "events")
      val wm = broadcast(ev.agg(
        (max(col("ts")) - expr("INTERVAL 30 MINUTES")).as("wm")))
      ev.groupBy(window(col("ts"), "1 hour"))
        .agg(approx_count_distinct(col("user_id"), 0.05).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .crossJoin(wm)
        .where(col("window.end") <= col("wm"))
        .select(unix_micros(col("window.start")).as("w_start_us"),
          col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            greatest(lit(4.0), col("exact_users") * 0.15)).as("approx_ok"))
        .orderBy(col("w_start_us"))
    }),

    "b95_tpch_q3" -> ((s, d) => {
      // TPC-H Q3 (shipping priority) on the fixture's column subset
      // (o_orderpriority stands in for o_shippriority): revenue of
      // unshipped BUILDING orders as of the cut date. Revenue is the
      // exact integer Σ cents·(100−disc_pct) — cent·percent units, no
      // double accumulation (the b51 convention extended to the
      // discount factor). Joins stay declarative: at 100 TB both fact
      // sides shuffle on their keys and AQE picks build sides; at test
      // scale Catalyst broadcasts the filtered dims on its own — no
      // hand-hinting either way. Top-10 is TakeOrdered with a total
      // (revenue, orderkey) tie order.
      val cut = lit("1996-06-30").cast("date")
      val rev = (floor(col("l_extendedprice") * 100 + 0.5).cast("long") *
        (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long")))
      t(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .where(col("o_orderdate").cast("date") < cut)
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .where(col("l_shipdate").cast("date") > cut)
        .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"),
          col("o_orderpriority"))
        .agg(sum(rev).as("revenue_c100"))
        .orderBy(col("revenue_c100").desc, col("l_orderkey"))
        .limit(10)
    }),

    "b96_tpch_q5" -> ((s, d) => {
      // TPC-H Q5 (local supplier volume): revenue per ASIA nation from
      // 1997 orders where the supplier and customer share the nation —
      // the classic 6-table star-plus-selective-equality join. Same
      // exact cent·percent revenue; region/nation broadcast (provably
      // tiny dims), the fact-fact chain shuffles on its keys.
      val rev = (floor(col("l_extendedprice") * 100 + 0.5).cast("long") *
        (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long")))
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .where(col("o_orderdate").cast("date") >= lit("1997-01-01").cast("date") &&
          col("o_orderdate").cast("date") < lit("1998-01-01").cast("date"))
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(sum(rev).as("revenue_c100"))
        .orderBy(col("revenue_c100").desc, col("n_name"))
    }),

    "b97_tpch_q10" -> ((s, d) => {
      // TPC-H Q10 (returned-item reporting): top-20 customers by revenue
      // lost to returns in one quarter. Exact cent·percent revenue;
      // nation broadcast; the returned-flag and date predicates reach
      // the scans. Grouping carries the per-customer constants
      // (name, acctbal, nation) through — c_acctbal is an untouched
      // stored double (pass-through, hash-safe), never arithmetic.
      val rev = (floor(col("l_extendedprice") * 100 + 0.5).cast("long") *
        (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long")))
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .where(col("o_orderdate").cast("date") >= lit("1997-01-01").cast("date") &&
          col("o_orderdate").cast("date") < lit("1997-04-01").cast("date"))
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .where(col("l_returnflag") === "R")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(sum(rev).as("revenue_c100"))
        .orderBy(col("revenue_c100").desc, col("c_custkey"))
        .limit(20)
    }),

    "b98_tpch_q18" -> ((s, d) => {
      // TPC-H Q18 (large-volume customers): orders whose total quantity
      // clears a threshold, with customer identity and the order's
      // line-quantity total. The filter subquery is the aggregated
      // semi-join shape (groupBy lineitem ONCE, filter on the aggregate,
      // then join orders/customer to the qualifying keys) — never a
      // correlated per-order re-scan. Quantities are exact integer
      // deci-units (l_quantity is at most 1dp in the fixture; ·10
      // round-trips exactly). At 100 TB the qualifying-key set is tiny
      // (the HAVING cuts hard) so AQE broadcasts it back against
      // orders; lineitem aggregates once with map-side partials.
      val qty = floor(col("l_quantity") * 10 + 0.5).cast("long")
      val big = t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(qty).as("total_qty_deci"))
        .where(col("total_qty_deci") > 3000)
      t(s, d, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("o_orderdate"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("totalprice_cents"),
          col("total_qty_deci"))
        .orderBy(col("totalprice_cents").desc, col("o_orderkey"))
        .limit(100)
    }),

    "b99_stream_funnel_parity" -> ((s, d) => {
      // batch parity for the STREAMING ordered funnel
      // (Streams.funnelWithState, gap 30 min, delay 30 min): after the
      // stream drains, the event-time timeout has fired for exactly the
      // users whose last stage event + gap the final watermark
      // (max ts − delay) passed — their buffered machine emitted one
      // (user, s1, s2, s3) row; open-horizon users stay in state. This
      // replicates that output in batch: the b94 stage kernel
      // (Series.funnelStageTimes — the stream runs the identical
      // strictly-after machine per user) + the horizon cut in integer
      // MILLISECONDS, the stream's own timeout clock granularity.
      // StreamingSpec asserts the live drained stream equals this query.
      // Plan: one user shuffle for the stage windows, one for the
      // horizon max — same partitioning, and the watermark bound is the
      // audited b65 one-row broadcast.
      val stages = Seq("view", "click", "purchase")
      val ev = t(s, d, "events")
      val f = ev.where(col("event_type").isin(stages: _*))
      val wm = broadcast(ev.agg(
        (unix_millis(max(col("ts"))) - lit(1800000L)).as("wm_ms")))
      val horizon = f.groupBy(col("user_id"))
        .agg(unix_millis(max(col("ts"))).as("last_ms"))
      graft.operators.Series.funnelStageTimes(f, "user_id", "event_type", "ts", stages)
        .join(horizon, Seq("user_id"))
        .crossJoin(wm)
        .where(col("last_ms") + lit(1800000L) < col("wm_ms"))
        .select(col("user_id"), unix_micros(col("s1")).as("s1_us"),
          unix_micros(col("s2")).as("s2_us"), unix_micros(col("s3")).as("s3_us"))
        .orderBy(col("user_id"))
    }),

    "b100_tpch_q14" -> ((s, d) => {
      // TPC-H Q14 shape (promotion-revenue share), per ship month: the
      // fact-dim join on partkey carries only (p_partkey, is_promo) —
      // column pruning reaches the part scan; at 100 TB both sides are
      // big, so the equi-join is the declarative shuffle-hash/broadcast
      // decision AQE makes from runtime sizes (the b96 discipline).
      // Revenue in exact cent·percent integers (the b95 rule), the share
      // in basis points by non-negative integer floor division — both
      // engines agree bit-for-bit.
      val cents = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
      val rev = cents * (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long"))
      t(s, d, "lineitem")
        .join(t(s, d, "part")
          .select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(date_trunc("month", col("l_shipdate")).cast("date").as("month"))
        .agg(sum(when(col("is_promo"), rev).otherwise(lit(0L))).as("promo_rev_c100"),
          sum(rev).as("total_rev_c100"))
        .select(col("month"), col("promo_rev_c100"), col("total_rev_c100"),
          expr("(promo_rev_c100 * 10000) div total_rev_c100").as("promo_bp"))
        .orderBy(col("month"))
    }),

    "b101_tpch_q22" -> ((s, d) => {
      // TPC-H Q22 shape (global sales opportunity): customers with
      // above-average positive balance and no URGENT orders (the fixture
      // gives every customer SOME order, so the anti leg is filtered —
      // same plan, non-vacuous result), aggregated by nation. The
      // average gate clears denominators — bal·n > sum over exact cents,
      // pure BIGINT, no float mean — delivered as the audited one-row
      // broadcast; the no-urgent-orders test is a left_anti join
      // shuffling both sides on custkey with the priority filter PUSHED
      // to the orders scan (never NOT IN with a subquery rescan); nation
      // is a provably-tiny broadcast.
      val cents = floor(col("c_acctbal") * 100 + 0.5).cast("long")
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"), cents.as("bal_c"))
      val posAvg = broadcast(cust.where(col("bal_c") > 0)
        .agg(sum(col("bal_c")).as("s"), count(lit(1)).as("n")))
      cust.crossJoin(posAvg)
        .where(col("bal_c") * col("n") > col("s"))
        .join(t(s, d, "orders").where(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("numcust"), sum(col("bal_c")).as("totacctbal_c"))
        .orderBy(col("n_name"))
    }),

    "b94_funnel" -> ((s, d) => {
      // ordered-funnel conversion (view → click → purchase): a user
      // reaches stage n at the EARLIEST event of that type strictly
      // after their stage-(n−1) time — the standard product-analytics
      // funnel with event-order semantics, not mere type presence.
      // Plan: ONE shuffle on user_id; the three stage times are chained
      // conditional mins over the same user partition window (no joins,
      // no per-user sort materialized beyond the window), then a
      // per-user compaction and a 1-row stage-count aggregate unpivoted
      // to (stage, users, conv_ppm). Integer ppm division floors
      // identically in both engines.
      val staged = graft.operators.Series.funnelStageTimes(
        t(s, d, "events"), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      val counts = staged.agg(
        count(col("s1")).as("u1"), count(col("s2")).as("u2"), count(col("s3")).as("u3"))
      // stack, not a 3-way union: a union of selects over `counts` would
      // re-derive the whole staged pipeline once per branch (3 full
      // scans at 100 TB); stack unpivots the ONE materialized row
      counts.select(expr(
          "stack(3, " +
            "1, 'view',     u1, (u1 * 1000000) div nullif(u1, 0), " +
            "2, 'click',    u2, (u2 * 1000000) div nullif(u1, 0), " +
            "3, 'purchase', u3, (u3 * 1000000) div nullif(u1, 0)) " +
            "AS (stage, event_type, users, conv_ppm)"))
        .orderBy(col("stage"))
    }),

    "b91_stream_sliding_hll" -> ((s, d) => {
      // batch parity for the SLIDING-window streaming approx-distinct
      // (Streams.streamSlidingDistinct, 1 h window / 30 min slide,
      // 30 min delay): every event feeds width/slide = 2 overlapping
      // windows — a deterministic assignment that leaves the per-window
      // HLL register-max merge algebra untouched, so the drained
      // stream's append output still equals this batch aggregation
      // bit-for-bit on closed windows (StreamingSpec asserts it live;
      // no audit-boolean formulation turned out to be needed). Estimate
      // checked as the b78/b18 bound boolean vs exact distinct.
      val ev = t(s, d, "events")
      val wm = broadcast(ev.agg(
        (max(col("ts")) - expr("INTERVAL 30 MINUTES")).as("wm")))
      ev.groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(approx_count_distinct(col("user_id"), 0.05).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .crossJoin(wm)
        .where(col("window.end") <= col("wm"))
        .select(unix_micros(col("window.start")).as("w_start_us"),
          col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            greatest(lit(4.0), col("exact_users") * 0.15)).as("approx_ok"))
        .orderBy(col("w_start_us"))
    }),

    "b77_period_over_period" -> ((s, d) => {
      // month-over-month revenue: per-month cents totals, previous
      // month's total (lag over the month-ordered frame — the frame is
      // CALENDAR-sized, not row-sized, so the unpartitioned window is
      // bounded by the date domain like b71's), absolute delta, and the
      // relative change in integer basis points. bps divides
      // MAGNITUDES and reapplies the sign: DuckDB's // floors while
      // Spark's div truncates, so negative quotients would differ by
      // one — sign-splitting keeps both engines on the same
      // non-negative division (the b70 rule).
      val o = t(s, d, "orders")
      val monthly = o
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("rev_cents"))
      val w = Window.orderBy(col("month"))
      monthly
        .withColumn("prev_cents", lag(col("rev_cents"), 1).over(w))
        .withColumn("delta_cents", col("rev_cents") - col("prev_cents"))
        .select(col("month"), col("rev_cents"), col("prev_cents"), col("delta_cents"),
          // prev_cents = 0 → NULL bps (mirrored by NULLIF in the oracle):
          // Spark's div-by-zero yields null but DuckDB's // raises, so the
          // guard keeps both engines defined on a zero-revenue month.
          (signum(col("delta_cents")).cast("long") *
            expr("(abs(delta_cents) * 10000) div nullif(prev_cents, 0)"))
            .as("change_bps"))
        .orderBy(col("month"))
    }),

    "b76_expectations" -> ((s, d) => {
      // data-quality contract audit (the expectations gate an ingest runs
      // before publishing a table): 7 named constraints -> violation
      // counts. The five row-local checks share ONE map-side-combined
      // aggregate pass (CASE sums, then unpivot of the 1-row frame); the
      // referential check is a broadcast anti-join count; uniqueness is a
      // key-partitioned group-count. Nothing buffers rows; each leg is an
      // O(n) scan-and-count. totalprice_le_100k is the deliberately tight
      // SLA bound that FIRES on this data — proving the counter counts.
      val o = t(s, d, "orders")
      val prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      val od = col("o_orderdate").cast("date")
      val rowChecks = o.agg(
          sum(when(col("o_orderkey").isNull || col("o_custkey").isNull ||
            col("o_totalprice").isNull, 1L).otherwise(0L)).as("not_null_keys"),
          sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)).as("totalprice_positive"),
          sum(when(col("o_totalprice") > 100000.0, 1L).otherwise(0L)).as("totalprice_le_100k"),
          sum(when(od < lit("1992-01-01").cast("date") ||
            od >= lit("2002-01-01").cast("date"), 1L).otherwise(0L)).as("orderdate_in_range"),
          sum(when(!col("o_orderpriority").isin(prio: _*), 1L).otherwise(0L)).as("priority_domain"))
        .unpivot(Array.empty[Column], Array("not_null_keys", "totalprice_positive",
          "totalprice_le_100k", "orderdate_in_range", "priority_domain").map(col),
          "check", "n_viol")
      val fk = o.join(broadcast(t(s, d, "customer").select(col("c_custkey"))),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_viol"))
        .select(lit("custkey_fk").as("check"), col("n_viol"))
      val uniq = o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("c"))
        .where(col("c") > 1)
        .agg(coalesce(sum(col("c") - 1), lit(0L)).cast("long").as("n_viol"))
        .select(lit("orderkey_unique").as("check"), col("n_viol"))
      rowChecks.unionByName(fk).unionByName(uniq).orderBy(col("check"))
    }),

    "b75_winsorize" -> ((s, d) => {
      // winsorized robust stats: clamp each group's prices into its own
      // [p05, p95] before summing — outlier-proof aggregates. The edges
      // come from the b71 trick, NOT percentile_disc: a cumulative window
      // over the per-DISTINCT-value count frame (bounded by the price
      // domain, never row count — percentile_disc would buffer whole
      // groups), with the inverse-CDF rule in exact integers
      // (cum·20 ≥ n ⟺ cdf ≥ 0.05). Edges broadcast back; map-side clamp.
      val li = t(s, d, "lineitem").select(col("l_returnflag").as("flag"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      val vc = li.groupBy(col("flag"), col("cents")).agg(count(lit(1)).as("cnt"))
      val wCum = Window.partitionBy(col("flag")).orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cdf = vc
        .withColumn("cum", sum(col("cnt")).over(wCum))
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("flag"))))
      val edges = cdf.groupBy(col("flag")).agg(
        min(when(col("cum") * 20 >= col("n"), col("cents"))).as("lo"),
        min(when(col("cum") * 20 >= col("n") * 19, col("cents"))).as("hi"))
      li.join(broadcast(edges), "flag")
        .select(col("flag"), col("cents"), col("lo"), col("hi"),
          greatest(col("lo"), least(col("hi"), col("cents"))).as("w"))
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).as("sum_cents"),
          sum(col("w")).as("sum_winsorized"),
          sum((col("cents") < col("lo")).cast("long")).as("n_lo"),
          sum((col("cents") > col("hi")).cast("long")).as("n_hi"))
        .orderBy(col("flag"))
    }),

    "b74_attribution" -> ((s, d) => {
      // last-touch attribution: each purchase credited to the same
      // user's most recent preceding click, but only within a 7-day
      // lookback. No self-join: the event log is already interleaved per
      // user, so one user-partitioned window with last(_, ignoreNulls)
      // carries the latest click forward — the as-of-join-shaped staple
      // as a single window pass. Scales on the user key (millions of
      // small partitions); ties broken by event_id; epoch-µs longs on
      // every compared column (b60 convention).
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val us = unix_micros(col("ts"))
      val weekUs = 7L * 86400L * 1000000L
      t(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
        .withColumn("click_id0",
          last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
        .withColumn("click_us0",
          last(when(col("event_type") === "click", us), ignoreNulls = true).over(w))
        .where(col("event_type") === "purchase")
        .withColumn("hit", col("click_us0").isNotNull && (us - col("click_us0") <= weekUs))
        .select(col("event_id").as("purchase_id"), col("user_id"),
          when(col("hit"), col("click_id0")).as("click_id"),
          when(col("hit"), us - col("click_us0")).as("gap_us"))
        .orderBy(col("purchase_id"))
    }),

    "b73_twap" -> ((s, d) =>
      // time-weighted average value per user over the observed span —
      // LOCF-weighted integration in pure integer cents×micros
      // (operators/Series.twapCents: one lead window + one aggregate,
      // no row expansion); plain avg would over-weight reading bursts
      graft.operators.Series.twapCents(
          t(s, d, "events"), "user_id", "ts", "event_id", "value")
        .orderBy(col("user_id"))),

    "b72_stream_ivm_parity" -> ((s, d) =>
      // the batch face of the CONTINUOUS IVM materialization
      // (streaming/Streams.ivmMergeBatch): per-user-per-day event stats.
      // StreamingSpec drains a multi-batch file-source stream through the
      // foreachBatch state merge and asserts its final generation equals
      // THIS query row-for-row; the oracle proves the same recompute
      // against DuckDB. Integer cents states (order-free, engine-exact).
      t(s, d, "events")
        .groupBy(col("user_id"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 100 + 0.5).cast("long")).as("sum_cents"))
        .orderBy(col("user_id"), col("day"))),

    "b59_cohort_retention" -> ((s, d) => {
      // cohort retention matrix: customers grouped by first-order
      // quarter (the cohort), counted as active in each later quarter —
      // the standard product-analytics triangle. Three aggregations on
      // explicit keys (per-customer min, distinct activity, matrix
      // count-distinct), all partial+final; the cohort join is on
      // custkey, a well-distributed key. Integer counts and truncated
      // dates only.
      val o = t(s, d, "orders")
      val cohort = o.groupBy(col("o_custkey"))
        .agg(min(col("o_orderdate")).as("first_order"))
        .select(col("o_custkey"),
          date_trunc("quarter", col("first_order")).cast("date").as("cohort"))
      val active = o.select(col("o_custkey"),
          date_trunc("quarter", col("o_orderdate")).cast("date").as("q"))
        .distinct()
      active.join(cohort, Seq("o_custkey"))
        .groupBy(col("cohort"), col("q"))
        .agg(count_distinct(col("o_custkey")).as("n_active"))
        .orderBy(col("cohort"), col("q"))
    }),

    "b53_date_spine" -> ((s, d) => {
      // time-series gap fill: per-priority daily order counts with every
      // missing day restored as an explicit zero row. The spine explodes
      // from each group's OWN [min, max] bounds (one aggregate + one
      // sequence — never a cartesian priorities × calendar join, which
      // would both plan a CartesianProduct and invent days outside a
      // group's lifetime). Left join + coalesce(0) fills the gaps;
      // ~28% of this spine is filled zeros at sf0.01.
      val daily = t(s, d, "orders")
        .groupBy(col("o_orderpriority"),
          date_trunc("day", col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_orders"))
      val spine = daily.groupBy(col("o_orderpriority"))
        .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(col("o_orderpriority"),
          explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
      spine.join(daily, Seq("o_orderpriority", "day"), "left")
        .select(col("o_orderpriority"), col("day").cast("date").as("day"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy(col("o_orderpriority"), col("day"))
    }),

    "b52_union_evolve" -> ((s, d) => {
      // schema-evolution union: an "old" extract (no o_orderpriority)
      // unioned BY NAME with a "new" extract that added the column —
      // allowMissingColumns null-fills the old rows, positional union
      // would silently misalign. The daily reality of a 100 TB lake
      // where old partitions predate a schema change. Narrow op: both
      // legs stay columnar scans; the aggregate is the usual
      // partial+final.
      val o = t(s, d, "orders")
      val oldExtract = o.where(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val newExtract = o.where(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      oldExtract.unionByName(newExtract, allowMissingColumns = true)
        .groupBy(coalesce(col("o_orderpriority"), lit("LEGACY")).as("prio"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("prio"))
    }),

    "b51_exact_moments" -> ((s, d) => {
      // distributed mean/variance WITHOUT distributed float sums: the
      // moments (n, Σx, Σx²) are exact integers — quantity as long,
      // price as cents in DECIMAL(38,0) so Σcents² (~10²⁰) can't wrap —
      // and the textbook finite-sample formula
      // var = (n·Σx² − (Σx)²) / (n·(n−1)) runs as ONE fixed IEEE
      // sequence per output row on those exact values. Order-free at any
      // parallelism; the doctrine-compliant route to second moments.
      val li = t(s, d, "lineitem").select(col("l_returnflag"),
        col("l_quantity").cast("long").as("q"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("decimal(38,0)").as("cents"))
      li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("q")).as("sum_q"),
          sum(col("q") * col("q")).as("sum_q2"),
          sum(col("cents")).as("sum_cents"),
          sum(col("cents") * col("cents")).as("sum_cents2"))
        .select(col("l_returnflag"), col("n"), col("sum_q"),
          (col("sum_q").cast("double") / col("n").cast("double")).as("mean_q"),
          ((col("n") * col("sum_q2") - col("sum_q") * col("sum_q")).cast("double")
            / (col("n").cast("double") * (col("n") - 1).cast("double"))).as("var_q"),
          ((col("n") * col("sum_cents2") - col("sum_cents") * col("sum_cents")).cast("double")
            / (col("n").cast("double") * (col("n") - 1).cast("double")) / lit(10000.0)).as("var_price"))
        .orderBy(col("l_returnflag"))
    }),

    "b50_funnel" -> ((s, d) => {
      // per-view conversion funnel: view → FIRST click within 30 min →
      // purchase within 2 h of that click, attributed back per user.
      // Funnel = the b42 interval-join operator CHAINED: each stage is
      // an equi-join on user_id with the time range as post-filter
      // (never a BNLJ), and on live streams the identical chain runs
      // with watermarks end-to-end. Left-join attribution keeps every
      // view; counts are exact integers.
      val e = t(s, d, "events")
      val views = e.where(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("vts"))
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"))
      val vc = Streams.streamIntervalJoin(views, clicks, "user_id",
          "vts", "cts", window = "30 minutes", delay = "10 minutes")
        .groupBy(col("view_id"), col("user_id")).agg(min(col("cts")).as("fc"))
      val vcp = Streams.streamIntervalJoin(vc, purchases, "user_id",
          "fc", "pts", window = "2 hours", delay = "10 minutes")
        .select(col("view_id"), col("user_id")).distinct()
      views
        .join(vc.select(col("view_id"), col("user_id"), lit(1).as("clk")),
          Seq("view_id", "user_id"), "left")
        .join(vcp.withColumn("pur", lit(1)), Seq("view_id", "user_id"), "left")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_views"),
          count(col("clk")).as("n_clicked"),
          count(col("pur")).as("n_purchased"))
        .orderBy(col("user_id"))
    }),

    "b49_json_roundtrip" -> ((s, d) => {
      // JSON-lines source+sink roundtrip (completes the format matrix:
      // parquet/ORC/CSV/JSON all both ways); declared read schema, money
      // as decimal text, aggregate the REREAD data against the oracle's
      // original parquet — any drift through the format fails the hash
      val dir = graft.sources.Formats.scratchDir(s, "json_customer", d)
      graft.sources.Formats.ensureWritten(s, dir) {
        graft.sources.Formats.writeJsonLines(
          t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment"),
            col("c_acctbal").cast("decimal(18,2)").as("c_acctbal")), dir)
      }
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "c_custkey LONG, c_mktsegment STRING, c_acctbal DECIMAL(18,2)")
      graft.sources.Formats.readJsonLines(s, dir, schema)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal")).cast("double").as("sum_bal"))
        .orderBy(col("c_mktsegment"))
    }),

    "b35_range_join" -> ((s, d) => {
      // windowed interval join: clicks in the minute before each purchase,
      // per user. Binned into window-width time buckets so the plan is a
      // plain equi-join on (user, bin) — never a BroadcastNestedLoopJoin
      // (PlanSpec-asserted); b08's as-of join is the 1-NN sibling of this
      // windowed-count shape. Epoch-micros arithmetic (testdata is
      // µs-precision, so DuckDB's ns interval arithmetic agrees exactly).
      val e = t(s, d, "events")
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("pt"))
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("ct"))
      graft.operators.Intervals.countInWindow(purchases, clicks, "user_id",
          "event_id", "pt", "ct", lo = -60000000L, hi = 0L)
        .select(col("event_id"), col("user_id"), col("n_in_window").as("n_clicks_60s"))
        .orderBy(col("event_id"))
    }),

    "b36_approx_quantile" -> ((s, d) =>
      // b18 pattern for sketches: the exact discrete median is
      // oracle-checked directly; the GK-sketch estimate is engine-specific,
      // so its evidence is a rank-bound boolean — with accuracy 10000 the
      // rank error is ≤ n/10000 ≈ 60 rows, far inside the p49–p51 band the
      // bound allows, so a drifting sketch turns the hash red.
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)").as("median_price"),
          expr("percentile_disc(0.49) WITHIN GROUP (ORDER BY l_extendedprice)").as("p49"),
          expr("percentile_disc(0.51) WITHIN GROUP (ORDER BY l_extendedprice)").as("p51"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("approx"))
        .select(col("l_returnflag"), col("median_price"),
          (col("approx") >= col("p49") && col("approx") <= col("p51")).as("approx_ok"))
        .orderBy(col("l_returnflag"))),

    "b37_bucketed_join" -> ((s, d) => {
      // Co-located fact-fact join: both sides bucketed + sorted on the join
      // key at write time (Formats.bucketedTable), so the SortMergeJoin
      // runs with ZERO Exchange on either side — the at-rest layout that
      // makes a 100 TB fact-fact join shuffle-free (bucket once at ingest,
      // join for free thereafter). The merge hint keeps the small-SF demo
      // honest: auto-broadcast would hide the bucketing, and at real scale
      // neither fact side broadcasts. Exchange-freeness is plan-asserted
      // in PlanSpec.
      val ob = ordersByCust(s, d)
      val cb = customerByCust(s, d)
      ob.hint("merge").join(cb, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("c_mktsegment"))
    }),

    "b38_partition_prune" -> ((s, d) => {
      // Partition-pruned scan: orders laid out partitionBy(o_orderpriority)
      // at write time; the equality filter then prunes 4/5 of the
      // directories at PLANNING time (PartitionFilters, plan-asserted) —
      // the predicate-column half of the at-rest layout story (b37 buckets
      // by join key, b38 partitions by filter column). At 100 TB this is
      // the difference between scanning 20 TB and scanning 100 TB.
      val dir = ordersByPriorityDir(s, d)
      s.read.parquet(dir)
        .where(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("o_orderstatus"))
    }),

    "b39_exists_subquery" -> ((s, d) => {
      // correlated EXISTS via the Spark 4 DataFrame subquery API
      // (Dataset.exists + Column.outer); Catalyst rewrites it to a
      // left-semi hash join on o_custkey — no per-row subquery execution,
      // same shuffle shape as an explicit semi join at any scale
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      c.where(o.where(col("o_custkey") === col("c_custkey").outer() &&
            col("o_orderpriority") === "1-URGENT").exists())
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    "b41_lateral_join" -> ((s, d) =>
      // correlated LATERAL subquery through the SQL frontend: each
      // nation's two highest-balance suppliers. Catalyst decorrelates the
      // lateral into a ranked join (DecorrelateInnerQuery) — no per-row
      // re-execution of the subquery, same shuffle shape as a window
      // top-k at any scale.
      graft.sources.Catalog.sql(s, d,
        """SELECT n.n_name, t.s_name, t.s_acctbal
          |FROM nation n,
          |LATERAL (SELECT s_name, s_acctbal FROM supplier
          |         WHERE s_nationkey = n.n_nationkey
          |         ORDER BY s_acctbal DESC, s_name LIMIT 2) t
          |ORDER BY n.n_name, t.s_acctbal DESC, t.s_name""".stripMargin)),

    "b40_scalar_subquery" -> ((s, d) => {
      // orders above 1.5× the global mean price, the mean delivered as an
      // uncorrelated scalar subquery (one aggregate, result embedded into
      // the filter — no second pass over the data, no driver round-trip in
      // the query definition). Exact integer arithmetic (cents, cross-
      // multiplied) so the comparison is order- and engine-reproducible —
      // a distributed avg(double) would not be. Cents via a decimal(18,2)
      // cast, not round(double·100): 2-decimal money sits ~1e-13 from the
      // decimal, so every engine's double→decimal conversion agrees, while
      // round()'s half-ulp behavior is engine-specific (the c35 lesson).
      val oc = t(s, d, "orders").withColumn("cents",
        (col("o_totalprice").cast("decimal(18,2)") * lit(100)).cast("long"))
      val sumCents = oc.agg(sum(col("cents"))).scalar()
      val n = oc.agg(count(lit(1))).scalar()
      oc.where(col("cents") * lit(2L) * n > lit(3L) * sumCents)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    "b43_window_dist" -> ((s, d) => {
      // distribution window functions (ntile / percent_rank / cume_dist)
      // complete the §2B window surface next to rank (b09), frames
      // (b10/b27), nav (b32). Unique orderBy key ⇒ deterministic ranks;
      // percent_rank/cume_dist are single IEEE divisions of exact integer
      // rank/count, identical in any engine. One shuffle on the partition
      // key, no driver state — the standard window shape at any scale.
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_orderkey"))
      t(s, d, "orders").where(col("o_totalprice") > 150000)
        .select(col("o_orderkey"), col("o_orderpriority"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy(col("o_orderkey"))
    }),

    "b44_variant_json" -> ((s, d) =>
      // Spark 4 VARIANT for semi-structured columns: parse_json once into
      // the binary variant encoding, then typed-path extraction via
      // variant_get — the shredding-friendly successor to re-parsing JSON
      // strings per query with from_json (a20) / get_json_object. Narrow
      // codegen'd pass, no shuffle; pushdown-friendly at rest once
      // variant shredding lands in the writer.
      t(s, d, "events")
        .select(col("event_id"),
          variant_get(parse_json(col("props")), "$.k", "bigint").as("k"))
        .where(col("k") >= 50)
        .orderBy(col("event_id"))),

    "b42_stream_interval_join" -> ((s, d) => {
      // stream-stream interval join, batch parity: every click within
      // 30 minutes AFTER a view by the same user. The SAME operator
      // (Streams.streamIntervalJoin — watermarks + time-range condition)
      // runs on live streams with bounded state; on these static frames
      // the watermark is a no-op and the plan is an equi-join on user_id
      // with the range as post-filter (plan-asserted no-BNLJ). Timestamps
      // are µs-precision so interval arithmetic agrees exactly with the
      // oracle.
      val e = t(s, d, "events")
      val views = e.where(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          col("ts").as("view_ts"))
      val clicks = e.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      Streams.streamIntervalJoin(views, clicks, "user_id",
          "view_ts", "click_ts", window = "30 minutes", delay = "10 minutes")
        .select(col("view_id"), col("user_id"), col("click_id"))
        .orderBy(col("view_id"), col("click_id"))
    }),

    "b48_stream_interval_left" -> ((s, d) => {
      // left-outer variant of b42: every view, with its in-window clicks
      // or a -1 sentinel when none arrived (null-free for the hash gate).
      // Same operator, joinType="left_outer" — on a live stream the
      // unmatched views are emitted once the watermark proves no click
      // can still arrive (see Streams.streamIntervalJoin).
      val e = t(s, d, "events")
      val views = e.where(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          col("ts").as("view_ts"))
      val clicks = e.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      Streams.streamIntervalJoin(views, clicks, "user_id",
          "view_ts", "click_ts", window = "30 minutes", delay = "10 minutes",
          joinType = "left_outer")
        .select(col("view_id"), col("user_id"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"))
        .orderBy(col("view_id"), col("click_id"))
    }),

    "b47_salted_skew_join" -> ((s, d) => {
      // lineitem ⋈ supplier through Scale.saltedJoin: the hot-key-proof
      // shuffle shape (salt spreads each suppkey over 8 reducers; supplier
      // replicated 8×). Salting is semantics-preserving, so the oracle is
      // the PLAIN join — the strongest possible check that the rewrite
      // changes only where rows move, never what they are.
      val li = t(s, d, "lineitem")
        .select(col("l_suppkey"), col("l_extendedprice"))
      val sup = t(s, d, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      Scale.saltedJoin(li, sup, "l_suppkey", salts = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("revenue"))
        .orderBy(col("s_nationkey"))
    }),

    "b46_map_type" -> ((s, d) => {
      // MapType surface: per-priority map of status → order count built
      // with map_from_entries over a sorted entry array (collect_list
      // order is partition-dependent; array_sort makes the map layout —
      // and therefore map_keys order — deterministic), then probed with
      // element_at / map_filter / map_values / map_keys. The output is
      // flat scalars only: map columns never reach the hash gate, where
      // engine-specific key order would be unhashable. Scale: maps are
      // per-group and bounded by |statuses|; both groupBys are ordinary
      // partial+final aggregates; every map op is a narrow codegen'd pass.
      val pc = t(s, d, "orders")
        .groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
      pc.groupBy(col("o_orderpriority"))
        .agg(map_from_entries(
          array_sort(collect_list(struct(col("o_orderstatus"), col("n"))))).as("m"))
        .select(col("o_orderpriority"),
          size(col("m")).as("n_statuses"),
          coalesce(element_at(col("m"), "F"), lit(0L)).as("n_f"),
          aggregate(map_values(map_filter(col("m"), (_, v) => v >= 100)),
            lit(0L), _ + _).as("big_total"),
          concat_ws(",", map_keys(col("m"))).as("keys_csv"))
        .orderBy(col("o_orderpriority"))
    }),

    "b45_join_full_outer" -> ((s, d) => {
      // full outer join of two independently aggregated sides: customers
      // with ≥1 big order vs customers in arrears. Full outer cannot
      // broadcast either side (both must surface their unmatched rows),
      // so the right plan at any scale is the shuffle-both-sides
      // SortMergeJoin on the shared key — which is what Catalyst picks.
      // Outer-side nulls are coalesced to sentinels (null-free output for
      // the hash gate); side membership is kept as booleans.
      val big = t(s, d, "orders").where(col("o_totalprice") > 400000)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_big"))
      val neg = t(s, d, "customer").where(col("c_acctbal") < 0)
        .select(col("c_custkey"), col("c_acctbal"))
      big.join(neg, col("o_custkey") === col("c_custkey"), "full_outer")
        .select(
          coalesce(col("o_custkey"), col("c_custkey")).as("custkey"),
          coalesce(col("n_big"), lit(0L)).as("n_big"),
          col("n_big").isNotNull.as("has_big"),
          col("c_acctbal").isNotNull.as("in_arrears"),
          coalesce(col("c_acctbal"), lit(0.0)).as("acctbal"))
        .orderBy(col("custkey"))
    }))

}
