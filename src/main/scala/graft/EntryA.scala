package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.{Ann, Dedup, Multimodal, Nested, Pipeline, Scale, Variant}
import graft.functions.{Similarity, Text}
import graft.sources.Tables
import graft.streaming.Streams
import graft.EntryShared._

/** §2A query-builder family of the [[SparkEntry]] driver contract — the
  * oamap operator surface (mechanical r15 split; bodies verbatim).
  * The DuckDB oracle twins live in [[OraclesA]] (r16 seam). */
private[graft] object EntryA {

  // =================================================================
  // §2A — oamap operator surface (nested fixture = Tables.orderItems)
  // =================================================================

  private[graft] val aQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a01_fieldname" -> ((s, d) => {
      val renamed = Nested.fieldname(
        Nested.fieldname(t(s, d, "lineitem"), "", "l_orderkey", "okey"),
        "", "l_quantity", "qty")
      renamed.select(col("okey"), col("l_linenumber").as("ln"), col("qty"))
        .orderBy(col("okey"), col("ln"), col("qty"))
    }),

    "a02_recordname" -> ((s, d) => {
      val df = t(s, d, "orders")
        .withColumn("rec", struct(col("o_orderkey").as("k"), col("o_totalprice").as("p")))
      val named = Nested.recordname(df, "rec", "Order")
      named.select(col("rec.k").as("o_orderkey"), col("rec.p").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    "a03_project" -> ((s, d) => {
      val items = Tables.orderItems(s, d)
      val qtys = items.withColumn("qtys", Nested.project(col("items"), "qty"))
      qtys.select(col("l_orderkey"),
          size(col("qtys")).cast("long").as("n"),
          aggregate(col("qtys"), lit(0.0), (a, x) => a + x).as("total_qty"))
        .orderBy(col("l_orderkey"))
    }),

    "a04_keep" -> ((s, d) =>
      Nested.keep(t(s, d, "lineitem"), "l_orderkey", "l_linenumber", "l_quantity")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),

    "a05_drop" -> ((s, d) =>
      Nested.drop(t(s, d, "lineitem"),
          "l_partkey", "l_suppkey", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus", "l_shipdate")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),

    "a06_split" -> ((s, d) => {
      val soa = Nested.split(Tables.orderItems(s, d), "items", "qty", "price")
      soa.select(col("l_orderkey"),
          size(col("qty")).cast("long").as("n"),
          aggregate(col("qty"), lit(0.0), (a, x) => a + x).as("sum_qty"),
          aggregate(col("price"), lit(0.0).cast("decimal(20,2)"),
            (a, x) => (a + x.cast("decimal(18,2)")).cast("decimal(20,2)"))
            .cast("double").as("sum_price"))
        .orderBy(col("l_orderkey"))
    }),

    "a07_merge" -> ((s, d) => {
      // split → merge roundtrip, then consume the zipped structs
      val soa = Nested.split(Tables.orderItems(s, d), "items", "qty", "price")
      val aos = Nested.merge(soa, "items", "qty", "price")
      aos.select(col("l_orderkey"),
          aggregate(col("items"), lit(0.0).cast("decimal(30,4)"),
            (a, x) => (a + x.getField("qty").cast("decimal(18,2)") *
              x.getField("price").cast("decimal(18,2)")).cast("decimal(30,4)"))
            .cast("double").as("sum_qty_price"))
        .orderBy(col("l_orderkey"))
    }),

    "a08_parent" -> ((s, d) => {
      val withParent = Nested.parent(Tables.orderItems(s, d), "items", "okey", col("l_orderkey"))
      withParent.select(explode(col("items")).as("it"))
        .select(col("it.okey").as("okey"), col("it.ln").as("ln"), col("it.qty").as("qty"))
        .orderBy(col("okey"), col("ln"), col("qty"))
    }),

    "a09_index" -> ((s, d) => {
      val indexed = Nested.index(Tables.orderItems(s, d), "items", "idx")
      indexed.select(col("l_orderkey"), explode(col("items")).as("it"))
        .select(col("l_orderkey"), col("it.idx").cast("long").as("idx"),
          col("it.ln").as("ln"), col("it.qty").as("qty"))
        .orderBy(col("l_orderkey"), col("idx"))
    }),

    "a10_tomask" -> ((s, d) =>
      t(s, d, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          Nested.tomask(col("l_discount"), lit(0.02), lit(0.04)).as("disc_masked"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("disc_masked"))),

    "a11_flatten" -> ((s, d) => {
      val soa = Nested.split(Tables.orderItems(s, d), "items", "qty", "disc")
      soa.select(col("l_orderkey"),
          Nested.flattenList(array(col("qty"), col("disc"))).as("flat"))
        .select(col("l_orderkey"), size(col("flat")).cast("long").as("n_flat"),
          aggregate(col("flat"), lit(0.0).cast("decimal(20,2)"),
            (a, x) => (a + x.cast("decimal(18,2)")).cast("decimal(20,2)"))
            .cast("double").as("sum_flat"))
        .orderBy(col("l_orderkey"))
    }),

    "a12_filter" -> ((s, d) => {
      val filtered = Tables.orderItems(s, d)
        .withColumn("big", Nested.filterElements(col("items"), x => x.getField("qty") > 25))
      filtered.select(col("l_orderkey"), size(col("big")).cast("long").as("n_big"))
        .orderBy(col("l_orderkey"))
    }),

    "a13_define" -> ((s, d) => {
      val defined = Tables.orderItems(s, d).withColumn("items",
        Nested.defineElements(col("items"), "revenue",
          x => x.getField("qty") * x.getField("price") * (lit(1.0) - x.getField("disc"))))
      defined.select(col("l_orderkey"), explode(col("items")).as("it"))
        .select(col("l_orderkey"), col("it.ln").as("ln"), col("it.qty").as("qty"),
          col("it.revenue").as("revenue"))
        .orderBy(col("l_orderkey"), col("ln"), col("qty"), col("revenue"))
    }),

    "a14_map" -> ((s, d) =>
      // table-level map: elementwise expressions, flat output
      t(s, d, "lineitem").select(
          col("l_orderkey"),
          col("l_linenumber").as("ln"),
          (col("l_quantity") * col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("l_orderkey"), col("ln"), col("revenue"))),

    "a15_reduce" -> ((s, d) =>
      Tables.orderItems(s, d).select(col("l_orderkey"),
          Nested.reduceElements(
            transform(col("items"), _.getField("qty")), lit(0.0), (a, x) => a + x)
            .as("total_qty"))
        .orderBy(col("l_orderkey"))),

    "a17_slice" -> ((s, d) => {
      val items = Tables.orderItems(s, d)
      items.select(col("l_orderkey"),
          Nested.at(Nested.sliceList(col("items"), 1, 2), 1).getField("ln").as("first_ln"),
          size(Nested.sliceList(col("items"), 1, 2)).cast("long").as("n_first2"))
        .orderBy(col("l_orderkey"))
    }),

    "a18_union_case" -> ((s, d) => {
      val e = t(s, d, "events")
      val u = e.withColumn("u", Variant.union2(
        when(col("event_type") === "purchase", lit(0)).otherwise(lit(1)),
        col("value"),
        regexp_extract(col("props"), "\"k\"\\s*:\\s*(-?\\d+)", 1).cast("int")))
      u.select(col("event_id"),
          col("u.tag").as("tag"),
          Variant.castCase(col("u"), 0).as("purchase_value"),
          Variant.castCase(col("u"), 1).as("other_k"))
        .where(Variant.isCase(col("u"), 0) || Variant.isCase(col("u"), 1))
        .orderBy(col("event_id"))
    }),

    "a19_pointer_gather" -> ((s, d) => {
      val e = t(s, d, "events").select(col("event_id"), col("user_id"))
      Variant.gather(e, "user_id", t(s, d, "customer").select(col("c_custkey"), col("c_name")),
          "c_custkey")
        .select(col("event_id"), col("user_id"), col("c_name"))
        .orderBy(col("event_id"))
    }),

    "a16_lazy_scan" -> ((s, d) =>
      // lazy per-column fetch (oamap generator.Cache): a 2-column projection
      // + pushed filter; PlanSpec asserts the scan's ReadSchema/PushedFilters
      // actually prune to exactly this.
      t(s, d, "lineitem")
        .where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_quantity"))),

    "a20_ingest_json" -> ((s, d) =>
      // both JSON access paths: parsed struct (from_json with a declared
      // schema) and direct path extraction (get_json_object)
      t(s, d, "events")
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k").as("k"),
          get_json_object(col("props"), "$.k").cast("int").as("k2"))
        .orderBy(col("event_id"))),

    "a21_inference" -> ((s, d) => {
      // schema inference over raw JSON strings (oamap inference.fromdata analogue)
      import s.implicits._
      val raw = t(s, d, "events").select(col("props")).as[String]
      // inference over a deterministic 5% sample (seeded), then one parse
      // pass — at 100 TB you never full-scan twice to learn a schema; the
      // sample only has to see every field once
      val inferred = s.read.option("samplingRatio", "0.05").json(raw)
      inferred.groupBy(col("k")).agg(count(lit(1)).as("n")).orderBy(col("k"))
    }),

    "a23_explode_outer" -> ((s, d) => {
      // outer unnest: parents with empty/missing lists survive as null rows
      // (257 orders have no lineitems in the testdata)
      val items = Tables.orderItems(s, d)
      t(s, d, "orders").select(col("o_orderkey"))
        .join(items, col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("o_orderkey"), explode_outer(col("items")).as("it"))
        .select(col("o_orderkey"), col("it.ln").as("ln"), col("it.qty").as("qty"))
        .orderBy(col("o_orderkey"), col("ln").asc_nulls_first, col("qty"))
    }),

    "a24_union_n" -> ((s, d) => {
      // arbitrary-arity union (oamap Union(possibilities)): 3-way variant
      // over event kinds — purchase carries its value, click carries the
      // parsed props key, everything else carries the raw type string
      val e = t(s, d, "events")
      val tag = when(col("event_type") === "purchase", 0)
        .when(col("event_type") === "click", 1)
        .otherwise(2)
      val u = e.withColumn("u", Variant.unionN(tag,
        col("value"),
        regexp_extract(col("props"), "\"k\"\\s*:\\s*(-?\\d+)", 1).cast("int"),
        col("event_type")))
      u.select(col("event_id"),
          col("u.tag").as("tag"),
          Variant.castCase(col("u"), 0).as("purchase_value"),
          Variant.castCase(col("u"), 1).as("click_k"),
          Variant.castCase(col("u"), 2).as("other_type"))
        .orderBy(col("event_id"))
    }),

    "a25_tensor_dims" -> ((s, d) => {
      // fixed-dims tensor leaf (oamap Primitive(dtype, dims)): enforce the
      // declared 64-dim shape at ingest (ragged rows would fail the job),
      // then aggregate per label with order-independent exact stats
      val emb = t(s, d, "embeddings")
        .withColumn("embedding", Nested.fixedDims(col("embedding"), Seq(64)))
      emb.groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          min(element_at(col("embedding"), 1)).as("min_e0"),
          max(element_at(col("embedding"), 1)).as("max_e0"))
        .orderBy(col("label"))
    }),

    "a26_normalize" -> ((s, d) => {
      // ingest-side pointer normalization roundtrip (oamap fill-time
      // identity dedup): shared (lang, source) sub-objects split into a
      // dimension table + content key, then gathered back — the oracle is
      // the identity, proving the roundtrip is lossless
      val (fact, dim) = Variant.normalize(
        t(s, d, "documents"), Seq("lang", "source"), "ls_key")
      Variant.denormalize(fact, dim, "ls_key")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    "a27_union_infer" -> ((s, d) => {
      // oamap inference unifies heterogeneous records into a Union
      // (`oamap/inference.py::fromdata` — heterogeneous lists → Union
      // possibilities). Spark's analogue: schema inference over mixed-shape
      // JSON unifies into one struct with nullable fields; the union tag is
      // recovered from which possibility is populated.
      import s.implicits._
      val e = t(s, d, "events")
      val mixed = e.select(
        when(col("event_type") === "purchase",
            concat(lit("{\"amount\": "), col("value"), lit("}")))
          .otherwise(concat(lit("{\"kind\": \""), col("event_type"), lit("\"}")))
          .as("j")).as[String]
      // sampled inference (see a21) — both shapes are dense, so a 5%
      // seeded sample always witnesses each union possibility
      val inferred = s.read.option("samplingRatio", "0.05")
        .json(mixed) // unified {amount: double, kind: string}
      inferred
        .select(when(col("amount").isNotNull, 0).otherwise(1).as("tag"),
          col("amount"), col("kind"))
        .groupBy(col("tag"))
        .agg(count(lit(1)).as("n"),
          coalesce(dsum(col("amount")), lit(0.0)).as("amount_total"),
          countDistinct(col("kind")).as("n_kinds"))
        .orderBy(col("tag"))
    }),

    "a22_compiled_expr" -> ((s, d) => {
      // the compiled-UDF surface (oamap compiler.py → Catalyst codegen):
      // first minhash permutation per document through the codegen'd
      // ShingleHashes + MinHashSig expressions — exact integer output the
      // oracle reproduces with the same affine-permutation arithmetic.
      docShingleSets(s, d)
        .select(col("id").as("doc_id"),
          element_at(graft.operators.Dedup.minhashSignature(col("hs"), 1), 1).as("sig0"))
        .orderBy(col("doc_id"))
    }))

}
