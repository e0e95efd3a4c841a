"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   — flagship extraction-shaped query at sf0.001.
``queries()``      — one named entry per implemented operator from
                     SURVEY.md §2 ([ref] surface, [gap→builtin] Catalyst
                     surface, [ext] LLM-pipeline operators).
``oracle_sql()``   — DuckDB-equivalent ANSI SQL per query (omitted only
                     for genuinely non-SQL-expressible ops: LSH/ANN
                     candidate generation, SimHash signatures — those get
                     rows-only checks and are property-tested in tests/).

Determinism discipline (cross-engine hash matching):
- aggregates over doubles are computed in DECIMAL (exact, order-free)
  and cast to DOUBLE at the end on BOTH sides;
- per-row double arithmetic is IEEE-deterministic and used freely;
- LIMIT queries carry a total ORDER BY on a unique key;
- every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from subgraph_extractor_spark.session import configure
from subgraph_extractor_spark.sources.readers import load_table
from subgraph_extractor_spark.functions.mappings import clamp, downscale, validity
from subgraph_extractor_spark.functions.uint256 import (
    be_bytes_to_decimal38,
    uint256_to_be_bytes,
)
from subgraph_extractor_spark.operators import aggstate as aggstate_ops
from subgraph_extractor_spark.operators import asof as asof_ops
from subgraph_extractor_spark.operators import bloom as bloom_ops
from subgraph_extractor_spark.operators import cdc as cdc_ops
from subgraph_extractor_spark.operators import clustering as clustering_ops
from subgraph_extractor_spark.operators import dsir as dsir_ops
from subgraph_extractor_spark.operators import pca as pca_ops
from subgraph_extractor_spark.operators import pq as pq_ops
from subgraph_extractor_spark.operators import dedup as dedup_ops
from subgraph_extractor_spark.operators import freq as freq_ops
from subgraph_extractor_spark.operators import quantiles as quant_ops
from subgraph_extractor_spark.operators import graph as graph_ops
from subgraph_extractor_spark.operators import histogram as hist_ops
from subgraph_extractor_spark.operators import lm as lm_ops
from subgraph_extractor_spark.operators import packing as packing_ops
from subgraph_extractor_spark.operators import passages as passage_ops
from subgraph_extractor_spark.operators import profile as profile_ops
from subgraph_extractor_spark.operators import retrieval as retrieval_ops
from subgraph_extractor_spark.operators import sampling as sampling_ops
from subgraph_extractor_spark.operators import semdedup as semdedup_ops
from subgraph_extractor_spark.operators import similarity as sim_ops
from subgraph_extractor_spark.operators import text_analysis as ta
from subgraph_extractor_spark.operators import intervals as interval_ops
from subgraph_extractor_spark.operators import urls as url_ops
from subgraph_extractor_spark import pipeline as pipeline_ops
from subgraph_extractor_spark.operators import layout as layout_ops
from subgraph_extractor_spark.operators.text_analysis import LANG_MARKERS


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    configure(spark)
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Extraction-shaped flagship at sf0.001 (SURVEY §7.1): block-range
    scan on the block-like key, derived/dropped columns, broadcast dim
    join, latest-version-per-entity window."""
    sf = "/root/testdata/sf0.001"
    orders = _t(spark, sf, "orders")
    customer = _t(spark, sf, "customer")
    scan = (
        orders.filter((F.col("o_orderkey") >= 0) & (F.col("o_orderkey") < 4096))
        .withColumn("_block_number", F.col("o_orderkey"))
        .drop("o_orderpriority")
    )
    joined = scan.join(
        F.broadcast(customer.select("c_custkey", "c_name", "c_mktsegment")),
        scan["o_custkey"] == F.col("c_custkey"),
        "left",
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("_block_number").desc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey", "c_name", "c_mktsegment", "_block_number",
            "o_totalprice", "o_orderstatus",
        )
    )


# --------------------------------------------------------------------------
# queries — [ref] scan / projection / filter surface
# --------------------------------------------------------------------------

def q_s1_range_scan(spark, sf):
    # S1+P1+P2+P3 (cli.py:24-53): half-open block-range scan with derived
    # _block_number and dropped bookkeeping columns.
    ev = _t(spark, sf, "events")
    return (
        ev.filter((F.col("event_id") >= 1000) & (F.col("event_id") < 5000))
        .withColumn("_block_number", F.col("event_id"))
        .drop("event_id", "ts", "props")
        .select("_block_number", "user_id", "event_type", "value")
    )


def q_s4_distinct_listing(spark, sf):
    # S4 (cli.py:366-380): DISTINCT + ORDER BY listing
    li = _t(spark, sf, "lineitem")
    return (
        li.select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_s5_preview_limit(spark, sf):
    # S5+O3 (cli.py:429-434): deterministic preview (total order + LIMIT)
    return (
        _t(spark, sf, "orders")
        .orderBy("o_orderkey")
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )


def q_p4_downscale(spark, sf):
    # P4 (cli.py:115-119): floor-division downscale
    li = _t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        downscale(F.col("l_orderkey").cast("decimal(38,0)"), 16)
        .cast("bigint")
        .alias("okey_div16"),
    )


def q_p5_clamp_validity(spark, sf):
    # P5 (cli.py:120-130, README.md:63-75): clamp + validity flag
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        clamp(F.col("o_totalprice"), 200000.0, 0.0).alias("price_clamped"),
        validity(F.col("o_totalprice"), 200000.0).alias("price_valid"),
    )


def q_p6_uint256_roundtrip(spark, sf):
    # P6 (cli.py:139-142): uint256 -> 32-byte BE bytes -> back; values
    # pushed beyond 2^64 to exercise the wide domain.  The oracle is the
    # identity — the round-trip must be lossless.
    li = _t(spark, sf, "lineitem")
    # width budget: (18,0)*(19,0) -> (38,0); +(18,0) stays in 38 digits on
    # both engines (a wider cast makes DuckDB fall back to DOUBLE)
    big = (
        F.col("l_orderkey").cast("decimal(18,0)")
        * F.lit(10**18).cast("decimal(19,0)")
        + F.col("l_partkey").cast("decimal(18,0)")
    ).cast("decimal(38,0)")
    return (
        li.filter(F.col("l_linenumber") == 1)
        .select(
            "l_orderkey",
            # string carrier: >2^53 values survive every pandas conversion
            be_bytes_to_decimal38(uint256_to_be_bytes(big))
            .cast("string")
            .alias("big_id"),
        )
    )


def q_p6_uint256_sum(spark, sf):
    # P6 in the aggregation hot path: encode uint256-domain values to
    # 32-byte bytes, decode back, and SUM the decoded decimals per group
    # — proves the codec is usable for query-side arithmetic, not just
    # storage (README.md:52-55 motivation).
    li = _t(spark, sf, "lineitem")
    # FLOOR to cents first: decimal scale-reduction rounding differs
    # between engines (Spark HALF_UP, DuckDB truncates)
    big = (
        F.floor(F.col("l_extendedprice") * 100).cast("decimal(18,0)")
        * F.lit(10**7).cast("decimal(19,0)")
    ).cast("decimal(38,0)")
    decoded = be_bytes_to_decimal38(uint256_to_be_bytes(big))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(decoded).cast("decimal(38,0)").cast("string").alias(
                "sum_wei"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_p8_mapping_compiler(spark, sf):
    # P4+P5+P7 through the CONFIG COMPILER itself (functions.mappings):
    # the same YAML shape the reference consumes (README.md:56-97),
    # compiled to Column expressions and applied in one withColumns pass.
    from subgraph_extractor_spark.functions.mappings import (
        compile_column_mappings,
    )

    o = _t(spark, sf, "orders").withColumn(
        "price_wei",
        (
            F.floor(F.col("o_totalprice") * 100).cast("decimal(18,0)")
            * F.lit(10**7).cast("decimal(19,0)")
        ).cast("decimal(38,0)"),
    )
    compiled = compile_column_mappings(
        {
            "price_wei": {
                "price_gwei": {"type": "uint64", "downscale": 10**9},
                "price_capped": {
                    "type": "uint64",
                    "max_value": 200000 * 10**9,
                    "default": 0,
                    "validity_column": "price_capped_valid",
                },
            }
        }
    )
    return compiled.apply(o).select(
        "o_orderkey",
        F.col("price_gwei").cast("bigint").alias("price_gwei"),
        F.col("price_capped").cast("string").alias("price_capped"),
        "price_capped_valid",
    )


def q_p7_multi_target_mapping(spark, sf):
    # P7 (cli.py:113-133): one source column -> several derived columns
    o = _t(spark, sf, "orders")
    price = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        F.floor(price * 100).cast("bigint").alias("price_cents"),
        clamp(price, 200000.0, 0.0).alias("price_capped"),
        validity(price, 200000.0).alias("price_capped_valid"),
    )


# --------------------------------------------------------------------------
# queries — joins
# --------------------------------------------------------------------------

def q_j1_catalog_join_chain(spark, sf):
    # J1 (cli.py:72-92): 3-way LEFT join chain over small dims + filter +
    # casted/aliased projection; dims broadcast.
    c = _t(spark, sf, "customer")
    n = F.broadcast(_t(spark, sf, "nation"))
    r = F.broadcast(_t(spark, sf, "region"))
    return (
        c.join(n, c["c_nationkey"] == n["n_nationkey"], "left")
        .join(r, n["n_regionkey"] == r["r_regionkey"], "left")
        .filter(F.col("c_acctbal") > 0)
        .select(
            "c_custkey",
            F.col("c_name").alias("customer"),
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
        )
    )


def q_j2_anti_join(spark, sf):
    # J2 (cli.py:302-313 semantics, data-level): left anti join
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.join(
        o, c["c_custkey"] == o["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


def q_j3_semi_join(spark, sf):
    # J3: left semi join
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_totalprice") > 150000)
    return c.join(
        o, c["c_custkey"] == o["o_custkey"], "left_semi"
    ).select("c_custkey", "c_nationkey")


def q_j3_full_outer(spark, sf):
    # J3: full outer join with null-extension on both sides
    cn = _t(spark, sf, "customer").groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    sn = _t(spark, sf, "supplier").groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    return cn.join(
        sn, cn["c_nationkey"] == sn["s_nationkey"], "full_outer"
    ).select("c_nationkey", "n_customers", "s_nationkey", "n_suppliers")


def q_j5_range_join(spark, sf):
    # J3 range/theta join, bucket-accelerated (operators.asof.range_join):
    # equi-join on computed buckets + residual predicate instead of a
    # nested-loop cross product.
    ev = _t(spark, sf, "events").select("event_id", "user_id")
    iv = ev.filter(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("lo"),
        (F.col("event_id") + 300).alias("hi"),
        F.col("user_id").alias("iv_user"),
    )
    out = asof_ops.range_join(ev, iv, "event_id", "lo", "hi", bucket_width=128)
    return out.select("event_id", "user_id", "lo", "iv_user")


def q_j6_asof_join(spark, sf):
    # J3 as-of join (union + watermark-window plan, operators.asof):
    # last purchase value at-or-before each event, per user.
    ev = _t(spark, sf, "events")
    left = ev.select("event_id", "user_id", "ts")
    right = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("ts"), F.col("value").alias("last_purchase_value")
    )
    out = asof_ops.asof_join(
        left, right, "user_id", "ts", "ts", ["last_purchase_value"]
    )
    return out.select("event_id", "user_id", "last_purchase_value")


def q_j4_similarity_topk(spark, sf):
    # J4 [ext]: exact cosine top-k neighbors (rank output; float values
    # deliberately excluded from the comparison surface).
    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 50)
    return sim_ops.brute_force_topk(q, emb, "embedding", "vec_id", k=5)


# --------------------------------------------------------------------------
# queries — aggregation / window / sort / set ops
# --------------------------------------------------------------------------

def q_a1_minmax_watermark(spark, sf):
    # A1 (cli.py:80-81,105-107): watermark min/max aggregation
    ev = _t(spark, sf, "events")
    return ev.agg(
        F.min("event_id").alias("earliest_block"),
        F.max("event_id").alias("latest_block"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_a3_pricing_summary(spark, sf):
    # A3 (TPC-H Q1 shape): grouped aggregates with exact decimal sums
    li = _t(spark, sf, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc))
            .cast("double")
            .alias("sum_disc_price"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_a4_rollup(spark, sf):
    # A4: rollup with subtotal rows
    c = _t(spark, sf, "customer")
    n = F.broadcast(_t(spark, sf, "nation"))
    r = F.broadcast(_t(spark, sf, "region"))
    joined = c.join(n, c["c_nationkey"] == n["n_nationkey"], "left").join(
        r, n["n_regionkey"] == r["r_regionkey"], "left"
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


def q_a4_cube(spark, sf):
    # A4: cube over two independent dimensions
    o = _t(spark, sf, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


def q_a6_distinct_agg(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.countDistinct("l_returnflag", "l_linestatus").alias("n_flag_status"),
    )


def q_w1_latest_version(spark, sf):
    # §2.5: latest-version-per-entity — THE versioned-entity query
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


def q_w2_lag_delta(spark, sf):
    # §2.5: analytic lag — version deltas
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        "user_id",
        "event_id",
        (F.col("value") - F.lag("value").over(w)).alias("value_delta"),
        F.lag("event_type").over(w).alias("prev_type"),
    )


def q_w3_running_sum(spark, sf):
    # §2.5: frame-based running aggregate (exact decimal accumulation)
    ev = _t(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(18,3)"))
        .over(w)
        .cast("double")
        .alias("running_value"),
        F.row_number().over(
            Window.partitionBy("user_id").orderBy("event_id")
        ).alias("seq"),
    )


def q_w6_rank_stats(spark, sf):
    # §2.5 ranking family: rank / dense_rank / percent_rank / cume_dist
    # (rank-derived ratios are exact rationals -> IEEE-identical)
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
    )


def q_f_date2(spark, sf):
    # §2.8 date arithmetic: datediff / date_add / truncation / dow
    o = _t(spark, sf, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.datediff(F.lit("1998-12-31").cast("date"), d).alias("days_to_eoy"),
        F.date_add(d, 90).cast("string").alias("due_date"),
        F.trunc(d, "month").cast("string").alias("month_start"),
        F.dayofweek(d).cast("int").alias("dow"),
        F.quarter(d).cast("int").alias("qtr"),
    )


def q_f_string2(spark, sf):
    # §2.8 extended string surface: pad / translate / position / reverse
    c = _t(spark, sf, "customer")
    name = F.col("c_name")
    return c.select(
        "c_custkey",
        F.lpad(name, 24, ".").alias("name_lpad"),
        F.translate(name, "#0", "_O").alias("name_translated"),
        F.instr(name, "#").cast("int").alias("hash_pos"),
        F.reverse(name).alias("name_rev"),
        F.repeat(F.substring(name, 1, 2), 3).alias("prefix_x3"),
        F.split(name, "#").getItem(0).alias("name_stem"),
    )


def q_o5_topk(spark, sf):
    # O5: top-k (TakeOrderedAndProject)
    o = _t(spark, sf, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def q_set_ops(spark, sf):
    # §2.7: intersect / except composition on data
    c = _t(spark, sf, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = _t(spark, sf, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    both = c.intersect(s).withColumn("which", F.lit("both"))
    only_c = c.subtract(s).withColumn("which", F.lit("customer_only"))
    return both.unionByName(only_c)


def q_a4_grouping_sets(spark, sf):
    # A4: explicit GROUPING SETS (Spark SQL surface)
    _t(spark, sf, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


def q_w4_analytics(spark, sf):
    # §2.5 analytic functions: lead / first / last / ntile
    ev = _t(spark, sf, "events")
    wo = Window.partitionBy("user_id").orderBy("event_id")
    wf = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "user_id",
        "event_id",
        F.lead("event_id").over(wo).alias("next_event_id"),
        F.first("event_id").over(wf).alias("first_event_id"),
        F.last("event_id").over(wf).alias("last_event_id"),
        F.ntile(4).over(wo).alias("quartile"),
    )


def q_w5_range_frame(spark, sf):
    # §2.5 RANGE frame: events within the last 100 block-ids per user
    ev = _t(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rangeBetween(-100, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_recent"),
        F.sum(F.col("value").cast("decimal(18,3)"))
        .over(w)
        .cast("double")
        .alias("sum_recent_value"),
    )


def q_set_ops_all(spark, sf):
    # §2.7 multiset variants: UNION ALL + EXCEPT ALL
    li = (
        _t(spark, sf, "lineitem")
        .filter(F.col("l_orderkey") < 500)
        .select(F.col("l_partkey").alias("key"))
    )
    pt = (
        _t(spark, sf, "part")
        .filter(F.col("p_size") > 40)
        .select(F.col("p_partkey").alias("key"))
    )
    return (
        li.exceptAll(pt)
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
    )


def q_f_math(spark, sf):
    # §2.8 math surface restricted to cross-engine-exact ops (IEEE sqrt,
    # abs/sign, integer mod, greatest/least, floor/ceil)
    li = _t(spark, sf, "lineitem").filter(F.col("l_linenumber") == 1)
    return li.select(
        "l_orderkey",
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.sqrt(F.col("l_quantity")).alias("qty_sqrt"),
        (F.col("l_orderkey") % 7).alias("okey_mod7"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
        F.ceil(F.col("l_extendedprice") / 1000).cast("bigint").alias("price_k_ceil"),
        F.signum(F.col("l_discount") - 0.05).cast("double").alias("disc_sign"),
    )


def q_f_conditional(spark, sf):
    # §2.8 conditional / null handling: CASE, coalesce, nullif, least-null
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 250000, "high")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("status_or_null"),
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open")
        ).alias("status_display"),
    )


def q_f_cast(spark, sf):
    # §2.8 cast matrix (string<->int, timestamp->date->string)
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("okey_str"),
        F.col("o_orderdate").cast("date").cast("string").alias("date_str"),
        F.col("o_totalprice").cast("int").alias("price_int"),
        F.concat(F.lit("k"), F.col("o_custkey").cast("string"))
        .alias("custkey_tag"),
    )


def q_a5_ngram_stats(spark, sf):
    # A5 [ext]: corpus-level bigram frequencies (explode + count), top 50
    d = _t(spark, sf, "documents")
    bigrams = d.select(
        F.explode(dedup_ops.word_shingles(F.col("text"), 2)).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), F.col("bigram").asc())
        .limit(50)
    )


def q_j7_state_asof(spark, sf):
    # the latent interval/point query of the reference's data model
    # (SURVEY §2.3): each event opens a per-user validity interval
    # [event_id, next_event_id); report the live version per user as of a
    # fixed block — built with lead() then contains-point filter.
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    versions = ev.select(
        "user_id",
        F.col("event_id").alias("block_start"),
        F.lead("event_id").over(w).alias("block_end"),
        "event_type",
        "value",
    )
    as_of = 5000
    return versions.filter(
        (F.col("block_start") <= as_of)
        & (F.col("block_end").isNull() | (F.col("block_end") > as_of))
    )


# --------------------------------------------------------------------------
# queries — scalar function surface (§2.8)
# --------------------------------------------------------------------------

def q_f_json(spark, sf):
    # JSON accessor on events.props
    ev = _t(spark, sf, "events")
    return ev.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("prop_k"),
    )


def q_f_string(spark, sf):
    c = _t(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.upper(F.col("c_mktsegment")).alias("segment_upper"),
        F.length(F.col("c_name")).alias("name_len"),
        F.substring(F.col("c_name"), 1, 8).alias("name_prefix"),
        F.regexp_extract(F.col("c_name"), r"(\d+)", 1).alias("name_digits"),
        F.concat_ws("|", F.col("c_mktsegment"), F.col("c_name")).alias("seg_name"),
    )


def q_f_date(spark, sf):
    o = _t(spark, sf, "orders")
    return (
        o.select(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.month("o_orderdate").cast("int").alias("order_month"),
        )
        .groupBy("order_year", "order_month")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_f_array(spark, sf):
    # array accessors on embeddings.embedding (exact element ops only)
    e = _t(spark, sf, "embeddings")
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("e_first"),
        F.element_at("embedding", 64).cast("double").alias("e_last"),
    )


def q_f_window_tumbling(spark, sf):
    # §2.9 [ext] batch formulation of the tumbling-window stream agg
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(
            F.window("ts", "10 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,3)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def q_a8_stats(spark, sf):
    # statistical aggregates computed ORDER-FREE: variance / stddev /
    # covariance / correlation derived from exact decimal sums (sum, sum
    # of squares, sum of products), so the results are bit-identical
    # across engines — Spark's native stddev/corr merge in partition
    # order and cannot be oracle-hashed.
    li = _t(spark, sf, "lineitem")
    q = F.col("l_quantity").cast("decimal(18,2)")
    p = F.col("l_extendedprice").cast("decimal(18,2)")
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).cast("double").alias("sq"),
        F.sum(p).cast("double").alias("sp"),
        F.sum((q * q).cast("decimal(38,4)")).cast("double").alias("sqq"),
        F.sum((p * p).cast("decimal(38,4)")).cast("double").alias("spp"),
        F.sum((q * p).cast("decimal(38,4)")).cast("double").alias("sqp"),
    )
    n = F.col("n").cast("double")
    var_q = (F.col("sqq") - F.col("sq") * F.col("sq") / n) / (n - 1)
    var_p = (F.col("spp") - F.col("sp") * F.col("sp") / n) / (n - 1)
    cov = (F.col("sqp") - F.col("sq") * F.col("sp") / n) / (n - 1)
    return g.select(
        "l_returnflag",
        n.alias("n"),
        (F.col("sq") / n).alias("mean_qty"),
        var_q.alias("var_qty"),
        F.sqrt(var_q).alias("stddev_qty"),
        cov.alias("cov_qty_price"),
        (cov / (F.sqrt(var_q) * F.sqrt(var_p))).alias("corr_qty_price"),
    )


def q_f_width_bucket(spark, sf):
    # equi-width histogram via width_bucket (integer output — exact)
    o = _t(spark, sf, "orders")
    return (
        o.select(
            F.width_bucket(F.col("o_totalprice"), F.lit(0.0), F.lit(400000.0), F.lit(20))
            .cast("int")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_f_in_subquery(spark, sf):
    # SQL surface: IN / NOT IN subqueries (Catalyst rewrites to semi/anti)
    _t(spark, sf, "orders").createOrReplaceTempView("orders_v")
    _t(spark, sf, "customer").createOrReplaceTempView("customer_v")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey FROM orders_v
        WHERE o_custkey IN (SELECT c_custkey FROM customer_v
                            WHERE c_acctbal > 9000)
          AND o_orderkey NOT IN (SELECT o_orderkey FROM orders_v
                                 WHERE o_orderstatus = 'F')
        """
    )


def q_f_scalar_subquery(spark, sf):
    # SQL surface: correlated scalar subquery (decorrelated to a join)
    _t(spark, sf, "customer").createOrReplaceTempView("customer_v")
    _t(spark, sf, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT c_custkey,
               (SELECT COUNT(*) FROM orders_v WHERE o_custkey = c_custkey)
                   AS n_orders
        FROM customer_v
        """
    )


def q_a7_pivot(spark, sf):
    # A4-adjacent: pivot (wide-format aggregation) with explicit value
    # list so the output schema is static
    ev = _t(spark, sf, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
    )


def q_f_collect(spark, sf):
    # collect_list with sort_array for determinism; the array travels as a
    # joined string — a scalar carrier the harness canonicalizer can sort
    # (raw array<long> output crashed its pandas sort in r01)
    e = _t(spark, sf, "embeddings")
    return e.groupBy("label").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("vec_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("vec_ids"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


def q_f_map(spark, sf):
    # §2.8 map surface: from_json -> map<string,int>, create_map +
    # map_concat enrichment, explode over entries, per-key aggregate
    ev = _t(spark, sf, "events")
    m = F.map_concat(
        F.from_json(F.col("props"), "map<string,int>"),
        F.create_map(
            F.lit("uid_mod"), (F.col("user_id") % 10).cast("int")
        ),
    )
    kv = ev.select(F.explode(m).alias("k", "v"))
    return kv.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v").cast("long").alias("sum_v"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


def _with_event_micros(ev, out_col="_us"):
    """Session-timezone-independent integer epoch micros of events.ts,
    for every fixture encoding (long nanos / NTZ / timestamp) — the
    shared derivation of the sessionize/resample/cohort queries."""
    ts_type = ev.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):  # nanosAsLong passthrough
        return ev.withColumn(
            out_col, F.floor(F.col("ts") / F.lit(1000)).cast("long")
        )
    if isinstance(ts_type, T.TimestampNTZType):
        from subgraph_extractor_spark.sources.readers import ntz_epoch_micros

        return ev.withColumn(out_col, ntz_epoch_micros(F.col("ts")))
    return ev.withColumn(out_col, F.unix_micros(F.col("ts")))


def q_w7_sessionize(spark, sf):
    # batch sessionization: 30-min inactivity gap starts a new session —
    # lag + conditional + running sum over one user-partitioned window
    # (the batch face of streaming session windows, §2.9).
    # Session boundaries hinge on the RAW integer micros of ts, derived
    # with session-timezone-independent expressions for every fixture
    # encoding (long nanos / NTZ / timestamp), so no driver-session
    # timezone or NTZ setting can move a boundary; the window also
    # orders by the integer, not the timestamp.
    ev = _with_event_micros(_t(spark, sf, "events"))
    w = Window.partitionBy("user_id").orderBy("_us", "event_id")
    us = F.col("_us")
    new_sess = F.when(
        us - F.lag(us).over(w) > 1_800_000_000, F.lit(1)
    ).otherwise(F.lit(0))
    sess = ev.withColumn(
        "session_id", F.sum(new_sess).over(w)
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
    )


def q_pipeline_stable_split(spark, sf):
    # deterministic train/valid/test assignment — the stable-split op a
    # training-data pipeline needs: bucket = first md5 byte of the id
    # (0..255, engine-independent), 80/10/10 by threshold.  Re-runs and
    # engine changes never move a document between splits.
    d = _t(spark, sf, "documents")
    hx = F.md5(F.col("doc_id").cast("string"))
    digits = "0123456789abcdef"
    b = (F.instr(F.lit(digits), F.substring(hx, 1, 1)) - 1) * 16 + (
        F.instr(F.lit(digits), F.substring(hx, 2, 1)) - 1
    )
    split = (
        F.when(b < 204, "train").when(b < 230, "valid").otherwise("test")
    )
    return d.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def q_a10_approx_distinct(spark, sf):
    # HLL sketch with a cross-engine error-bound contract: both engines
    # run their own HLL (different implementations — raw estimates are
    # not comparable), so the oracle-checkable output is the exact count
    # plus a boolean that the local sketch landed within 5% of it.
    li = _t(spark, sf, "lineitem")
    agg = li.agg(
        F.count_distinct(F.col("l_partkey")).alias("n_exact"),
        F.approx_count_distinct("l_partkey").alias("_approx"),
    )
    return agg.select(
        "n_exact",
        (
            F.abs(F.col("_approx") - F.col("n_exact"))
            <= 0.05 * F.col("n_exact")
        ).alias("approx_within_5pct"),
    )


def q_f_hash(spark, sf):
    # cryptographic hash surface (content addressing / dedup keys)
    c = _t(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.md5(F.col("c_name")).alias("name_md5"),
        F.sha2(F.col("c_name"), 256).alias("name_sha256"),
    )


def q_f_bitwise(spark, sf):
    # bitwise surface: and/or/xor/shifts (flag fields, bitmap filters)
    o = _t(spark, sf, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.col("o_custkey")).alias("key_and"),
        k.bitwiseOR(F.col("o_custkey")).alias("key_or"),
        k.bitwiseXOR(F.col("o_custkey")).alias("key_xor"),
        F.shiftleft(k % 1024, 2).alias("key_shl"),
        F.shiftright(k, 3).alias("key_shr"),
    )


def q_a9_percentiles(spark, sf):
    # exact interpolated percentiles per group (both engines implement the
    # standard lower + frac*(upper-lower) on the sorted values)
    o = _t(spark, sf, "orders")
    # r12 session 2 (guide §1.2): one percentile buffer per group for
    # both requested percentiles (array form) — bit-identical per-p
    # reads of the same sorted counts map.
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.percentile(
                F.col("o_totalprice"), F.array(F.lit(0.5), F.lit(0.9))
            ).alias("_ps"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            "o_orderstatus",
            F.col("_ps")[0].alias("median_price"),
            F.col("_ps")[1].alias("p90_price"),
            "n_orders",
        )
    )


def q_text_clean(spark, sf):
    # training-data text normalization: lowercase, control-char strip,
    # whitespace collapse, trim — pure codegen expressions both engines
    d = _t(spark, sf, "documents")
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[\\x00-\\x1f]+", " "),
            "\\s+",
            " ",
        )
    )
    return d.select(
        "doc_id",
        cleaned.alias("clean_text"),
        F.length(cleaned).alias("clean_len"),
    )


def q_pipeline_clean_corpus(spark, sf):
    # composed training-data prep pipeline: exact-dedup (keep lowest
    # doc_id per sha256) + token/punctuation quality gate — the
    # end-to-end shape a corpus-cleaning job takes, all Catalyst
    d = _t(spark, sf, "documents")
    n_tokens = F.when(F.trim(F.col("text")) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.col("text")), "\\s+"))
    )
    n_punct = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), "[.,;:!?]", "")
    )
    w = Window.partitionBy(F.sha2(F.col("text"), 256)).orderBy("doc_id")
    return (
        d.withColumn("n_tokens", n_tokens)
        .withColumn("punct_ratio", n_punct / F.greatest(F.length("text"), F.lit(1)))
        .withColumn("rn", F.row_number().over(w))
        .filter(
            (F.col("rn") == 1)
            & (F.col("n_tokens") >= 40)
            & (F.col("punct_ratio") <= 0.1)
        )
        .select("doc_id", "lang", "n_tokens")
    )


def q_f_udaf(spark, sf):
    # §2.10 UDAF surface: grouped-agg pandas UDF (Arrow-batched).  Exact
    # Python-int accumulation — order-free, hence oracle-hashable; the
    # string carrier survives any magnitude (DuckDB SUM(BIGINT) is
    # HUGEINT-exact on its side).
    from pyspark.sql.functions import pandas_udf

    li = _t(spark, sf, "lineitem")

    @pandas_udf("string")
    def int_sum_str(v: pd.Series) -> str:
        return str(sum(int(x) for x in v))

    @pandas_udf("long")
    def n_vals(v: pd.Series) -> int:
        # grouped-agg UDFs cannot mix with built-in aggregates in one agg
        return int(len(v))

    return (
        li.withColumn(
            "cents", F.floor(F.col("l_extendedprice") * 100).cast("long")
        )
        .groupBy("l_returnflag")
        .agg(
            int_sum_str("cents").alias("sum_cents"),
            n_vals("cents").alias("n_rows"),
        )
    )


def q_f_udtf(spark, sf):
    # §2.10 UDTF surface: Python UDTF applied per-row via LATERAL —
    # tokenizer emitting (word, position) rows
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, pos: int")
    class SplitWords:
        def eval(self, text: str):
            for i, w in enumerate((text or "").split()):
                yield w, i

    spark.udtf.register("split_words", SplitWords)
    d = _t(spark, sf, "documents")
    d.filter(F.trim(F.col("text")) != "").createOrReplaceTempView(
        "docs_udtf_v"
    )
    return spark.sql(
        "SELECT doc_id, s.word, s.pos "
        "FROM docs_udtf_v, LATERAL split_words(text) AS s"
    )


def q_skew_salted_agg(spark, sf):
    # skew-proof two-stage aggregation (operators.skew): identical result
    # to the plain GROUP BY — that identity IS the oracle; the fixture's
    # 3-value l_returnflag is exactly the hot-key shape that needs it.
    from subgraph_extractor_spark.operators.skew import salted_agg

    li = _t(spark, sf, "lineitem").withColumn(
        "qd", F.col("l_quantity").cast("decimal(18,2)")
    )
    out = salted_agg(
        li,
        ["l_returnflag"],
        {"sum_qty": ("qd", "sum"), "n_rows": ("qd", "count")},
        salt_src="l_orderkey",
        n_salts=16,
    )
    return out.select(
        "l_returnflag",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        "n_rows",
    )


def q_tpch_q3_shape(spark, sf):
    # multi-join + grouped agg + top-k (TPC-H Q3 shape): shipping
    # priority.  Broadcast the filtered customer dim; decimal-exact sums.
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select(
            "l_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias("orderdate"),
            "o_orderpriority",
            "revenue",
        )
    )


def q_tpch_q5_shape(spark, sf):
    # 6-way join (TPC-H Q5 shape): revenue by nation within one region,
    # suppliers and customers co-located.  Dims broadcast; the fact-side
    # joins shuffle on their keys.
    r = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf, "nation")
    s = _t(spark, sf, "supplier")
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .filter(c["c_nationkey"] == s["s_nationkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(
            F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def q_tpch_q4_shape(spark, sf):
    # EXISTS semi-join + grouped count (TPC-H Q4 shape): order-priority
    # checking.  LeftSemi keeps the orders scan single-pass — the
    # lineitem side is consumed by the join, never widened onto the
    # output, and the grouped count runs partial+final.  At 100 TB the
    # semi-join shuffles both sides once on l_orderkey/o_orderkey; no
    # distinct materialization of the probe side is ever needed.
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > "1996-02-01")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_tpch_q13_shape(spark, sf):
    # Outer-join count distribution (TPC-H Q13 shape): how many
    # customers placed exactly k non-urgent orders, including k = 0 —
    # the LEFT join keeps order-less customers and count(o_orderkey)
    # ignores the null rows.  Two-level aggregation: the first groups on
    # the join key (reusing the join's hash partitioning — AQE plans no
    # second exchange), the second is a tiny re-agg on the count value.
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


def q_tpch_q16_shape(spark, sf):
    # Distinct-pair + anti-join + count-distinct (TPC-H Q16 shape):
    # supplier diversity per part attribute, excluding flagged
    # suppliers.  The (partkey, suppkey) distinct collapses the fact
    # table BEFORE any join (map-side partial distinct), the flagged
    # supplier list is a broadcast anti-join, the part dim is broadcast,
    # and countDistinct runs on the already-distinct pairs — at scale
    # the only wide exchange is the initial pair distinct.
    pairs = (
        _t(spark, sf, "lineitem").select("l_partkey", "l_suppkey").distinct()
    )
    flagged = (
        _t(spark, sf, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    p = _t(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_size") <= 20)
    )
    return (
        pairs.join(
            F.broadcast(flagged),
            pairs["l_suppkey"] == flagged["s_suppkey"],
            "left_anti",
        )
        .join(F.broadcast(p), pairs["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q_tpch_q18_shape(spark, sf):
    # Large-volume orders (TPC-H Q18 shape): HAVING-filtered aggregation
    # joined back to the fact and dim tables.  The grouped sum runs
    # partial+final on the lineitem shuffle; the filtered aggregate
    # (2-3k rows from 15k orders at sf0.01) joins orders on the SAME
    # key, and the customer dim broadcasts.  Quantities sum as
    # decimal(18,2) — double accumulation is order-dependent across
    # partitions and would flip the HAVING boundary cross-engine.
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("_sq"))
        .filter(F.col("_sq") > F.lit(150).cast("decimal(18,2)"))
    )
    return (
        o.join(big, o["o_orderkey"] == big["l_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "o_orderkey",
            "o_totalprice",
            F.col("_sq").cast("double").alias("sum_qty"),
        )
    )


def q_tpch_q20_shape(spark, sf):
    # Nested semi-join chain (TPC-H Q20 shape): suppliers who shipped a
    # large volume of some part in 1996, by nation.  The inner
    # aggregation collapses lineitem to (supp, part) volume BEFORE any
    # join; the supplier probe is a LeftSemi (suppliers are never
    # duplicated per qualifying part), and the nation dim broadcasts.
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    big = (
        li.groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(qty).alias("_sq"))
        .filter(F.col("_sq") > F.lit(60).cast("decimal(18,2)"))
    )
    return (
        s.join(big, s["s_suppkey"] == big["l_suppkey"], "left_semi")
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select("s_name", "n_name")
    )


def q_f_null_semantics(spark, sf):
    # Null semantics surface: NULL group keys collapse into one group,
    # COUNT(*) vs COUNT(col) differ by the null rows, and null-safe
    # equality (<=> / IS NOT DISTINCT FROM) treats NULL as a comparable
    # value — three semantics a cross-engine gate must pin down exactly.
    c = _t(spark, sf, "customer")
    seg = F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(
        F.col("c_mktsegment")
    )
    return (
        c.select(seg.alias("seg"))
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("seg").alias("n_nonnull"),
            F.sum(F.expr("seg <=> 'BUILDING'").cast("long")).alias(
                "n_nullsafe_building"
            ),
        )
    )


def q_j8_asof_nearest(spark, sf):
    # nearest-direction as-of join (operators/asof.py, the third
    # merge_asof direction): each view event gets the temporally CLOSEST
    # purchase of the same user, ties to the earlier side.  The right
    # side is pre-collapsed to one row per (user, ts) so the match is
    # deterministic; the oracle mirrors with an ORDER BY
    # (abs distance, ts) LIMIT 1 correlated subquery.
    ev = _t(spark, sf, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("purchase_id"))
        .select("user_id", F.col("ts").alias("p_ts"), "purchase_id")
    )
    return asof_ops.asof_join(
        views,
        purchases,
        "user_id",
        "ts",
        "p_ts",
        ["purchase_id"],
        direction="nearest",
    ).select("user_id", "event_id", "purchase_id")


def q_tpch_q7_shape(spark, sf):
    # Volume shipping between two nations (TPC-H Q7 shape): the nation
    # pair filter is an OR of two orientations, evaluated AFTER both
    # broadcast dim joins; revenue groups by (supp nation, cust nation,
    # year).  Decimal-exact revenue; year from a codegen date function.
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def q_tpch_q6_shape(spark, sf):
    # Forecasting-revenue-change (TPC-H Q6 shape): a pure scan-side
    # aggregate — every predicate (ship year, discount band, quantity
    # cap) is pushable, so at 100 TB this is a map-only parquet scan
    # with row-group min/max pruning and a single partial+final agg of
    # two numbers.  The discount band compares in DECIMAL(3,2): the
    # stored doubles are near-hundredths and a half-up round to two
    # places is unambiguous, where a raw double BETWEEN would make the
    # selection hinge on the engines' float literal parsing.
    li = _t(spark, sf, "lineitem")
    disc2 = F.col("l_discount").cast("decimal(3,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (disc2 >= F.lit("0.05").cast("decimal(3,2)"))
            & (disc2 <= F.lit("0.07").cast("decimal(3,2)"))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(price * disc2.cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_tpch_q10_shape(spark, sf):
    # Returned-item reporting (TPC-H Q10 shape): revenue lost to
    # returns per customer over one quarter, top 20.  The quarter
    # filter prunes orders at the scan; the returnflag filter prunes
    # lineitem; the customer join shuffles on the key while the
    # 25-row nation dim broadcasts.  Total order on revenue then key
    # makes the LIMIT deterministic.
    li = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def q_tpch_q14_shape(spark, sf):
    # Promotion-effect ratio (TPC-H Q14 shape): one month of lineitem
    # joined to the part dim, conditional revenue over total revenue.
    # Both sums are decimal-exact (order-free) and the single division
    # happens once, in DOUBLE, on the two exact totals — so the ratio
    # is bit-identical across engines.  part broadcasts; lineitem's
    # month filter is scan-pushed.
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    p = _t(spark, sf, "part")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    rev = price * (F.lit(1).cast("decimal(18,2)") - disc)
    agg = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(
                F.lit(0).cast("decimal(18,2)")
            )).alias("_promo"),
            F.sum(rev).alias("_total"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    return agg.select(
        (
            F.lit(100.0) * F.col("_promo").cast("double")
            / F.col("_total").cast("double")
        ).alias("promo_revenue_pct"),
        "n_rows",
    )


def q_tpch_q15_shape(spark, sf):
    # Top-supplier (TPC-H Q15 shape): per-supplier quarterly revenue,
    # return the supplier(s) achieving the global maximum.  The revenue
    # agg shuffles once on l_suppkey; the global max is an empty-key
    # window over the (tiny, supplier-cardinality) aggregate — no
    # second pass over the fact table and no driver round-trip.  Ties
    # all surface (same as the reference SQL's = MAX(...) subquery).
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    s = _t(spark, sf, "supplier")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc))
            .alias("_rev")
        )
    )
    w = Window.partitionBy()
    top = (
        rev.withColumn("_max", F.max("_rev").over(w))
        .filter(F.col("_rev") == F.col("_max"))
    )
    return (
        top.join(F.broadcast(s), top["l_suppkey"] == s["s_suppkey"])
        .select(
            "s_suppkey",
            "s_name",
            F.col("_rev").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def q_tpch_q17_shape(spark, sf):
    # Small-quantity-order revenue (TPC-H Q17 shape): for one brand's
    # small parts, revenue from orders below 20% of that part's average
    # quantity.  The correlated AVG subquery becomes a per-part
    # aggregate joined back to the same scan — both sides shuffle once
    # on partkey (AQE reuses the partitioning for the join), and the
    # tiny filtered part dim broadcasts into both.  The 20%-of-average
    # threshold is evaluated multiplicatively in DECIMAL
    # (5·qty·count < sum ⟺ qty < 0.2·avg), so no engine ever divides —
    # boundary rows cannot flip on float division order.
    p = _t(spark, sf, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_size") < 5)
    ).select("p_partkey")
    li = _t(spark, sf, "lineitem").join(
        F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")
    )
    # quantities in integer hundredths (ROUND first: 0.35*100 is
    # 34.99999... in IEEE and Spark's double->long cast truncates while
    # DuckDB's rounds — ROUND makes both engines land on the integer)
    qcents = F.round(F.col("l_quantity") * 100, 0).cast("long")
    per_part = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum(qcents).alias("_qty_sum"),
        F.count(F.lit(1)).alias("_qty_cnt"),
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    small = (
        li.join(per_part, F.col("l_partkey") == F.col("_pk"))
        .filter(qcents * 5 * F.col("_qty_cnt") < F.col("_qty_sum"))
    )
    return small.agg(
        (F.sum(price).cast("double") / F.lit(7.0)).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_tpch_q19_shape(spark, sf):
    # Discounted-revenue with disjunctive predicates (TPC-H Q19 shape):
    # three OR'd (brand, size-band, quantity-band) branches evaluated
    # after the part join.  Catalyst extracts the common
    # quantity/size envelope... in practice the value here is that the
    # OR-of-ANDs stays a codegen filter on the joined stream — one
    # broadcast join, one pass, no union of three scans (the naive
    # translation would read lineitem three times).
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    qty = F.col("l_quantity")
    branch1 = (
        (F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 5))
        & (qty >= 1) & (qty <= 11)
    )
    branch2 = (
        (F.col("p_brand") == "Brand#2") & (F.col("p_size").between(1, 10))
        & (qty >= 10) & (qty <= 20)
    )
    branch3 = (
        (F.col("p_brand") == "Brand#3") & (F.col("p_size").between(1, 15))
        & (qty >= 20) & (qty <= 30)
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(branch1 | branch2 | branch3)
        .agg(
            F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_tpch_q22_shape(spark, sf):
    # Global-sales-opportunity (TPC-H Q22 shape): positive-balance
    # customers from a nation subset who are above the subset's average
    # balance and have no URGENT order (this corpus gives every
    # customer at least one order, so the anti-join side is the
    # priority-filtered subset to keep the result non-trivial).  The
    # scalar AVG subquery becomes a tiny global aggregate broadcast
    # into the filter; the NOT EXISTS becomes a left-anti join on the
    # order side; the above-average test multiplies through by the
    # count (bal·cnt > sum, integer cents) so no float division is
    # compared.  At 100 TB: customer shuffles once for the anti-join,
    # orders is consumed key-only.
    c = _t(spark, sf, "customer").filter(
        F.col("c_nationkey").isin(1, 3, 5, 7, 9, 11)
        & (F.col("c_acctbal") > 0.0)
    )
    bcents = F.round(F.col("c_acctbal") * 100, 0).cast("long")
    stats = c.agg(
        F.sum(bcents).alias("_bal_sum"), F.count(F.lit(1)).alias("_bal_cnt")
    )
    o = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    rich = (
        c.crossJoin(F.broadcast(stats))
        .filter(bcents * F.col("_bal_cnt") > F.col("_bal_sum"))
    )
    return (
        rich.join(o, rich["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            (F.sum(bcents).cast("double") / F.lit(100.0)).alias(
                "total_acctbal"
            ),
        )
        .orderBy("c_nationkey")
    )


def q_tpch_q8_shape(spark, sf):
    # National-market-share (TPC-H Q8 shape): of the ECONOMY-part
    # revenue sold to EUROPE customers in 1996-97, what fraction came
    # from NATION_5 suppliers, per year.  Two decimal-exact conditional
    # sums per year and ONE double division on the exact totals — the
    # classic ratio-of-aggregates kept bit-portable.  All three dims
    # (part filtered, nation, region) broadcast; the two fact joins
    # shuffle on their keys.
    p = _t(spark, sf, "part").filter(F.col("p_type") == "ECONOMY")
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    c = _t(spark, sf, "customer")
    s = _t(spark, sf, "supplier")
    n_c = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    n_s = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    r = _t(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    rev = price * (F.lit(1).cast("decimal(18,2)") - disc)
    agg = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n_c), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == r["r_regionkey"])
        .join(F.broadcast(n_s), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_5", rev).otherwise(
                    F.lit(0).cast("decimal(18,2)")
                )
            ).alias("_nat"),
            F.sum(rev).alias("_all"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    return agg.select(
        "o_year",
        (F.col("_nat").cast("double") / F.col("_all").cast("double")).alias(
            "mkt_share"
        ),
        "n_rows",
    ).orderBy("o_year")


def q_tpch_q9_shape(spark, sf):
    # Product-type-profit (TPC-H Q9 shape): profit on parts whose name
    # contains 'widget', grouped by supplier nation and year.  The
    # reference's ps_supplycost has no table here, so unit cost is
    # proxied by p_retailprice — the shape (LIKE-filtered part dim
    # broadcast into the fact, profit = revenue − cost·qty as an exact
    # decimal expression, nation broadcast, two-key group) is what's
    # under test.  At 100 TB the name filter prunes the broadcast dim
    # to a sliver, so the fact scan joins against a small hash table.
    p = _t(spark, sf, "part").filter(F.col("p_name").contains("widget"))
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    cost = F.col("p_retailprice").cast("decimal(18,2)") * F.col(
        "l_quantity"
    ).cast("decimal(18,2)")
    profit = price * (F.lit(1).cast("decimal(18,2)") - disc) - cost
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            F.sum(profit).cast("double").alias("sum_profit"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_text_bigram_lm(spark, sf):
    # trained bigram language model over the even-doc reference corpus
    # (the training half of the CCNet-style perplexity-filter stage):
    # adjacent-pair wordcount, map-side combined, hapax-ish tail pruned
    # at min_count=3 — the full (w1, w2, cnt) model table is the query
    # output, hash-checked bit-exactly against a DuckDB recomputation.
    d = _t(spark, sf, "documents")
    return lm_ops.bigram_counts(
        d.filter(F.col("doc_id") % 2 == 0), "text", min_count=3
    )


def q_quality_lm_novelty(spark, sf):
    # the scoring half: held-out odd docs scored against the even-doc
    # reference bigram model (CCNet trains on Wikipedia, scores crawl).
    # Integer evidence only — occurrences, reference hits, an exact
    # integer-arithmetic gate boolean — so the whole novelty gate is
    # bit-exactly oracle-checked (the float perplexity face is
    # score_log_prob, python-replica-tested in tests/test_lm.py).
    d = _t(spark, sf, "documents")
    ref = lm_ops.bigram_counts(
        d.filter(F.col("doc_id") % 2 == 0), "text", min_count=2
    )
    return lm_ops.score_novelty(
        d.filter(F.col("doc_id") % 2 == 1), "doc_id", "text", ref
    )


def q_quality_linear_score(spark, sf):
    # Broadcast linear-model scoring (fastText-style linear layer over
    # hand features): score = w · x computed entirely in whole-stage
    # codegen — the "model" is a handful of literal weights folded into
    # the expression tree, so scoring 100 TB is a map-only scan with
    # zero shuffle and zero Python.  Features are deterministic integer
    # counts and IEEE-double ratios; the dot product is evaluated in a
    # fixed association order so DuckDB reproduces it bit-exactly
    # (no transcendental functions — a sigmoid would not be portable).
    d = _t(spark, sf, "documents")
    stripped = F.regexp_replace(F.col("text"), r"\s+", "")
    # empty/all-whitespace docs would divide 0/0: Spark yields NaN
    # (and NaN > 8.0 is TRUE under Spark's NaN-greatest ordering) while
    # DuckDB division by zero yields NULL — exclude them on BOTH sides
    # so the contract is well-defined for any corpus, not just this one
    d = d.filter(F.length(stripped) > 0)
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    n_chars = F.length(stripped)
    n_punct = n_chars - F.length(
        F.regexp_replace(stripped, r"[!-/:-@\[-`{-~]", "")
    )
    n_digit = n_chars - F.length(F.regexp_replace(stripped, r"[0-9]", ""))
    feats = d.select(
        "doc_id",
        n_tokens.cast("double").alias("x_tokens"),
        (n_chars.cast("double") / n_tokens.cast("double")).alias("x_awl"),
        (n_punct.cast("double") / n_chars.cast("double")).alias("x_punct"),
        (n_digit.cast("double") / n_chars.cast("double")).alias("x_digit"),
    )
    score = (
        F.lit(0.05) * F.col("x_tokens")
        + F.lit(0.8) * F.col("x_awl")
        + F.lit(-12.0) * F.col("x_punct")
        + F.lit(-8.0) * F.col("x_digit")
    )
    return feats.select(
        "doc_id",
        score.alias("quality_score"),
        (score > F.lit(8.0)).alias("keep"),
    )


def q_f_vector_quantize(spark, sf):
    # symmetric per-vector int8 quantization (similarity.py:
    # quantize_embeddings) — 4x embedding storage reduction as a
    # map-only codegen scan; the full quantized vectors are
    # hash-checked via a string carrier (round-half-up via
    # floor(x+0.5): deterministic in both engines, unlike round()'s
    # half-even ties).
    emb = _t(spark, sf, "embeddings")
    q = sim_ops.quantize_embeddings(emb, "embedding", "vec_id")
    return q.select(
        "vec_id",
        "scale",
        F.size("qvec").alias("n_dims"),
        F.concat_ws(
            ",", F.transform("qvec", lambda e: e.cast("string"))
        ).alias("q_str"),
    )


def q_sim_topk_quantized(spark, sf):
    # end-to-end quantized search: both sides of the sharded-matmul
    # top-k run on int8-quantized-then-dequantized vectors (the 4x-
    # compressed corpus a 100 TB deployment would actually search), and
    # the recall contract bounds what quantization error may cost
    # against the exact float baseline (computed in-query).  The
    # quantize -> dequantize pass stays in codegen; the search reuses
    # the sharded cogroup matmul unchanged.
    emb = _t(spark, sf, "embeddings")
    deq = sim_ops.dequantize_embeddings(
        sim_ops.quantize_embeddings(emb, "embedding", "vec_id")
    )
    ann = sim_ops.topk_matmul(deq, deq, "embedding", "vec_id", k=5)
    return _ann_recall_contract(emb, ann, 0.90)


def q_a12_hll_incremental(spark, sf):
    # incremental distinct counting via mergeable HLL sketch state
    # (operators/sketches.py): the corpus half and the "new batch" half
    # are sketched INDEPENDENTLY, union-merged at sketch level
    # (kilobytes per group — the history is never reshuffled), and the
    # merged estimate is contracted against the exact distinct count
    # (a10-style error bound; lgK=12 -> ~1.6% RSE, bound 5%).
    from subgraph_extractor_spark.operators import sketches as sk_ops

    ev = _t(spark, sf, "events")
    old = ev.filter(F.col("event_id") % 2 == 0)
    new = ev.filter(F.col("event_id") % 2 == 1)
    merged = sk_ops.merge_sketch_tables(
        sk_ops.distinct_sketches(old, ["event_type"], "user_id").unionByName(
            sk_ops.distinct_sketches(new, ["event_type"], "user_id")
        ),
        ["event_type"],
    )
    est = sk_ops.estimate_distinct(merged, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return exact.join(est, "event_type").select(
        "event_type",
        "n_exact",
        (
            F.abs(
                F.col("n_distinct_est").cast("double")
                - F.col("n_exact").cast("double")
            )
            <= F.lit(0.05) * F.col("n_exact").cast("double")
        ).alias("within_5pct"),
    )


# BPE-ish pretokenizer patterns, restricted to the Java-regex ∩ RE2
# common subset: letter runs, digit runs, non-alnum-non-whitespace runs,
# with the whitespace class written EXPLICITLY ([ \t\n\r\f]) because
# Java \s includes \x0b and RE2 \s does not.  Module-level so the query,
# the oracle SQL, and the adversarial cross-engine test all consume the
# SAME strings — an edit here is covered everywhere.
BPE_PATTERNS = {
    "n_bpe_tokens": r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f]+",
    "n_word_runs": r"[A-Za-z]+",
    "n_digit_runs": r"[0-9]+",
    "n_other_runs": r"[^A-Za-z0-9 \t\n\r\f]+",
}


def bpe_count_cols():
    """(alias, Column) pairs counting each BPE_PATTERNS class — pure
    codegen (regexp_extract_all + size): a map-only scan at any size."""
    return [
        (
            name,
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))
            ).cast("bigint"),
        )
        for name, pat in BPE_PATTERNS.items()
    ]


def q_text_bpe_tokens(spark, sf):
    # BPE-ish regex token counting (the driver-mandate wording:
    # "token counting (whitespace + a BPE-ish regex)") — a GPT-2-style
    # pretokenizer; patterns and rationale at BPE_PATTERNS above.
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id", *(col.alias(name) for name, col in bpe_count_cols())
    )


def q_text_token_df(spark, sf):
    # corpus-statistics feedback scoring (two-pass: per-token document
    # frequency aggregated from the corpus, joined back per doc) —
    # operators/text_analysis.py:token_df_scores
    d = _t(spark, sf, "documents")
    return ta.token_df_scores(d, "text", "doc_id")


# --------------------------------------------------------------------------
# queries — [ext] LLM-data-pipeline operators
# --------------------------------------------------------------------------

def q_dedup_exact(spark, sf):
    d = _t(spark, sf, "documents")
    return dedup_ops.exact_dedup_by_hash(d, "text", "doc_id")


def q_dedup_minhash(spark, sf):
    # MinHash-LSH near-dup (no SQL oracle: LSH banding; verified in
    # tests/test_dedup.py against brute-force Jaccard ground truth)
    d = _t(spark, sf, "documents")
    return dedup_ops.minhash_dedup_pairs(d, "text", "doc_id", threshold=0.5)


def q_dedup_simhash(spark, sf):
    # SimHash near-dup (no SQL oracle; property-tested; the portable
    # twin below is the hash-checked face of the same banding pipeline)
    d = _t(spark, sf, "documents")
    return dedup_ops.simhash_dedup_pairs(d, "text", "doc_id", max_distance=3)


def q_dedup_simhash_portable(spark, sf):
    # SimHash banding under a FULL-VALUE cross-engine check (the
    # winnowing md5_number_lower idiom applied to SimHash): the portable
    # 63-bit md5 signature is recomputable in pure SQL, and pigeonhole
    # banding (4 bands, hamming <= 3) is COMPLETE, so the oracle's
    # brute-force all-pairs hamming join must reproduce every (id_a,
    # id_b, hamming) row bit-exactly — a stronger statement than a
    # recall contract: it certifies signature parity AND candidate
    # completeness of the banded plan in one driver hash.
    d = _t(spark, sf, "documents").filter(F.trim(F.col("text")) != "")
    return dedup_ops.simhash_dedup_pairs_portable(
        d, "text", "doc_id", max_distance=3
    ).select("id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming"))


def q_text_html_extract(spark, sf):
    # HTML -> main-text boilerplate extraction (operators/html.py — the
    # first stage of the crawl-to-corpus chain, r9 verdict task #6):
    # each fixture document is wrapped in a deterministically-messy
    # crawl page — head/style junk, a nav link bar, the escaped body
    # text in a content div, a link-farm "Related/More" div (pure
    # anchor text -> dropped by the link-density rule, NOT by a
    # container rule), an aside and a footer both derived from doc_id —
    # and the extractor must recover exactly the original text
    # (whitespace-collapsed).  The oracle does NOT run a second parser
    # (the url_canonical_dedup discipline): it derives the EXPECTED
    # extraction directly from the synthesis parameters — escape then
    # entity-decode is the identity, boilerplate contributes nothing —
    # so a shared parsing misunderstanding cannot cancel out.
    from subgraph_extractor_spark.operators import html as html_ops

    d = _t(spark, sf, "documents")
    esc = html_ops.html_escape_expr(F.coalesce(F.col("text"), F.lit("")))
    g = (F.col("doc_id") % 7).cast("string")
    page = F.concat(
        F.lit(
            "<html><head><title>page</title><style>p{margin:0}</style>"
            "<script>var nav = \"<p>fake</p>\";</script></head><body>"
            "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> "
            "<a href=\"/sec/"
        ),
        g,
        F.lit("\">Section</a></nav><div class=\"content\"><p>"),
        esc,
        F.lit(
            "</p></div><div><a href=\"/rel\">Related</a> "
            "<a href=\"/more\">More stories</a></div><aside>ad block "
        ),
        g,
        F.lit("</aside><footer>&copy; site "),
        g,
        F.lit("</footer></body></html>"),
    )
    # one extraction record per page: main text, the outlink list
    # (html.extract_links — the crawl-frontier face) AND the
    # (href=anchor) pairs (html.extract_anchor_texts — the inlink
    # ranking signal), everything a real crawl pipeline emits in one
    # pass.  '|'-joined so the driver hash covers order + multiplicity.
    wrapped = d.select("doc_id", page.alias("_html"))
    out = html_ops.extract_anchor_texts(
        html_ops.extract_links(
            html_ops.extract_main_text(wrapped, "_html"), "_html"
        ),
        "_html",
    )
    return out.select(
        "doc_id",
        "main_text",
        F.concat_ws("|", F.col("hrefs")).alias("links"),
        F.concat_ws(
            "|",
            F.transform(
                "anchors",
                lambda a: F.concat(a["href"], F.lit("="), a["anchor"]),
            ),
        ).alias("anchors"),
    )


def q_emb_neardup_portable(spark, sf):
    # Embedding-cosine near-dup in EXACT INTEGER arithmetic end to end
    # (r10: the last dedup family without a bit-exact face gets one):
    # quantize floor(v*2^10), candidates share >= 1 sign-LSH band over
    # the seeded integer hyperplanes, and the cosine >= 2/5 threshold
    # verifies as the pure integer predicate dot >= 0 AND 25*dot^2 >=
    # 4*|a|^2*|b|^2 — no division, no sqrt (libm would break the
    # replay).  DuckDB recomputes every (id_a, id_b, qdot) row
    # bit-exactly.  The float production face keeps its emb_neardup
    # recall contract.
    emb = _t(spark, sf, "embeddings")
    return dedup_ops.embedding_neardup_pairs_portable(
        emb, "embedding", "vec_id", threshold_num=2, threshold_den=5
    )


def _emb_neardup_pair_ctes(
    dim: int = 64,
    bits: int = 32,
    bands: int = 4,
    seed: int = 29,
    scale_bits: int = 10,
    num: int = 2,
    den: int = 5,
) -> str:
    """The CTE chain (w .. dots .. pairs) shared by the
    emb_neardup_portable oracle and the semdedup_portable composition:
    integer hyperplane literals, floor quantization, banded candidates,
    the division-free integer cosine-threshold predicate."""
    from subgraph_extractor_spark.operators.similarity import int_lsh_planes

    planes = int_lsh_planes(dim, bits, seed)
    rows = bits // bands
    scale = float(1 << scale_bits)
    wvals = ",".join(
        f"({b},{j + 1},{planes[b][j]})"
        for b in range(bits)
        for j in range(dim)
    )
    return f"""w(bit, j, wt) AS (VALUES {wvals}),
    qv AS (
      SELECT vec_id, j,
             CAST(floor(CAST(comp AS DOUBLE) * {scale}) AS BIGINT) AS q
      FROM (SELECT vec_id, unnest(embedding) AS comp,
                   generate_subscripts(embedding, 1) AS j
            FROM embeddings)
    ),
    norms AS (
      SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS n2
      FROM qv GROUP BY vec_id
    ),
    bits_t AS (
      SELECT qv.vec_id, w.bit,
             CASE WHEN SUM(w.wt * qv.q) >= 0 THEN 1 ELSE 0 END AS b
      FROM qv JOIN w ON w.j = qv.j
      GROUP BY qv.vec_id, w.bit
    ),
    sig AS (
      -- mirror of the kernel's n2 > 0 pre-band filter: zero-quantized
      -- vectors (undefined cosine) never band, so they can't all
      -- collide on the all-ones signature and slip the 0 >= 0
      -- degenerate threshold
      SELECT vec_id, bit // {rows} AS band,
             CAST(SUM(b * (1 << (bit % {rows}))) AS BIGINT) AS val
      FROM bits_t
      WHERE vec_id IN (SELECT vec_id FROM norms WHERE n2 > 0)
      GROUP BY vec_id, bit // {rows}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b
        ON a.band = b.band AND a.val = b.val AND a.vec_id < b.vec_id
    ),
    dots AS (
      SELECT c.id_a, c.id_b, CAST(SUM(qa.q * qb.q) AS BIGINT) AS qdot
      FROM cand c
      JOIN qv qa ON qa.vec_id = c.id_a
      JOIN qv qb ON qb.vec_id = c.id_b AND qb.j = qa.j
      GROUP BY c.id_a, c.id_b
    ),
    pairs AS (
      SELECT d.id_a, d.id_b, d.qdot
      FROM dots d
      JOIN norms na ON na.vec_id = d.id_a
      JOIN norms nb ON nb.vec_id = d.id_b
      WHERE d.qdot >= 0
        AND {den * den} * d.qdot * d.qdot >= {num * num} * na.n2 * nb.n2
    )"""


def _emb_neardup_portable_sql(**kw) -> str:
    """DuckDB replay of embedding_neardup_pairs_portable — the shared
    pair CTEs with a plain final select."""
    return (
        "WITH "
        + _emb_neardup_pair_ctes(**kw)
        + "\n    SELECT id_a, id_b, qdot FROM pairs"
    )


def _semdedup_portable_sql(**kw) -> str:
    """DuckDB replay of semdedup over the PORTABLE integer-cosine
    pairs: the shared pair CTEs feed the recursive-CTE reachability +
    min-id survivor machinery of the pipeline_semdedup oracle — the
    scale-path SemDeDup (banded candidates, not all-pairs) certified
    end to end in one hash."""
    return (
        "WITH RECURSIVE "
        + _emb_neardup_pair_ctes(**kw)
        + """,
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION ALL
        SELECT id_b AS a, id_a AS b FROM pairs
    ),
    reach(id, lbl) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, reach.lbl FROM edges e JOIN reach ON e.b = reach.id
    ),
    members AS (
        SELECT id AS member_id, MIN(lbl) AS cluster_id
        FROM reach GROUP BY id
    ),
    reps AS (
        SELECT cluster_id, MIN(member_id) AS rep_id
        FROM members GROUP BY cluster_id
    ),
    losers AS (
        SELECT m.member_id
        FROM members m JOIN reps r USING (cluster_id)
        WHERE m.member_id <> r.rep_id
    )
    SELECT e.vec_id, e.label FROM embeddings e
    WHERE e.vec_id NOT IN (SELECT member_id FROM losers)
    """
    )


def q_semdedup_portable(spark, sf):
    # SemDeDup on the SCALE path, fully oracled (r10): the banded
    # integer-cosine pairs (emb_neardup_portable — sub-quadratic
    # candidates, division-free threshold) feed the cluster/survivor
    # stages, and the oracle replays pairs AND reachability AND the
    # min-id survivor rule in one recursive-CTE query — the end-to-end
    # certification semdedup_approx (float LSH candidates) can't have;
    # that face keeps its per-component contracts.
    emb = _t(spark, sf, "embeddings")
    pairs = dedup_ops.embedding_neardup_pairs_portable(
        emb, "embedding", "vec_id", threshold_num=2, threshold_den=5
    ).select("id_a", "id_b")
    out = semdedup_ops.semantic_dedup(emb, pairs, "vec_id")
    return out.select("vec_id", "label")


def q_url_robots_filter(spark, sf):
    # RFC 9309 longest-match robots filtering (urls.robots_filter —
    # the politeness gate in front of the crawl chain): synthesized
    # URLs http://h{doc_id%5}.com/p/{doc_id%13}/x against a 5-host
    # policy table exercising the three semantic edges — PREFIX
    # matching ('/p/1' blocks m ∈ {1,10,11,12}, the string-prefix
    # subtlety), the longest rule winning ('/p/12' allow, len 5, beats
    # both '/p/1' and h2's site-wide '/' disallow), and the equal-
    # length tie going to allow (h3's '/p/5' pair).  The oracle derives
    # every verdict from the synthesis parameters as one CASE — no
    # second matcher.
    d = _t(spark, sf, "documents").select("doc_id")
    raw = d.select(
        "doc_id",
        F.concat(
            F.lit("http://h"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".com/p/"), (F.col("doc_id") % 13).cast("string"),
            F.lit("/x"),
        ).alias("url"),
    )
    rules = [(f"h{k}.com", "/p/1", False) for k in range(5)]
    rules += [(f"h{k}.com", "/p/12", True) for k in range(5)]
    rules += [
        ("h2.com", "/", False),
        ("h3.com", "/p/5", False),
        ("h3.com", "/p/5", True),
    ]
    rdf = spark.createDataFrame(
        rules, "host string, rule_path string, allow boolean"
    )
    return url_ops.robots_filter(raw, "url", "doc_id", rdf)


def q_pipeline_crawl_e2e(spark, sf):
    # The COMPLETE crawl-to-corpus chain in one oracled query — the
    # composition the r10 HTML family exists for: synthesize a messy
    # crawl record per document (the url_canonical_dedup raw-URL pair
    # + an HTML page wrapping the escaped text), then run the real
    # pipeline stages end to end:
    #   1. html.extract_main_text        (boilerplate removal)
    #   2. token-count quality gate      (n_tokens >= 5, ta.token_count)
    #   3. urls.url_exact_dedup          (canonicalize + min-id survivor
    #      — the even/odd raw variants collapse to one URL per group)
    #   4. dedup.exact_dedup on the text (content survivor, min id)
    # Every stage is deterministic and synthesis-derivable, so the
    # oracle replays the WHOLE chain without parsing any HTML or URL:
    # expected text from the whitespace collapse, expected canonical
    # URL from g, both survivor rules as min-id QUALIFY windows.
    from subgraph_extractor_spark.operators import html as html_ops

    d = _t(spark, sf, "documents")
    g = F.expr("doc_id div 2")
    esc = html_ops.html_escape_expr(F.coalesce(F.col("text"), F.lit("")))
    page = F.concat(
        F.lit(
            "<html><head><title>p</title><style>p{margin:0}</style>"
            "</head><body><nav><a href=\"/\">Home</a></nav><article><p>"
        ),
        esc,
        F.lit("</p></article><footer>&copy; site "),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("</footer></body></html>"),
    )
    suffix = (
        F.when(g % 3 == 0, F.lit(".co.uk"))
        .when(g % 3 == 1, F.lit(".com"))
        .otherwise(F.lit(".github.io"))
    )
    host = F.concat(F.lit("site"), (g % 37).cast("string"), suffix)
    path = F.concat(F.lit("/Articles/"), g.cast("string"))
    messy = F.concat(
        F.lit("HTTP://"), F.upper(host), F.lit(":80"), path,
        F.lit("/?utm_source=feed&b=2&a=1#sec"),
    )
    cleanish = F.concat(F.lit("http://"), host, path, F.lit("?b=2&a=1"))
    raw = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, messy)
        .otherwise(cleanish)
        .alias("raw_url"),
        page.alias("_html"),
    )
    ext = html_ops.extract_main_text(raw, "_html")
    gated = ext.withColumn(
        "n_tokens", ta.token_count(F.col("main_text")).cast("bigint")
    ).filter(F.col("n_tokens") >= 5)
    # r11 opt (guide §2.4, §4.1): three consumers of `gated` (the URL
    # survivor pass and the two reattach joins) each rebuilt the whole
    # scan -> ArrowEvalPython subtree — 4 parquet scans and 6 Arrow
    # evaluations of the parser kernel per run
    # (plans/r11/pipeline_crawl_e2e_before.txt, kept in git history).
    # One localCheckpoint of the extraction output (the repo's standard
    # intra-plan materialization, scoped to this call — every bench pass
    # still recomputes from parquet) makes every downstream stage a
    # metadata-only join: 1 scan, 1 Arrow eval.  `_html` is projected
    # away first so only the extracted text is materialized.
    gated = gated.select(
        "doc_id", "raw_url", "main_text", "n_tokens"
    ).localCheckpoint(eager=True)
    url_kept = url_ops.url_exact_dedup(gated, "raw_url", "doc_id")
    stage2 = url_kept.join(
        gated.select("doc_id", "main_text", "n_tokens"), "doc_id"
    )
    # (A second checkpoint of stage2 — deduping the canonicalization
    # regex that still ran twice below — A/B-measured WORSE: 2.12 vs
    # 2.00 s noop-min; the materialization pass costs more than the
    # duplicated codegen regex over the survivors.)
    # r11 opt, second cut: no checkpoint AND no duplication — the
    # content-dedup groupBy CARRIES the survivor row's
    # (canonical_url, n_tokens) through min(struct(doc_id, ...))
    # (exact_dedup's carry face), so the reattach join — whose stage2
    # reference re-evaluated the canonicalization subtree — is gone
    # outright.  doc_id is unique in stage2 (one raw_url per doc, one
    # survivor per canonical group), so the carried values are exactly
    # the values the join produced.  Oracle: match.
    survivors = dedup_ops.exact_dedup(
        stage2, "main_text", "doc_id", carry=["canonical_url", "n_tokens"]
    )
    return survivors.select(
        "doc_id", "canonical_url", "n_tokens", "main_text"
    )


def q_dedup_minhash_portable(spark, sf):
    # MinHash-LSH banding under a FULL-VALUE cross-engine check (the
    # ann_lsh_portable / dedup_simhash_portable discipline applied to
    # MinHash): the portable signature family — md5_number_lower gram
    # hashes mod M31, the seeded _affine_params permutations shared
    # verbatim with the generated SQL, base-M31 band folds — is
    # recomputable in pure SQL, so the oracle replays signatures,
    # banding, the candidate set AND the exact hash-set Jaccard: every
    # (id_a, id_b, jaccard) row must match bit-exactly.  Stronger than
    # the recall contract riding dedup_minhash_recall: this certifies
    # signature parity and the banded plan's candidate completeness in
    # one driver hash.
    d = _t(spark, sf, "documents")
    return dedup_ops.minhash_dedup_pairs_portable(
        d, "text", "doc_id", threshold=0.5
    )


def _dedup_minhash_portable_sql(
    threshold: float = 0.5, extra_where: str = ""
) -> str:
    """DuckDB replay of minhash_dedup_pairs_portable: the SAME seeded
    affine params as integer literals (dedup._affine_params), the same
    md5 gram hashes, minima, base-M31 band folds, banded candidates and
    exact hash-set Jaccard.  ``extra_where`` restricts the FULL-RUN
    pair set (e.g. to batch-touching pairs — the incremental face's
    oracle: equality then certifies the batch-driven plan misses no
    pair the full run would find)."""
    from subgraph_extractor_spark.operators.dedup import (
        MERSENNE_31,
        MINHASH_PORTABLE_HASHES,
        _affine_params,
    )

    params = _affine_params(MINHASH_PORTABLE_HASHES)
    pvals = ",".join(
        f"({i},CAST({a} AS BIGINT),CAST({b} AS BIGINT))"
        for i, (a, b) in enumerate(params)
    )
    return f"""
    WITH p(i, a, b) AS (VALUES {pvals}),
    toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+2], ' ')
                              FOR i IN range(1, len(t) - 1)]) AS gs
        FROM toks WHERE len(t) >= 3
    ),
    gh AS (
        SELECT DISTINCT doc_id,
               CAST(md5_number_lower(g) % {MERSENNE_31} AS BIGINT) AS h
        FROM (SELECT doc_id, unnest(gs) AS g FROM grams)
    ),
    mins AS (
        SELECT gh.doc_id, p.i,
               MIN((p.a * gh.h + p.b) % {MERSENNE_31}) AS m
        FROM gh, p GROUP BY gh.doc_id, p.i
    ),
    bands AS (
        SELECT doc_id, i // 2 AS band,
               CAST(SUM(CASE WHEN i % 2 = 0 THEN m * {MERSENNE_31}
                             ELSE m END) AS BIGINT) AS bucket
        FROM mins GROUP BY doc_id, i // 2
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id
    ),
    sets AS (SELECT doc_id, list(h) AS hs FROM gh GROUP BY doc_id)
    SELECT id_a, id_b, jaccard FROM (
        SELECT c.id_a, c.id_b,
               CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
                   / len(list_distinct(x.hs || y.hs)) AS jaccard
        FROM cand c
        JOIN sets x ON x.doc_id = c.id_a
        JOIN sets y ON y.doc_id = c.id_b)
    WHERE jaccard >= {threshold}{extra_where}
    """


def q_image_dhash_pairs(spark, sf):
    # Driver surface for the perceptual image-dedup family
    # (operators/multimodal.py:300-353 + operators/imagecodec.dhash64):
    # a deterministic 16-image fixture corpus — 4 groups of {base PPM,
    # near-twin PPM (one inverted 9x8-grid cell -> hamming 1-2),
    # inverted-stripe cousin PPM (hamming ~35, must NOT pair), 2x
    # nearest-upscaled BMP re-encode (hamming 0 across containers)} —
    # plus an undecodable junk row and an audio row that must drop out.
    # The DuckDB oracle replays the pair machinery over golden dHash
    # signature literals (the Python hash itself is property-tested in
    # tests/test_multimodal.py): pigeonhole banding at 4 bands is
    # COMPLETE for hamming <= 3, so the banded Spark plan must produce
    # exactly the brute-force pair set — row set AND hamming values.
    import numpy as np

    from subgraph_extractor_spark.operators import imagecodec as ic
    from subgraph_extractor_spark.operators import multimodal as mm

    rows = []
    for g in range(4):
        rng = np.random.default_rng(1000 + g)
        base = rng.integers(0, 256, (36, 36, 3), dtype=np.uint8)
        near = base.copy()
        near[0:5, 0:4] = 255 - near[0:5, 0:4]
        cousin = base.copy()
        cousin[:, 0:18] = 255 - cousin[:, 0:18]
        up = base.repeat(2, axis=0).repeat(2, axis=1)
        ppm = ("image/x-portable-pixmap", 36, 36, None)
        rows.append((10 * g + 1, "image", bytearray(ic.encode_ppm(base)), ppm))
        rows.append((10 * g + 2, "image", bytearray(ic.encode_ppm(near)), ppm))
        rows.append((10 * g + 3, "image", bytearray(ic.encode_ppm(cousin)), ppm))
        rows.append(
            (10 * g + 4, "image", bytearray(ic.encode_bmp(up)),
             ("image/bmp", 72, 72, None))
        )
    rows.append(
        (97, "image", bytearray(b"junk bytes"),
         ("image/x-portable-pixmap", 1, 1, None))
    )
    rows.append(
        (98, "audio", bytearray(b"RIFFjunk"), ("audio/x-wav", None, None, 99))
    )
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    return mm.image_near_dup_pairs(media, max_distance=3, bands=4).select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


def q_audio_excerpt_containment(spark, sf):
    # Driver surface for audio EXCERPT detection (multimodal.
    # audio_excerpt_matches + audiocodec.audio_window_hashes): 3 source
    # clips (3 s each, distinct tone-sweep content), each with one
    # hop-aligned 0.6x-gain-ripped 1 s excerpt (must contain at 1.0),
    # one unrelated noise clip and a junk row (must never pair).  The
    # DuckDB oracle replays the distinct-hash inverted-index join and
    # containment math over the golden (id, window, hash) literals —
    # the window-hash kernel itself is property-tested in pytest
    # (alignment contract, silence suppression) — so this is a full
    # differential check of the pair/containment machinery.
    import numpy as np

    from subgraph_extractor_spark.operators import audiocodec as ac
    from subgraph_extractor_spark.operators import multimodal as mm

    rate = 8000
    rows = []
    for g in range(3):
        rng = np.random.default_rng(4000 + g)
        t = np.arange(rate * 3) / rate
        f1, f2 = 250 + 80 * g, 800 + 150 * g
        orig = (
            np.sin(2 * np.pi * f1 * t) * 8000
            + np.sin(2 * np.pi * f2 * t * (1 + t / 6)) * 5000
            + rng.normal(0, 300, len(t))
        ).astype(np.int16)[:, None]
        exc = (orig[rate : 2 * rate] * 0.6).astype(np.int16)
        wav = ("audio/x-wav", None, None, 3000)
        rows.append(
            (10 * g + 1, "audio", bytearray(ac.encode_wav(orig, rate)), wav)
        )
        rows.append(
            (10 * g + 2, "audio", bytearray(ac.encode_wav(exc, rate)),
             ("audio/x-wav", None, None, 1000))
        )
    rng = np.random.default_rng(4999)
    other = rng.normal(0, 8000, (rate * 3, 1)).astype(np.int16)
    rows.append(
        (99, "audio", bytearray(ac.encode_wav(other, rate)),
         ("audio/x-wav", None, None, 3000))
    )
    rows.append(
        (97, "audio", bytearray(b"RIFFjunk"), ("audio/x-wav", None, None, 9))
    )
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = mm.audio_excerpt_matches(media, min_containment=0.8)
    return out.select(
        "id_a", "id_b",
        F.col("matched").cast("bigint").alias("matched"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        "containment",
    )


def q_video_frame_containment(spark, sf):
    # Driver surface for video frame-set containment (multimodal.
    # video_frame_containment): 2 source videos (6 distinct frames
    # each), each with a half-frame-rate decimation and a 3-frame trim
    # (both contain at 1.0) — while decimation-vs-trim shares only 2 of
    # 3 frames (0.667, correctly below the 0.8 floor) — plus an
    # unrelated video, junk, and an audio row that never pair.  The
    # oracle replays the distinct-hash containment math over golden
    # (id, frame, hash) literals, same machinery check as
    # audio_excerpt_containment.
    import numpy as np

    from subgraph_extractor_spark.operators import imagecodec as ic
    from subgraph_extractor_spark.operators import multimodal as mm

    rows = []
    for g in range(2):
        rng = np.random.default_rng(5000 + g)
        frames = [
            rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
            for _ in range(6)
        ]
        meta = ("video/x-ppm-stream", 16, 16, 6000)
        for off, fs in ((1, frames), (2, frames[::2]), (3, frames[:3])):
            rows.append(
                (10 * g + off, "video",
                 bytearray(ic.encode_ppm_video(fs)), meta)
            )
    rng = np.random.default_rng(5999)
    rows.append(
        (99, "video",
         bytearray(ic.encode_ppm_video(
             [rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
              for _ in range(6)]
         )),
         ("video/x-ppm-stream", 16, 16, 6000))
    )
    rows.append(
        (97, "video", bytearray(b"junk"), ("video/x-ppm-stream", 1, 1, 9))
    )
    rows.append(
        (98, "audio", bytearray(b"RIFFjunk"), ("audio/x-wav", None, None, 9))
    )
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = mm.video_frame_containment(media, min_containment=0.8)
    return out.select(
        "id_a", "id_b",
        F.col("matched").cast("bigint").alias("matched"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        "containment",
    )


def q_dedup_simhash_incremental(spark, sf):
    # Incremental banded-hamming face (dedup.simhash_pairs_incremental)
    # under a FULL-VALUE cross-engine check, via the portable md5
    # signature: even docs play the standing corpus, odd docs the new
    # batch.  The oracle recomputes every signature in pure SQL,
    # brute-forces all pairs within hamming <= 3, and keeps only pairs
    # touching the batch — pigeonhole completeness makes the banded
    # incremental plan's output equal that set exactly (row set AND
    # hamming values), certifying both the pair machinery and the
    # corpus×corpus exclusion in one driver hash.
    d = _t(spark, sf, "documents").filter(F.trim(F.col("text")) != "")
    sigs = dedup_ops.simhash_signatures_portable(d, "text", "doc_id")
    batch = sigs.filter(F.col("_id") % 2 == 1)
    corpus = sigs.filter(F.col("_id") % 2 == 0)
    return dedup_ops.simhash_pairs_incremental(
        batch, corpus, max_distance=3
    ).select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


def q_j9_interval_overlap(spark, sf):
    # Interval OVERLAP join (operators/intervals.py) — the two-sided
    # generalization of J5's point-in-range: concurrent shipments per
    # supplier, interval = [ship epoch-day, ship + quantity days] over
    # the qty>=48 lineitems.  The bucketed plan (explode to width-32
    # day buckets, equi-join on (supplier, bucket), canonical-bucket
    # dedup — no distinct, no BNLJ) must produce exactly the oracle's
    # theta-join pair set, full-value including overlap lengths.
    li = _t(spark, sf, "lineitem").filter(F.col("l_quantity") >= 48)
    epoch_day = F.datediff(
        F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    iv = li.select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("iv_id"),
        F.col("l_suppkey").alias("suppkey"),
        epoch_day.alias("start"),
        (epoch_day + F.col("l_quantity").cast("long")).alias("end"),
    )
    return interval_ops.interval_overlap_pairs(
        iv, "iv_id", ["suppkey"], bucket_width=32
    ).select(
        "suppkey", "id_a", "id_b",
        F.col("overlap_len").cast("bigint").alias("overlap_len"),
    )


def q_ts_interval_coverage(spark, sf):
    # Grouped interval-UNION coverage (intervals.interval_union_length):
    # days each supplier had at least one qty>=48 shipment in flight —
    # gaps-and-islands over the same intervals as j9_interval_overlap,
    # the utilization complement of the pair query (overlaps count
    # ONCE; the naive sum of lengths double-counts).  Full-value oracle
    # re-derives the islands with the identical window recurrence.
    li = _t(spark, sf, "lineitem").filter(F.col("l_quantity") >= 48)
    epoch_day = F.datediff(
        F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    iv = li.select(
        F.col("l_suppkey").alias("suppkey"),
        epoch_day.alias("start"),
        (epoch_day + F.col("l_quantity").cast("long")).alias("end"),
    )
    return interval_ops.interval_union_length(iv, ["suppkey"])


def q_pipeline_negative_samples(spark, sf):
    # Contrastive-training negative sampling (shuffling.
    # negative_samples): 4 deterministic corpus-wide negatives per
    # anchor, addressed as (shard, pos) coordinates in the SAME
    # deterministic shard layout pipeline_shuffle_shard oracles — pure
    # md5 functions of (seed, anchor, slot), one broadcast-assisted
    # equi-join, no global window, no RNG state.  Full row set oracled:
    # DuckDB rebuilds the shard layout and replays the exact address
    # arithmetic, including the self-collision slot drop.
    from subgraph_extractor_spark.operators import shuffling as shuffle_ops

    d = _t(spark, sf, "documents").select("doc_id")
    sharded = shuffle_ops.deterministic_shuffle(d, "doc_id", 8, seed="ep0")
    return shuffle_ops.negative_samples(
        sharded, "doc_id", k=4, num_shards=8, seed="neg0"
    )


def q_pipeline_chunk_overlap(spark, sf):
    # RAG-prep token-window chunking with overlap (packing.
    # chunk_documents_overlap): 24-token windows, 6-token overlap, over
    # the documents corpus — map-only codegen (split + sequence +
    # slice), stable (doc, idx) chunk ids for downstream dedup /
    # retrieval joins.  Full row set oracled: DuckDB replays the same
    # stride arithmetic with list_slice.
    d = _t(spark, sf, "documents").select("doc_id", "text")
    return packing_ops.chunk_documents_overlap(
        d, "text", "doc_id", chunk_tokens=24, overlap=6
    )


def q_graph_triangles(spark, sf):
    # Per-node triangle counts (graph.triangle_counts) over the
    # part co-order CLIQUE graph — all pairs of distinct parts sharing
    # an order (the chain graph PageRank uses is triangle-free by
    # construction; cliques are the cohesion fixture).  Degree-ordered
    # orientation bounds the wedge join at m^1.5; every count is an
    # exact BIGINT, so the FULL (node, n_triangles) table oracles
    # against DuckDB's 3-way a<b<c join.
    li = _t(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    e = (
        li.alias("x")
        .join(li.alias("y"), on=[F.col("x.o") == F.col("y.o"),
                                 F.col("x.p") < F.col("y.p")])
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
        .distinct()
    )
    return graph_ops.triangle_counts(e).select(
        F.col("node").cast("bigint").alias("node"), "n_triangles"
    )


def q_sim_maxsim_quantized(spark, sf):
    # Late-interaction MaxSim retrieval over integer-quantized
    # multi-vector documents (similarity.maxsim_quantized_topk):
    # embeddings quantize per-vector to int8 (the same
    # quantize_embeddings contract f_vector_quantize oracles), group
    # 4-by-4 into multi-vector "documents" (vec_id div 4 — the
    # token/patch bag stand-in), and the first 5 bags retrieve top-3 by
    # Σ max integer dot.  Every score is an exact BIGINT, so the full
    # (query, doc, rank, score) result full-value oracles — the float
    # formulation would differ in ulps across fold orders.
    emb = _t(spark, sf, "embeddings")
    qv = sim_ops.quantize_embeddings(emb, "embedding", "vec_id")
    mv = (
        qv.select(
            F.expr("vec_id div 4").alias("mv_id"),
            F.struct("vec_id", "qvec").alias("_s"),
        )
        .groupBy("mv_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list("_s")), lambda s: s["qvec"]
            ).alias("vecs")
        )
    )
    queries = mv.filter(F.col("mv_id") < 5)
    out = sim_ops.maxsim_quantized_topk(queries, mv, "vecs", "mv_id", k=3)
    return out.select(
        "query_id", "doc_id",
        F.col("rank").cast("int").alias("rank"), "score",
    )


def q_emb_kmeans(spark, sf):
    # Deterministic distributed k-means (clustering.kmeans_fixed_point):
    # Lloyd's over the exact 2^16 integer projection of the embeddings —
    # assignment is a literal-centroid codegen argmin (lexicographic
    # (dist, index) tie-break), the update is ONE map-side-combined
    # groupBy with d SUM columns, and every op is exact BIGINT, so the
    # full (vec_id, cluster) assignment is bit-portable.  Full-value
    # oracle: Lloyd iterations unrolled as chained CTEs in DuckDB
    # (clustering.kmeans_oracle_sql), same discipline as graph_pagerank.
    emb = _t(spark, sf, "embeddings")
    return clustering_ops.kmeans_fixed_point(
        emb, "embedding", "vec_id", k=8, iters=4
    )


def q_emb_kmeans_balanced(spark, sf):
    # Cluster-balanced data selection: cap each embedding-space region
    # (k-means cluster) at 40 survivors chosen by md5(seed || id) rank —
    # the curation face of clustering (a dominant region cannot drown
    # the training mix).  Composes the pure-codegen final assignment
    # with one windowed cap; full row set oracled by replaying the
    # identical md5 ranking over the unrolled-CTE cluster assignment.
    emb = _t(spark, sf, "embeddings")
    asg = clustering_ops.kmeans_fixed_point(
        emb, "embedding", "vec_id", k=8, iters=4
    )
    return clustering_ops.cluster_balanced_sample(
        asg, "vec_id", per_cluster=40, seed=6
    )


def q_ann_pq(spark, sf):
    # Product-quantization ANN end-to-end (operators/pq.py): train
    # 8 per-subspace codebooks of 8 codewords (integer fixed-point
    # Lloyd's, all subspaces in the same jobs), encode the corpus to
    # 8 codes/vector (256-byte float32 -> 8 bytes), ADC-search the 5
    # smallest-id vectors against the codes.  Every step exact BIGINT
    # arithmetic, so the full approximate top-3 — not a recall
    # contract — oracles against the DuckDB replay (one kmeans unroll
    # keyed by subspace, then encode/ADC/rank CTEs).
    emb = _t(spark, sf, "embeddings")
    return pq_ops.pq_ann_topk(
        emb, "embedding", "vec_id",
        m=8, k_codes=8, iters=2, topk=3, n_queries=5,
    )


def q_emb_pq_codes(spark, sf):
    # The persistable compressed corpus itself: every embedding's m=8
    # codeword indices (the artifact a 100 TB deployment would write
    # once and search many times).  Codes travel as a comma-joined
    # string so the array crosses the pandas comparison boundary
    # dtype-faithfully; full-value oracled per vector.
    emb = _t(spark, sf, "embeddings")
    cb = pq_ops.pq_train_codebooks(
        emb, "embedding", "vec_id", m=8, k=8, iters=2
    )
    codes = pq_ops.pq_encode(emb, "embedding", "vec_id", cb)
    return codes.select(
        F.col("id").alias("vec_id"),
        F.concat_ws(",", F.col("codes").cast("array<string>")).alias(
            "codes_str"
        ),
    )


def q_pipeline_dsir_scores(spark, sf):
    # DSIR-style data selection (operators/dsir.py): score every
    # document by how target-like its hashed-bigram profile is —
    # target model = the English subset, raw model = the whole corpus,
    # per-gram weight the 2^16-scaled add-1-smoothed probability ratio
    # (the deterministic integer variant of the paper's log-ratio;
    # monotone per gram, exact BIGINT end to end).  Full-value oracle
    # replays tokenize -> bigram -> 48-bit-md5 bucket -> ratio -> fold.
    d = _t(spark, sf, "documents")
    return dsir_ops.dsir_scores(
        d, d.filter(F.col("lang") == "en"), "text", "doc_id",
        buckets=4096, scale_bits=16,
    )


def q_pipeline_leakage_split(spark, sf):
    # Leakage-safe train/valid/test split: connected components over
    # the EXACT n-gram-Jaccard pair set decide a per-cluster
    # representative, and every member splits by the REPRESENTATIVE's
    # md5 bucket — so a near-duplicate can never straddle train/eval.
    # Composes three operator families (exact pairs -> min-label CC ->
    # group-aware split); the oracle replays pairs via the inverted
    # index, clusters via recursive reachability, and the bucket CASE.
    d = _t(spark, sf, "documents")
    pairs = _exact_jaccard_pairs(spark, sf, _DEDUP_J_THRESHOLD)
    clusters = dedup_ops.duplicate_clusters(pairs)
    return sampling_ops.leakage_safe_split(
        d.select("doc_id"), "doc_id", clusters
    )


def q_retrieval_rrf(spark, sf):
    # Reciprocal-rank fusion of two deterministic part rankings —
    # revenue top-50 and quantity top-50 (both DECIMAL-exact sums with
    # partkey tie-break, so the input RANKS are engine-portable) —
    # fused with the integer 2^20 div (60 + rank) term, top-20 by
    # (score desc, id).  The rank windows run over LIMITed 50/20-row
    # sets, never the corpus; the fusion is union + ONE groupBy.
    li = _t(spark, sf, "lineitem")
    one = F.lit(1).cast("decimal(18,2)")

    # r11 opt note: a single-pass restructure (ONE groupBy computing
    # both DECIMAL sums, stack-melt to (_list, _v), one per-list rank
    # window — 1 scan + 1 agg exchange instead of 2 + 2) was
    # oracle-verified identical and A/B-measured SLOWER here: min-of-5
    # interleaved 1.41-1.63 s vs 1.20 s for this two-branch shape.
    # The two independent scan+agg branches are separate stages the
    # scheduler runs CONCURRENTLY across the idle cores, while the
    # fused chain serializes scan -> window -> fuse; the scans are
    # 3-column pruned, so the saved pass is smaller than the lost
    # overlap.  At 100 TB (scan-bound, no idle capacity) the fused
    # shape wins — kept in the round notes, not shipped.
    def _top50(value_col):
        top = (
            li.groupBy("l_partkey")
            .agg(value_col.alias("_v"))
            .orderBy(F.desc("_v"), "l_partkey")
            .limit(50)
        )
        w = Window.orderBy(F.desc("_v"), F.col("l_partkey"))
        return top.select(
            F.col("l_partkey").alias("doc_id"),
            F.row_number().over(w).cast("int").alias("rank"),
        )

    r_rev = _top50(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (one - F.col("l_discount").cast("decimal(18,2)"))
        )
    )
    r_qty = _top50(F.sum(F.col("l_quantity").cast("decimal(18,2)")))
    fused = retrieval_ops.rrf_fuse([r_rev, r_qty], topk=20)
    return fused.select(
        F.col("doc_id").alias("p_partkey"),
        "n_lists",
        "rrf_score",
        "fused_rank",
    )


def q_retrieval_eval(spark, sf):
    # IR evaluation harness (retrieval.ranking_metrics — trec_eval's
    # core metrics, distributed): a cheap truncated-dimension retriever
    # (int8-quantized dot product over the FIRST 32 of 64 dims,
    # Matryoshka-style prefix search; similarity.quantized_dot_topk)
    # is scored against label-based relevance judgments (relevant =
    # same `label`, the ANN-benchmark convention) for the 50-query
    # fixture batch.  Every metric column is an exact integer or ONE
    # IEEE division of exact integers (hits/n_rel, hits/k, 1/rank), so
    # the full per-query row set hash-matches cross-engine; the run's
    # integer scores make the ranking itself engine-portable.  The
    # metrics job never touches the corpus — cost is O(Q*k + judged
    # pairs) regardless of corpus size (the 100 TB property: evaluation
    # is free; producing the run was the work).
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 50)
    run = sim_ops.quantized_dot_topk(
        queries, emb, "embedding", "vec_id", k=10, dims=32
    )
    qrels = (
        queries.alias("q")
        .join(
            emb.alias("c"),
            (F.col("q.label") == F.col("c.label"))
            & (F.col("q.vec_id") != F.col("c.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
        )
    )
    return retrieval_ops.ranking_metrics(run, qrels, k=10)


def q_ann_filtered(spark, sf):
    # Metadata-FILTERED vector search (similarity.filtered_quantized_
    # topk): each vector's top-5 neighbors restricted to its own
    # `label` partition — the filtered-search face every production
    # vector store exposes (tenant/language/label predicates).  The
    # predicate IS the candidate generator: an ordinary equi-join on
    # the filter column replaces both the full-corpus scan and the
    # post-filter recall loss; no cartesian product anywhere (this
    # query needs no plan-invariant whitelist entry — that is the
    # point).  Exact int8-code dot scores keep the full (query,
    # neighbor, rank, score) set bit-portable for the oracle.
    emb = _t(spark, sf, "embeddings")
    return sim_ops.filtered_quantized_topk(
        emb, "embedding", "vec_id", ["label"], k=5
    )


def q_ann_filtered_banded(spark, sf):
    # Scale-path twin of ann_filtered (similarity.filtered_banded_
    # topk), added on the sf1.0 full-headline evidence: the exact
    # filtered face measured 74x time at 10x data (quadratic within
    # each label block — BENCH_scale_sf1_full_r11.json), so the
    # serving path splits every label block further by sign-LSH band
    # value: candidates = equi-join on (label, band, val).  Exact
    # integer arithmetic end to end (quantize_int_vec + int_lsh_planes
    # + int64 dot, the ann_lsh_portable discipline) — DuckDB replays
    # every (query_id, neighbor_id, qdot, rank) row bit-exactly.
    # Recall is contracted on PLANTED same-label near-duplicates
    # (tests/test_similarity.py::test_filtered_banded_recall_planted;
    # BASELINE.md documents why a floor vs the exact face is
    # meaningless on this fixture's geometry-independent labels).
    emb = _t(spark, sf, "embeddings")
    return sim_ops.filtered_banded_topk(
        emb, "embedding", "vec_id", ["label"], k=5
    )


def q_ann_hamming(spark, sf):
    # Binary-quantized (1-bit/dim) Hamming search coarse pass
    # (similarity.binary_sign_pack + hamming_topk): the 50-query batch
    # ranked against the whole corpus by exact Hamming distance over
    # packed sign signatures — 32x less index bandwidth than float32
    # and ~dim/32 XOR+popcount words per pair instead of dim multiplies.
    # Distance is an exact small integer, so the FULL (query, neighbor,
    # rank, dist) table is engine-portable; the oracle deliberately
    # ignores the packing and counts sign disagreements dimension-wise
    # (the packed XOR/popcount and the unpacked count are the same
    # number by construction — a genuinely different formulation).
    emb = _t(spark, sf, "embeddings")
    return sim_ops.hamming_topk(
        emb.filter(F.col("vec_id") < 50), emb, "embedding", "vec_id",
        dim=64, k=10,
    )


def q_ann_hamming_rerank(spark, sf):
    # Binary-quantized search, deployment shape (similarity.
    # hamming_topk_rerank): Hamming shortlist of k*expand per query
    # over the 1-bit signatures, then EXACT int8-dot re-rank of the
    # shortlist via an id equi-join back to the corpus — never a
    # second corpus scan.  Both stages are exact integers, so the full
    # re-ranked top-5 is full-value oracled (shortlist CTE + the
    # ann_filtered int8 codec replayed on candidates only); the
    # 1-bit coarse pass's QUALITY contract (recall vs full-precision
    # search) lives in pytest.
    emb = _t(spark, sf, "embeddings")
    return sim_ops.hamming_topk_rerank(
        emb.filter(F.col("vec_id") < 50), emb, "embedding", "vec_id",
        dim=64, k=5, expand=4,
    )


def q_dedup_prefix_jaccard(spark, sf):
    # EXACT Jaccard-threshold self-join via prefix filtering
    # (dedup.prefix_filter_pairs — AllPairs/PPJoin candidate
    # generation): complete by pigeonhole under the (df asc, gram asc)
    # global order, so unlike MinHash-LSH there are NO probabilistic
    # misses to contract away — the output IS the ground truth.
    # Candidates come from an equi-join on each doc's rarest grams
    # (prefix length s - ceil(t*s) + 1) plus the length filter;
    # verification is exact Jaccard over the full shingle sets via id
    # equi-joins.  The oracle is the brute-force all-pairs threshold
    # join — deliberately no prefixes, so completeness itself is what
    # the differential check certifies.  1-in-2 doc sample, the
    # dedup_ngram_jaccard precedent: the ORACLE is quadratic by
    # design, and the sample keeps its replay tractable at sf0.1
    # (the operator itself takes the full corpus).
    d = _t(spark, sf, "documents").filter(F.col("doc_id") % 2 == 0)
    return dedup_ops.prefix_filter_pairs(d, "doc_id", "text", 0.2)


def q_f_global_rank(spark, sf):
    # Exact global row rank WITHOUT the single-partition window
    # (layout.global_rank): repartitionByRange on the order columns,
    # local sort position out of monotonically_increasing_id's
    # (pid << 33 | local) layout — no window over data —, per-partition
    # counts folded to offsets by one window over the n_partitions-row
    # table, broadcast back.  Ranks are partition-boundary-independent
    # because the order is TOTAL ((price, orderkey, linenumber) —
    # the PK breaks ties), so the full table is oracled against the
    # naive global ROW_NUMBER the operator exists to avoid.
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    return layout_ops.global_rank(
        li, ["l_extendedprice", "l_orderkey", "l_linenumber"]
    ).select(
        "l_orderkey", "l_linenumber", F.col("rank").cast("long").alias("rank")
    )


def q_pipeline_corpus_diff(spark, sf):
    # Document-level snapshot diff (pipeline.corpus_diff): the
    # row-level complement to the file-level manifest snapshot diff —
    # added/removed/changed docs between two corpus versions by sha256
    # digest, map-only digests + ONE full-outer id equi-join, unchanged
    # rows never emitted.  Both snapshots synthesize deterministically
    # from `documents` (old = ids % 5 != 0; new = ids % 3 != 0 with a
    # ' v2' suffix on ids % 7 == 0), so the oracle derives every status
    # from the synthesis rule replayed over the same digests.
    d = _t(spark, sf, "documents")
    old = d.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    new = d.filter(F.col("doc_id") % 3 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" v2")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return pipeline_ops.corpus_diff(old, new, "doc_id", "text")


def q_retrieval_champion(spark, sf):
    # Champion-list pruned lexical retrieval (retrieval.champion_lists
    # + champion_topk): per-term top-8 postings by exact integer
    # length-normalized impact ((tf << 20) DIV dl) are the standing
    # state; serving scores ONLY champion rows — O(|terms| * m) at any
    # corpus size, the static member of the WAND pruning family and
    # the lexical complement to the ANN serving splits.  idf is the
    # log-free monotone variant integerized ((N << 10) DIV (df + 1)),
    # so every score is an exact BIGINT and the full top-10 is
    # full-value oracled; the in-plan envelope guard raises before
    # Spark's silent long wrap could ever rank wrongly.
    d = _t(spark, sf, "documents")
    champs = retrieval_ops.champion_lists(d, "doc_id", "text", m=8)
    return retrieval_ops.champion_topk(champs, _BM25_TERMS, k=10)


def q_pipeline_token_budget(spark, sf):
    # Token-budget mixture selection: fill per-language token budgets
    # (en 3000 / zh 1200 / es 800) in stable md5 order — selection in
    # the unit training mixes are specified in.  Distributed two-level
    # prefix sum per (lang, bucket); full selected set with running
    # totals oracled by replaying the identical window recurrence.
    d = _t(spark, sf, "documents")
    return sampling_ops.token_budget_mixture(
        d, "doc_id", "lang",
        ta.token_count(F.col("text")).cast("long"),
        {"en": 3000, "zh": 1200, "es": 800},
    )


def q_emb_covariance(spark, sf):
    # Exact distributed covariance (operators/pca.py): the full d x d
    # upper-triangle second-moment table of the quantized embedding
    # corpus — per-Arrow-batch numpy int64 Q^T Q partials folded by
    # ONE map-side-combined groupBy (never an (i, j) row explosion of
    # the corpus), comoment = n*P - s_i*s_j assembled in exact
    # DECIMAL(38,0) and carried as a string (>2^53 convention).  The
    # oracle replays it as the d^2 unnest self-join the operator
    # deliberately avoids at scale.  This is the input PCA whitening /
    # top-component removal eigendecomposes (float from there on —
    # python-replica-tested, tests/test_pca.py).
    emb = _t(spark, sf, "embeddings")
    return pca_ops.embedding_comoments(emb, "embedding", 64)


def q_ts_interpolate(spark, sf):
    # Linear interpolation of each user's irregular value series onto
    # the daily grid inside their observed span
    # (timeseries.interpolate_resample): same-second observations
    # collapse to MIN (deterministic where a float AVG is reduction-
    # order-dependent), neighbors attach via two as-of joins, and the
    # interpolation is a fixed-order chain of exactly-rounded IEEE ops
    # — the oracle replays it with DuckDB ASOF joins and the identical
    # expression, hashing bit-equal.
    from subgraph_extractor_spark.operators import timeseries as ts_ops

    ev = _t(spark, sf, "events")
    return ts_ops.interpolate_resample(ev, "ts", "user_id", "value", 86400)


def q_ann_ivfpq(spark, sf):
    # IVF-PQ / IVFADC (pq.ivfpq_topk): the production billion-vector
    # ANN structure composed from the repo's two exact integer
    # quantizers — coarse k-means cells route vectors, PQ encodes the
    # integer RESIDUALS, queries probe nprobe nearest cells and
    # ADC-score only those cells' 8-byte codes via an EQUI-join on the
    # cell id.  Exact BIGINT end to end: the FULL approximate top-k of
    # the entire FAISS-shaped index oracles against the DuckDB replay
    # (cells unroll + subspace-keyed residual unroll + probe + ADC).
    emb = _t(spark, sf, "embeddings")
    return pq_ops.ivfpq_topk(
        emb, "embedding", "vec_id",
        n_cells=4, nprobe=2, m=8, k_codes=8,
        iters_cells=2, iters_pq=2, topk=3, n_queries=5,
    )


def q_ann_ivfpq_recall(spark, sf):
    # recall contract for IVF-PQ (r6 verdict task #4): the ann_ivfpq
    # oracle proves Spark==DuckDB on the approximate result; THIS query
    # pins how good the approximation is against the exact top-k in the
    # SAME metric (squared L2 on the scale_bits=16 quantized longs —
    # comparing ADC output against cosine order would conflate metric
    # disagreement with approximation error).  The measured face is the
    # DEPLOYMENT face, IVFADC + refine (pq.ivfpq_topk_refined, FAISS's
    # IndexRefineFlat): raw ADC rank order on this fixture's
    # near-random vectors is noise (measured recall@3 of the unrefined
    # index: 0.07 at sf0.01 — random distances concentrate, so 3-bit
    # residual codes can't separate them; clustered real-text
    # embeddings are where raw ADC order works), while the re-ranked
    # shortlist restores the coverage-fraction law of
    # ann_projected_recall.  Shortlist is coverage-scaled to ~10% of
    # the corpus (same exact-count discipline as ann_projected_recall);
    # nprobe=3 of 4 cells bounds reachable recall at the cell-routing
    # level.  Measured recall@3: 0.87 at sf0.01 AND 0.87 at sf0.1
    # (deterministic — exact integer index, no RNG); floor 0.75.
    # Exact baseline: the 5 query vectors broadcast onto the corpus
    # (documented exact brute-force asymmetry), codegen sqdist,
    # LIMITed per-query rank.
    emb = _t(spark, sf, "embeddings")
    topk, n_queries = 3, 5
    n = emb.count()
    shortlist = max(50, -(-n // 10))  # ceil(n/10): ~10% coverage
    ann = pq_ops.ivfpq_topk_refined(
        emb, "embedding", "vec_id",
        n_cells=4, nprobe=3, m=8, k_codes=8,
        iters_cells=2, iters_pq=2,
        shortlist=shortlist, topk=topk, n_queries=n_queries,
    ).select("query_id", F.col("doc_id").alias("neighbor_id"))
    q = clustering_ops.quantized_vectors(emb, "embedding", "vec_id")
    qs = q.orderBy("id").limit(n_queries).select(
        F.col("id").alias("query_id"), F.col("q").alias("_qq")
    )
    scored = (
        q.select(F.col("id").alias("neighbor_id"), F.col("q").alias("_cq"))
        .crossJoin(F.broadcast(qs))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with(
                    "_qq", "_cq", lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("_d"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_d").asc(), F.col("neighbor_id").asc()
    )
    exact = (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= topk)
        .select("query_id", "neighbor_id")
    )
    n_hits = ann.join(
        exact, ["query_id", "neighbor_id"], "semi"
    ).agg(F.count(F.lit(1)).alias("_nh"))
    n_exact = exact.agg(F.count(F.lit(1)).alias("_ne"))
    n_q = emb.agg(F.count(F.lit(1)).alias("n_queries"))
    return (
        n_q.crossJoin(n_hits)
        .crossJoin(n_exact)
        .select(
            "n_queries",
            (F.col("_nh") >= F.lit(0.75) * F.col("_ne")).alias(
                "recall_ge_075"
            ),
        )
    )


def q_ann_ivfpq_served(spark, sf):
    # The r7 serving split driven END TO END in the driver: build the
    # IVF-PQ index (pq.ivfpq_build_index), persist the bounded model
    # state through the fsio atomic writer, RELOAD it, and answer the
    # query batch with pq.ivfpq_search against the loaded model — the
    # "persist once, serve forever" deployment loop as one query.
    # save/load is bit-exact (exact integers through JSON), so the
    # served result equals ivfpq_topk on identical parameters and the
    # SAME DuckDB replay oracles it full-value (ref: FAISS
    # IndexIVFPQ's write_index/read_index serving lifecycle).
    import tempfile

    emb = _t(spark, sf, "embeddings")
    cells, books, codes = pq_ops.ivfpq_build_index(
        emb, "embedding", "vec_id",
        n_cells=4, m=8, k_codes=8, iters_cells=2, iters_pq=2,
    )
    mp = tempfile.mktemp(prefix="ivfpq_model_", suffix=".json")
    pq_ops.save_index_model(mp, cells, books)
    cells2, books2 = pq_ops.load_index_model(mp)
    return pq_ops.ivfpq_search(
        emb, "embedding", "vec_id", cells2, books2, codes,
        nprobe=2, topk=3, n_queries=5, exclude_self=True,
    )


def q_j10_interval_contains(spark, sf):
    # Allen contains/during face of the bucketed interval join
    # (relation="contains"): which qty>=48 shipments FULLY swallow
    # another of the same supplier's — same candidate generation and
    # canonical-bucket single-emission as j9, only the verified
    # predicate changes (contains ⊂ overlaps keeps completeness).
    # Directed pairs (container, contained), self excluded; full-value
    # theta-join oracle.
    li = _t(spark, sf, "lineitem").filter(F.col("l_quantity") >= 48)
    epoch_day = F.datediff(
        F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    iv = li.select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("iv_id"),
        F.col("l_suppkey").alias("suppkey"),
        epoch_day.alias("start"),
        (epoch_day + F.col("l_quantity").cast("long")).alias("end"),
    )
    j = interval_ops.interval_overlap_join(
        iv, iv, ["suppkey"], bucket_width=32, relation="contains"
    ).filter(F.col("l_iv_id") != F.col("r_iv_id"))
    return j.select(
        "suppkey",
        F.col("l_iv_id").alias("container_id"),
        F.col("r_iv_id").alias("contained_id"),
        (F.col("r_end") - F.col("r_start") + 1).alias("contained_len"),
    )


def q_ts_ohlc(spark, sf):
    # OHLC downsampling (timeseries.ohlc_downsample): per (event_type,
    # day) candle over the events value stream — open/close by struct
    # min/max over a packed (ts, event_id, value) total order (one
    # partial+final aggregate, no window), highs/lows/count from the
    # same exchange.  The oracle deliberately uses a DIFFERENT
    # formulation (row_number windows) for the same semantics — a
    # stronger differential check than replaying the same plan.
    from subgraph_extractor_spark.operators import timeseries as ts_ops

    ev = _events_with_seconds(spark, sf)
    out = ts_ops.ohlc_downsample(
        ev, ["event_type"], F.col("_sec"), F.col("value"), 86400,
        order_tiebreak=F.col("event_id"),
    )
    return out.select(
        "event_type", "bucket_start", "open", "high", "low", "close",
        F.col("n_ticks").cast("bigint").alias("n_ticks"),
    )


def q_quality_gopher_rules(spark, sf):
    # Gopher rule-bundle quality gate (text_analysis.
    # gopher_quality_features/_gate) over the REAL documents corpus —
    # the fully-SQL-oracled member of the quality family (the LM /
    # classifier / compression gates need contracts; this one is pure
    # string algebra, so every evidence column AND the final keep flag
    # full-value oracle).  Thresholds are the published Gopher defaults
    # except min_words=20 (the synthetic docs are short).
    d = _t(spark, sf, "documents").select("doc_id", "text")
    g = ta.gopher_quality_features(d, "text")
    keep = (
        F.col("n_words").between(20, 100000)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.col("symbol_ratio") <= 0.1)
        & (F.col("alpha_word_ratio") >= 0.8)
        & (F.col("bullet_ratio") <= 0.9)
        & (F.col("ellipsis_ratio") <= 0.3)
        & (F.col("n_stop_distinct") >= 2)
    )
    return g.select(
        "doc_id", "n_words", "mean_word_len", "symbol_ratio",
        "alpha_word_ratio", "bullet_ratio", "ellipsis_ratio",
        "n_stop_distinct", keep.alias("keep"),
    )


def q_quality_compression_gate(spark, sf):
    # Driver surface for the zlib compression-ratio quality gate
    # (text_analysis.compression_gate) — previously pytest-only (no SQL
    # zlib).  Golden-survivor contract over a deterministic 6-doc
    # fixture whose ratios sit FAR from the [0.25, 1.05] boundaries
    # (prose ~0.70-0.76 keep; repetition farms ~0.11-0.13 drop-low;
    # a 40-char random-printable string ~1.20 drop-high via deflate's
    # fixed overhead; empty text -> NULL drop), so the expected
    # survivor set {1, 5} is robust to any zlib build.  The oracle is
    # the survivor literal — a golden-value contract like the
    # perceptual-media family, since deflate has no DuckDB surface; the
    # RATIO computation itself is pinned by the python-replica pytest.
    rows = [
        (1, "The quick brown fox jumps over the lazy dog while the "
            "weather stays mild and the market closes early for the "
            "holiday season in the northern provinces."),
        (2, " ".join(["spam"] * 30)),
        (3, "qZ7#kV2@pL9$mX4&nB8*rT5!wJ3^dF6%hG1(yU0)"),
        (4, ""),
        (5, "Long-form natural prose carries enough novel structure "
            "that deflate lands in the healthy middle band: sentences "
            "vary, vocabulary shifts, and clauses rarely repeat "
            "verbatim, yet the text is far from random noise so the "
            "compressor still finds purchase."),
        (6, "ab" * 50),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    return ta.compression_gate(d, "text").select("doc_id")


def q_url_canonical_dedup(spark, sf):
    # URL canonicalization + exact URL dedup (operators/urls.py): two
    # deterministically-messy raw variants per pair-group g = doc_id
    # div 2 — the even doc gets upper-cased scheme+host, the http
    # default port, a trailing slash, utm tracking params, unsorted
    # surviving params, and a fragment; the odd doc is nearly clean —
    # both must canonicalize to the same URL, and the min-id survivor
    # rule keeps the even doc.  The oracle does NOT run a second
    # parser: it derives the EXPECTED canonical directly from g (the
    # synthesis parameters are the ground truth), so a shared parsing
    # misunderstanding cannot cancel out.
    d = _t(spark, sf, "documents").select("doc_id")
    g = F.expr("doc_id div 2")
    suffix = (
        F.when(g % 3 == 0, F.lit(".co.uk"))
        .when(g % 3 == 1, F.lit(".com"))
        .otherwise(F.lit(".github.io"))
    )
    host = F.concat(F.lit("site"), (g % 37).cast("string"), suffix)
    path = F.concat(F.lit("/Articles/"), g.cast("string"))
    messy = F.concat(
        F.lit("HTTP://"), F.upper(host), F.lit(":80"), path,
        F.lit("/?utm_source=feed&b=2&a=1#sec"),
    )
    cleanish = F.concat(
        F.lit("http://"), host, path, F.lit("?b=2&a=1")
    )
    raw = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, messy)
        .otherwise(cleanish)
        .alias("url"),
    )
    return url_ops.url_exact_dedup(raw, "url", "doc_id")


def q_url_domain_cap(spark, sf):
    # per-registrable-domain document cap (the crawl-curation guard
    # against mega-site dominance, operators/urls.py): hosts
    # sub{0..2}.d{0..6}.com collapse to 7 registrable domains (the
    # subdomain spread is the point — the cap must bucket by eTLD+1,
    # not hostname), cap 10 per domain in stable md5(salt||id) order.
    # Full row set oracled: DuckDB replays the same md5 ranking and
    # derives the domain from the synthesis parameters directly.
    d = _t(spark, sf, "documents").select("doc_id")
    host = F.concat(
        F.lit("sub"), (F.col("doc_id") % 3).cast("string"),
        F.lit(".d"), (F.col("doc_id") % 7).cast("string"), F.lit(".com"),
    )
    raw = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"), host, F.lit("/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    out = url_ops.domain_cap_sample(raw, "url", "doc_id", cap=10)
    return out.select(
        "doc_id", F.col("_domain").alias("domain"),
        F.col("_rk").cast("bigint").alias("rk"),
    )


def q_audio_spectral_pairs(spark, sf):
    # Driver surface for perceptual AUDIO dedup (multimodal.
    # audio_near_dup_pairs + audiocodec.spectral_hash64): deterministic
    # 16-clip WAV fixture corpus — 4 groups of {base tone-sweep, 0.6x
    # gain rip (hamming 0: energy comparisons are scale-free),
    # dither-noise copy (hamming 1-5 — pairs iff <= 3, exercising the
    # boundary), unrelated-noise cousin (~30, never pairs)} — plus an
    # undecodable junk row and an image row that must drop out.  Same
    # golden-signature differential oracle as image_dhash_pairs:
    # pigeonhole banding at 4 bands is complete for hamming <= 3, so
    # the banded Spark plan must equal the oracle's brute-force pair
    # set over the signature literals exactly.
    import numpy as np

    from subgraph_extractor_spark.operators import audiocodec as ac
    from subgraph_extractor_spark.operators import imagecodec as ic
    from subgraph_extractor_spark.operators import multimodal as mm

    rate = 8000
    rows = []
    for g in range(4):
        rng = np.random.default_rng(2000 + g)
        t = np.arange(rate) / rate
        f1, f2 = 200 + 90 * g, 700 + 210 * g
        base = (
            np.sin(2 * np.pi * f1 * t) * 9000
            + np.sin(2 * np.pi * f2 * t * (1 + t / 2)) * 5000
            + rng.normal(0, 400, len(t))
        ).astype(np.int16)[:, None]
        gain = (base * 0.6).astype(np.int16)
        dither = (
            base.astype(np.float64) + rng.normal(0, 120, base.shape)
        ).clip(-32768, 32767).astype(np.int16)
        cousin = rng.normal(0, 9000, base.shape).astype(np.int16)
        wav = ("audio/x-wav", None, None, 1000)
        for off, s in ((1, base), (2, gain), (3, dither), (4, cousin)):
            rows.append(
                (10 * g + off, "audio",
                 bytearray(ac.encode_wav(s, rate)), wav)
            )
    rows.append(
        (97, "audio", bytearray(b"RIFFjunk"), ("audio/x-wav", None, None, 9))
    )
    rows.append(
        (98, "image",
         bytearray(ic.encode_ppm(np.zeros((4, 4, 3), dtype=np.uint8))),
         ("image/x-portable-pixmap", 4, 4, None))
    )
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    return mm.audio_near_dup_pairs(media, max_distance=3, bands=4).select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


def q_video_dhash_pairs(spark, sf):
    # Driver surface for perceptual VIDEO dedup (multimodal.
    # video_near_dup_pairs + imagecodec.video_majority_dhash —
    # per-frame dHash aggregated by bitwise majority vote):
    # deterministic 16-video fixture corpus — 4 groups of {5-frame
    # correlated base, frame-rate-doubled re-encode (hamming 0: every
    # majority preserved), dropped-last-frame cut (hamming 0-1),
    # unrelated-content cousin (~30, never pairs)} — plus junk and an
    # audio row that must drop out.  Golden-signature differential
    # oracle; banding completeness as in image_dhash_pairs.
    import numpy as np

    from subgraph_extractor_spark.operators import imagecodec as ic
    from subgraph_extractor_spark.operators import multimodal as mm

    rows = []
    for g in range(4):
        rng = np.random.default_rng(3000 + g)
        base_frame = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
        corr = []
        for i in range(5):
            fr = base_frame.copy()
            fr[i : i + 3, i : i + 3] = 255 - fr[i : i + 3, i : i + 3]
            corr.append(fr)
        doubled = [fr for fr in corr for _ in range(2)]
        dropped = corr[:-1]
        other = [
            rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
            for _ in range(5)
        ]
        meta = ("video/x-ppm-stream", 24, 24, 5000)
        for off, fs in ((1, corr), (2, doubled), (3, dropped), (4, other)):
            rows.append(
                (10 * g + off, "video",
                 bytearray(ic.encode_ppm_video(fs)), meta)
            )
    rows.append(
        (97, "video", bytearray(b"junk"), ("video/x-ppm-stream", 1, 1, 9))
    )
    rows.append(
        (98, "audio", bytearray(b"RIFFjunk"), ("audio/x-wav", None, None, 9))
    )
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    return mm.video_near_dup_pairs(media, max_distance=3, bands=4).select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


def q_dedup_ngram_jaccard(spark, sf):
    # exact n-gram Jaccard over a 1-in-2 doc sample — the verification
    # face of near-dedup (the LSH-restricted variant is dedup_minhash).
    # Inverted-index gram equi-join, NOT the l._id < r._id theta-join
    # over shingle arrays: the two faces produce identical values
    # (J = i/(na+nb-i) over the same integers; equality asserted in
    # tests/test_contracts.py) but the theta-join is a
    # BroadcastNestedLoopJoin evaluating every one of the C(n,2) pairs
    # — measured 1041 s at sf0.1 (3.1M pairs) vs ~2 s for this shape,
    # whose work is bounded by pairs that SHARE a gram.  Literal gram
    # strings as the join key (not xxhash64) keep the doubles
    # bit-identical to the DuckDB oracle with no collision caveat.
    d = _t(spark, sf, "documents").filter(F.col("doc_id") % 2 == 0)
    sh = d.select(
        F.col("doc_id").alias("_id"),
        dedup_ops.word_shingles(F.col("text"), 3).alias("_sh"),
    ).filter(F.size("_sh") > 0)
    g = sh.select(
        "_id", F.size("_sh").alias("_n"), F.explode("_sh").alias("_g")
    )
    a, b = g.alias("a"), g.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a._g") == F.col("b._g"),
                F.col("a._id") < F.col("b._id"),
            ],
        )
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("_i"),
            F.max("a._n").alias("_na"),
            F.max("b._n").alias("_nb"),
        )
        .withColumn(
            "jaccard",
            F.col("_i").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("_i")),
        )
        .filter(F.col("jaccard") >= 0.05)
        .select("id_a", "id_b", "jaccard")
    )


def q_sim_topk_matmul(spark, sf):
    # J4 [ext] exact top-k via broadcast matmul (FAISS-flat pattern) —
    # same semantics as j4_similarity_topk, different physical plan; the
    # oracle is identical.
    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 50)
    return sim_ops.topk_matmul(q, emb, "embedding", "vec_id", k=5)


def _exact_jaccard_pairs(spark, sf, threshold):
    """EXACT n-gram-Jaccard pair set (id_a < id_b) over ALL documents —
    the ground-truth side of the dedup contracts, formulated as an
    inverted-index gram join (the same shape as the DuckDB oracle and
    the only shape that survives scale): explode per-doc distinct
    shingle hashes, equi-join on the hash, count shared grams per pair,
    and J = i / (|A| + |B| - i) over the same integers the array-ops
    formulation would produce (equality with the string-shingle NLJ
    asserted in tests/test_contracts.py).  Pairs sharing zero grams
    never materialize, so the work is output-bound, not n^2-bound."""
    d = _t(spark, sf, "documents")
    sh = (
        dedup_ops.shingle_hashes(d, "text", "doc_id", 3)
        .filter(F.size("_h") > 0)
        # two scan branches below (both join sides) — cache the kernel
        .persist()
    )
    sh.count()
    g = sh.select("_id", F.size("_h").alias("_n"), F.explode("_h").alias("_g"))
    a, b = g.alias("a"), g.alias("b")
    pairs = (
        a.join(
            b,
            on=[F.col("a._g") == F.col("b._g"), F.col("a._id") < F.col("b._id")],
        )
        .groupBy(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        .agg(
            F.count(F.lit(1)).alias("_i"),
            F.max("a._n").alias("_na"),
            F.max("b._n").alias("_nb"),
        )
        .filter(
            F.col("_i").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("_i"))
            >= threshold
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    sh.unpersist()
    return pairs


# Jaccard threshold shared by the dedup cluster/recall contracts and
# their DuckDB oracles (string-identical SQL fragment lives in
# _EXACT_JACCARD_PAIRS_SQL below).
_DEDUP_J_THRESHOLD = 0.5


def _pair_recall_contract(found: DataFrame, truth: DataFrame) -> DataFrame:
    """Shared error-bound contract over (id_a, id_b) pair sets — the
    pair-operator twin of _ann_recall_contract: anchor the hash to the
    exact pair count, assert perfect precision (every emitted pair is in
    the exact set) and recall >= 0.8.  One definition keeps the three
    pair contracts' thresholds and column names from drifting apart."""
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    n_found = found.agg(F.count(F.lit(1)).alias("_nf"))
    n_inter = found.join(truth, ["id_a", "id_b"], "semi").agg(
        F.count(F.lit(1)).alias("_ni")
    )
    return (
        n_true.crossJoin(n_found)
        .crossJoin(n_inter)
        .select(
            "n_true_pairs",
            (F.col("_ni") == F.col("_nf")).alias("precision_eq_1"),
            (F.col("_ni") >= 0.8 * F.col("n_true_pairs")).alias(
                "recall_ge_080"
            ),
        )
    )


def q_dedup_incremental_recall(spark, sf):
    # continual-ingestion dedup under the error-bound contract (shared
    # _pair_recall_contract shape): odd
    # doc_ids are the "new batch", even ids the standing corpus; the
    # operator pairs new x (corpus ∪ new) only — never corpus x corpus
    # — and the contract anchors to the exact restricted pair count
    # (oracle recomputes it in SQL), with precision guaranteed by exact
    # verification and recall bounded by the shared LSH banding.
    d = _t(spark, sf, "documents")
    found = dedup_ops.minhash_dedup_incremental(
        d.filter(F.col("doc_id") % 2 == 1),
        d.filter(F.col("doc_id") % 2 == 0),
        "text",
        "doc_id",
        threshold=_DEDUP_J_THRESHOLD,
    ).select("id_a", "id_b")
    truth = _exact_jaccard_pairs(spark, sf, _DEDUP_J_THRESHOLD).filter(
        (F.col("id_a") % 2 == 1) | (F.col("id_b") % 2 == 1)
    )
    return _pair_recall_contract(found, truth)


def q_dedup_incremental(spark, sf):
    # continual-ingestion dedup under the PORTABLE signature family
    # (r10: the ann_projected treatment applied to the incremental
    # face): 10% of the corpus arrives as the new batch; pairs touching
    # the batch are found WITHOUT ever expanding corpus x corpus
    # buckets (batch buckets drive the band join).  The oracle is the
    # FULL-RUN portable SQL restricted to batch-touching pairs, so one
    # driver hash certifies signature parity AND that the batch-driven
    # plan misses no pair the full run finds (the incremental ==
    # full-restricted law as a cross-engine differential).  The
    # production crc32/FNV face stays checked by the oracled
    # dedup_incremental_recall contract.  Not a bench headline: at
    # fixture scale the corpus-side signature pass (amortized in a
    # deployment via the stored signature table) dominates.
    d = _t(spark, sf, "documents")
    return dedup_ops.minhash_dedup_incremental_portable(
        d.filter(F.col("doc_id") % 10 == 0),
        d.filter(F.col("doc_id") % 10 != 0),
        "text",
        "doc_id",
        threshold=0.5,
    )


def q_graph_pagerank(spark, sf):
    # Iterative graph centrality (operators/graph.py): integer
    # fixed-point PageRank, 10 rounds at d=85/100 over the directed
    # part-co-order graph — consecutive DISTINCT sorted l_partkeys
    # within each order (the fixture's stand-in for a host link graph;
    # parallel edges across orders weight by frequency).  The edge rule
    # sorts distinct keys, not l_linenumber, because the fixture's
    # (l_orderkey, l_linenumber) is NOT unique — LEAD over it is
    # engine-ambiguous.  Every op is an exact BIGINT op, so the FULL
    # (node, rank) result is bit-portable and the oracle replays all
    # 10 iterations as unrolled SQL CTEs.
    edges = _part_co_order_edges(spark, sf)
    return graph_ops.pagerank_fixed_point(edges, iters=10).select(
        F.col("node").cast("bigint").alias("node"), "rank"
    )


def q_graph_hits(spark, sf):
    # Integer fixed-point HITS (graph.hits_fixed_point): hub and
    # authority scores over the same part-succession graph as
    # graph_pagerank — max-normalized exact BIGINT arithmetic (the
    # raw*scale product runs in DECIMAL(38,0) `div`), 6 rounds, both
    # maxima 1-row broadcast anchors.  Full (node, hub, auth) table
    # oracled by the unrolled MATERIALIZED-CTE replay.
    edges = _part_co_order_edges(spark, sf)
    return graph_ops.hits_fixed_point(edges, iters=6).select(
        F.col("node").cast("bigint").alias("node"), "hub", "auth"
    )


def q_graph_lpa(spark, sf):
    # Deterministic synchronous label propagation (graph.
    # label_propagation): community detection over the undirected view
    # of the part-succession graph — the density-based complement to
    # the reachability-based connected components (CC merges anything
    # touching; LPA splits chains at sparse cuts).  Textbook LPA is
    # randomized; every choice here is pinned (synchronous rounds,
    # self-vote stabilizer, min-label ties), so the FULL (node, label)
    # table is exact integers and oracled by unrolling the 4 rounds as
    # chained CTEs with a deliberately different argmax formulation
    # (QUALIFY row_number vs the min-struct aggregate).
    edges = _part_co_order_edges(spark, sf)
    return graph_ops.label_propagation(edges, iters=4).select(
        F.col("node").cast("bigint").alias("node"),
        F.col("label").cast("bigint").alias("label"),
    )


def _part_co_order_edges(spark, sf):
    # r12 session 2 (guide §2.4): one exchange instead of two.  The
    # r11 shape was distinct(l_orderkey, l_partkey) -> LEAD window —
    # an Exchange on (l_orderkey, l_partkey) for the distinct PLUS an
    # Exchange on l_orderkey for the window, both carrying the full
    # E-row stream.  collect_set does the dedup AND the grouping in
    # ONE map-side-partial aggregate keyed on l_orderkey; the sort is
    # per-group over the (order-bounded, <=7 at any TPC-H scale)
    # distinct-part arrays and the adjacent pairing is a codegen
    # transform.  Identical edge multiset by construction (l_partkey
    # is NOT NULL, so collect_set's null-dropping never fires);
    # scripts/edges_ab_r12.py (kept in git history) asserted multiset
    # equality and full graph_lpa output equality, interleaved min-of-5
    # lpa-noop 5.642 -> 4.886 s at sf0.1.
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
        .filter(F.size("ps") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ps) - 2),"
                    " i -> struct(ps[i] AS src, ps[i+1] AS dst))"
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
    )


def q_graph_pagerank_seeded(spark, sf):
    # Personalized PageRank: restart mass only on the seed set (parts
    # with key % 7 == 0 — the "trusted domain list" of a curation
    # pipeline), so rank measures standing RELATIVE to the seeds.
    # Same exact-integer contract; oracle replays the seed gating in
    # the unrolled CTEs.
    edges = _part_co_order_edges(spark, sf)
    li = _t(spark, sf, "lineitem")
    seeds = (
        li.select(F.col("l_partkey").alias("node"))
        .filter(F.col("node") % 7 == 0)
        .distinct()
    )
    return graph_ops.pagerank_fixed_point(
        edges, iters=10, seeds=seeds
    ).select(F.col("node").cast("bigint").alias("node"), "rank")


def q_dedup_bloom_probe(spark, sf):
    # Bloom-accelerated continual-ingestion dedup under the exactness
    # contract (operators/bloom.py): even doc_ids are the standing
    # corpus, the full table re-arrives as the batch with every third
    # doc rewritten (novel content).  The sharded Bloom sketch prunes
    # provably-novel rows from the exact anti-join; because Bloom has
    # no false negatives the COMPOSED result is exact, so the survivor
    # count is a hard oracle anchor (DuckDB recomputes it via plain
    # set logic), and `prune_covers_most_novel` certifies the sketch
    # actually did the pruning (definitely-new ≥ 90% of true-new —
    # fails if the probe degenerates to flagging everything positive).
    # r11 opt (guide §2.4, §8 "decide with small rows"): the previous
    # formulation rebuilt every shared subtree per consumer — 8 scans
    # of documents, TWO sketch builds and TWO cogroup probes per run
    # (plans/r11/dedup_bloom_probe_before.txt, kept in git history) —
    # because corpus_digests fed bloom_build AND the residual anti-join,
    # batch fed the incremental op AND a second probe AND the distinct
    # count, and the unreused sketch subtree was inlined under both
    # probes.  The digests ARE the decision metadata, so: one digest
    # pass per side (checkpointed — tiny 64-hex tables), one sketch
    # build, and ONE probe whose split serves both faces: the
    # pruned-count face (definitely-new rows = Bloom-negative) and the
    # survivor face (definitely-new + anti-join residual of the
    # Bloom-positive).
    # Identical composed result — the probe input (min-id row per batch
    # digest) is the same representative set the incremental operator's
    # per-digest window picked, and the oracle's n_batch_distinct is
    # already sha-distinct (the op's own exactness contract).  Stage
    # count: 8 scans -> 2, sketch builds 2 -> 1, probes 2 -> 1.
    d = _t(spark, sf, "documents")
    corpus_digests = (
        d.filter(F.col("doc_id") % 2 == 0)
        .select(F.sha2(F.col("text"), 256).alias("content_sha256"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sketch = bloom_ops.bloom_build(
        corpus_digests, "content_sha256", num_shards=8,
        num_bits=1 << 17, num_hashes=7,
    ).localCheckpoint(eager=True)
    batch_digests = (
        d.select(
            "doc_id",
            F.sha2(
                F.when(
                    F.col("doc_id") % 3 == 0,
                    F.concat(F.col("text"), F.lit(" NOVEL")),
                ).otherwise(F.col("text")),
                256,
            ).alias("content_sha256"),
        )
        .groupBy("content_sha256")
        .agg(F.min("doc_id").alias("doc_id"))
        .localCheckpoint(eager=True)
    )
    flagged = bloom_ops.bloom_probe(
        batch_digests, "content_sha256", sketch, num_shards=8
    ).localCheckpoint(eager=True)
    definitely_new = flagged.filter(~F.col("maybe_in_corpus"))
    residual = (
        flagged.filter(F.col("maybe_in_corpus"))
        .join(corpus_digests, "content_sha256", "left_anti")
    )
    n_new = (
        definitely_new.unionByName(residual)
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    n_pruned = definitely_new.agg(F.count(F.lit(1)).alias("_n_pruned"))
    n_batch = batch_digests.agg(
        F.count(F.lit(1)).alias("n_batch_distinct")
    )
    return (
        n_batch.crossJoin(n_new)
        .crossJoin(n_pruned)
        .select(
            "n_batch_distinct",
            "n_new",
            (
                F.col("_n_pruned").cast("double")
                >= F.lit(0.9) * F.col("n_new").cast("double")
            ).alias("prune_covers_most_novel"),
        )
    )


def q_text_heavy_hitters(spark, sf):
    # Corpus heavy-hitters under the count-min error contract
    # (operators/freq.py): the sketch's estimates for the top-20 tokens
    # must satisfy the CM one-sided guarantee — est >= exact always,
    # est <= exact + 4N/width for this corpus (the hash family is
    # fixed, so the estimates are deterministic and the bound is
    # verified at both fixture scales).  The exact side doubles as the
    # oracle anchor; at 100 TB the sketch alone answers, refreshed per
    # batch by elementwise merge, with candidates from batch-local
    # top-k.
    d = _t(spark, sf, "documents")
    trimmed = F.trim(F.lower(F.col("text")))
    toks = d.filter(trimmed != "").select(
        F.explode(F.split(trimmed, r"\s+")).alias("tok")
    )
    width = 1 << 16
    sketch = freq_ops.cms_build(
        toks, "tok", depth=4, width=width, num_shards=32
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n_exact"))
    top = exact.orderBy(
        F.col("n_exact").desc(), F.col("tok").asc()
    ).limit(20)
    est = freq_ops.cms_estimate(top, "tok", sketch)
    total = exact.agg(F.sum("n_exact").alias("_n_total"))
    return (
        est.crossJoin(F.broadcast(total))
        .select(
            "tok",
            "n_exact",
            (F.col("n_est") >= F.col("n_exact")).alias("est_ge_exact"),
            (
                F.col("n_est").cast("double")
                <= F.col("n_exact").cast("double")
                + F.lit(4.0) * F.col("_n_total").cast("double") / F.lit(float(width))
            ).alias("est_within_bound"),
        )
        .orderBy(F.col("n_exact").desc(), F.col("tok").asc())
    )


def q_sketch_mg_heavy_hitters(spark, sf):
    # Misra-Gries mergeable heavy-hitters (freq.mg_summary/mg_merge,
    # Agarwal et al. PODS'12 mergeable-summaries formulation): the
    # ENUMERATING complement to the count-min estimates of
    # text_heavy_hitters — a bounded m-row summary provably containing
    # every token whose true frequency exceeds the carried err bound.
    # Four deterministic sub-streams (doc_id % 4) each build a top-m
    # exact summary; a left-fold merge tree folds them (counter sums,
    # (m+1)-th-largest subtraction, err accumulation).  Everything is
    # exact integers with key-tie determinism, so unlike classical
    # arrival-order MG the whole tree is a pure function of the data
    # and FULL-value oracled by a QUALIFY-window DuckDB replay.
    d = _t(spark, sf, "documents")
    trimmed = F.trim(F.lower(F.col("text")))
    toks = d.filter(trimmed != "").select(
        (F.col("doc_id") % 4).alias("_shard"),
        F.explode(F.split(trimmed, r"\s+")).alias("tok"),
    )
    m = 24
    # r11 opt (the sketch_quantile_mergeable template): build ALL four
    # shard summaries in ONE grouped pass (the old per-shard
    # mg_summary calls re-ran the explode scan per shard, held alive
    # by a persist) — per-shard values are identical by the pinned
    # grouped==global law (tests/test_freq.py::
    # test_mg_grouped_equals_global_per_group).  One eager checkpoint
    # scopes the build; mg_merge is now single-reference, so the
    # 3-merge fold evaluates lazily as ONE job over the <= 4*(m+1)
    # checkpointed rows instead of three checkpoint-barrier jobs.
    # Values and the DuckDB oracle replay are unchanged.
    grouped = freq_ops.mg_summary_grouped(
        toks, "tok", m, ["_shard"]
    ).localCheckpoint(eager=True)
    out = None
    for s in range(4):
        summ = grouped.filter(F.col("_shard") == s).drop("_shard")
        out = summ if out is None else freq_ops.mg_merge(
            out, summ, m, eager=False
        )
    return out


def q_sketch_quantile_mergeable(spark, sf):
    # Deterministic mergeable quantile summary (quantiles.py — the
    # Munro-Paterson/MRL collapse pinned deterministic): the
    # rank/distribution member of the standing-sketch family.  Four
    # deterministic sub-streams (l_orderkey % 4) of exact price cents
    # each build a k=32 weighted middle-of-bucket summary (ranked via
    # layout.global_rank — no single-partition window over the data);
    # a left-fold of eager merges collapses them.  Everything is exact
    # integer arithmetic with value-tie determinism, so the FULL state
    # (idx, value, weight, n_total, err) incl. the metadata anchor row
    # replays bit-exactly in DuckDB via chained MATERIALIZED CTEs.
    # Integerization is floor(x * 128): the fixture stores the price as
    # DOUBLE, and x*100 is inexact there — CAST of the product would
    # TRUNCATE on Spark but ROUND on DuckDB; a power-of-two scale is
    # pure exponent arithmetic and floor is exact on both engines (the
    # ann_lsh_portable quantization discipline).
    li = _t(spark, sf, "lineitem").select(
        F.floor(F.col("l_extendedprice") * F.lit(128.0))
        .cast("long")
        .alias("cents"),
        (F.col("l_orderkey") % 4).alias("_shard"),
    )
    k, n_shards = 32, 4
    # build ALL four shard summaries in ONE grouped pass (r10: the four
    # separate quantile_summary calls each paid a repartitionByRange
    # sampling scan inside every fold job — 3.97 s at sf0.1 was mostly
    # that fixed job fan-out).  The grouped face is value-identical per
    # shard (tests/test_quantiles.py::test_grouped_build_equals_global
    # _per_group — same bucket arithmetic; with value ties the selected
    # order STATISTIC is rank-determined either way), so the fold and
    # its DuckDB oracle are unchanged.  One eager checkpoint scopes the
    # build; each fold then reads <= 4*(k+1) checkpointed rows.
    grouped = quant_ops.quantile_summary_grouped(
        li, "cents", k, ["_shard"]
    ).localCheckpoint(eager=True)
    # r11 opt: lazy single-job fold.  The first attempt (dropping the
    # eager checkpoints from the OLD two-reference quantile_merge) was
    # A/B-measured at 1.88 -> 3.66 s noop-min — each merge referenced
    # its inputs twice (meta + combined), so laziness duplicated
    # subtrees exponentially down the fold.  The merge was then
    # reformulated single-reference (metadata rides the tagged union
    # through one bounded window; bucket selection via explode
    # containment — quantiles.py), making lazy growth LINEAR: the
    # whole 3-merge fold is now ONE job over the <= 4*(k+1)
    # checkpointed build rows instead of three checkpoint-barrier
    # jobs.  Values bit-identical (same combined stream, cumulative
    # order, bucket arithmetic); the DuckDB oracle is unchanged.
    state = None
    for s in range(n_shards):
        summ = grouped.filter(F.col("_shard") == s).drop("_shard")
        state = summ if state is None else quant_ops.quantile_merge(
            state, summ, k, eager=False
        )
    return state


def q_sketch_quantile_grouped(spark, sf):
    # Per-GROUP mergeable quantile summaries (quantiles.
    # quantile_summary_grouped): token-length distribution state PER
    # LANGUAGE — one bounded k=8 summary per lang, each satisfying the
    # validity law independently, with per-group metadata anchors.
    # The value expression is EXACTLY text_tokens' oracled token count
    # (whitespace tokens, ''-safe), so per-row cross-engine equality
    # is already certified; the oracle replays the per-group ranks and
    # the floor-bucket arithmetic in one window query.
    d = _t(spark, sf, "documents")
    vals = d.select(
        "lang",
        ta.token_count(F.col("text")).cast("long").alias("n_tok"),
    )
    return quant_ops.quantile_summary_grouped(vals, "n_tok", 8, ["lang"])


def q_corpus_overlap(spark, sf):
    # corpus-pair contamination estimate under the error-bound contract:
    # HLL inclusion-exclusion intersection (no key shuffle — the 100 TB
    # path) vs the exact intersection count (the oracle-checkable
    # anchor); the acceptance bound is the sketch error model
    # 4 x rsd x (|A| + |B| + |A∪B|), not a flat percentage.
    d = _t(spark, sf, "documents")
    a = d.filter(F.col("doc_id") < 300)
    b = d.filter(F.col("doc_id") >= 200)
    est = dedup_ops.corpus_overlap_estimate(a, "text", b, "text", rsd=0.01)
    ka = a.select(F.col("text").alias("_k")).distinct()
    kb = b.select(F.col("text").alias("_k")).distinct()
    exact = (
        ka.join(kb, "_k", "semi")
        .agg(F.count(F.lit(1)).alias("n_intersect_exact"))
        .crossJoin(ka.agg(F.count(F.lit(1)).alias("_na")))
        .crossJoin(kb.agg(F.count(F.lit(1)).alias("_nb")))
        .crossJoin(
            ka.unionByName(kb)
            .distinct()
            .agg(F.count(F.lit(1)).alias("_nu"))
        )
    )
    return est.crossJoin(exact).select(
        "n_intersect_exact",
        (
            F.abs(F.col("n_intersect_est") - F.col("n_intersect_exact"))
            <= 0.04 * (F.col("_na") + F.col("_nb") + F.col("_nu"))
        ).alias("est_within_bound"),
    )


def q_pipeline_dedup_corpus(spark, sf):
    # the composed end-to-end dedup pipeline, fully oracled: exact
    # near-dup pairs -> connected components -> keep each cluster's
    # minimum id -> surviving corpus.  The oracle replays the same
    # reachability fixed point in SQL and anti-selects the losers.
    d = _t(spark, sf, "documents")
    pairs = _exact_jaccard_pairs(spark, sf, _DEDUP_J_THRESHOLD)
    clusters = dedup_ops.duplicate_clusters(pairs)
    losers = clusters.filter(
        F.col("member_id") != F.col("cluster_id")
    ).select(F.col("member_id").alias("doc_id"))
    return d.join(losers, "doc_id", "left_anti").select("doc_id", "lang")


def q_dedup_clusters(spark, sf):
    # transitive duplicate clusters: connected components (iterative
    # min-label propagation) over the EXACT n-gram-Jaccard pair set —
    # exact input makes the whole query oracle-checkable (DuckDB
    # recursive CTE reachability); the operator under test
    # (duplicate_clusters) is identical to the LSH-fed production path,
    # whose candidate generation is contract-checked by
    # dedup_minhash_recall.
    pairs = _exact_jaccard_pairs(spark, sf, _DEDUP_J_THRESHOLD)
    return dedup_ops.duplicate_clusters(pairs)


def q_ann_lsh(spark, sf):
    # ANN via sign-LSH buckets — raw operator output (bench-comparable
    # r1-r4); the oracle-checkable recall contract is ann_lsh_recall
    emb = _t(spark, sf, "embeddings")
    return sim_ops.ann_topk_lsh(emb, "embedding", "vec_id", k=5)


def _ann_recall_contract(emb, ann, min_recall):
    """Error-bound contract (the a10/a11 pattern) for an approximate
    top-k result: (n_queries, recall_ge_*) — n_queries anchors the hash
    to an exact cross-engine count, the boolean asserts recall of the
    approximate pairs against the exact brute-force baseline computed
    in-query.  The oracle's own baseline is exact, so its recall is
    identically 1.0 and it emits the same TRUE the contract demands."""
    exact = sim_ops.brute_force_topk(emb, emb, "embedding", "vec_id", k=5)
    n_hits = ann.join(
        exact.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "semi",
    ).agg(F.count(F.lit(1)).alias("_nh"))
    n_exact = exact.agg(F.count(F.lit(1)).alias("_ne"))
    n_q = emb.agg(F.count(F.lit(1)).alias("n_queries"))
    return (
        n_q.crossJoin(n_hits)
        .crossJoin(n_exact)
        .select(
            "n_queries",
            (F.col("_nh") >= F.lit(min_recall) * F.col("_ne")).alias(
                f"recall_ge_{int(min_recall * 100):03d}"
            ),
        )
    )


def q_ann_lsh_recall(spark, sf):
    # sign-LSH ANN under the recall contract (threshold matches
    # tests/test_similarity.py::test_ann_recall)
    emb = _t(spark, sf, "embeddings")
    ann = sim_ops.ann_topk_lsh(emb, "embedding", "vec_id", k=5)
    return _ann_recall_contract(emb, ann, 0.70)


def q_ann_lsh_portable(spark, sf):
    # sign-LSH ANN in EXACT INTEGER arithmetic end-to-end (r8 verdict
    # task 7: the full-value-oracle twin of the rows-only ann_lsh):
    # components quantize by floor(v * 2^10) (power-of-two scaling +
    # floor are bit-exact on any IEEE engine), signature bits are signs
    # of int64 dots against seeded integer hyperplane literals shared
    # with the oracle SQL, candidates share >= 1 of 4 packed 8-bit
    # bands, ranking is the exact int64 dot with (dot desc, id asc)
    # tie-break — DuckDB replays every row bit-exactly.
    emb = _t(spark, sf, "embeddings")
    return sim_ops.lsh_portable_topk(emb, "embedding", "vec_id", k=5)


def _ann_lsh_portable_sql(
    dim: int = 64,
    bits: int = 32,
    bands: int = 4,
    seed: int = 29,
    scale_bits: int = 10,
    k: int = 5,
    filter_col: str | None = None,
    max_bucket_size: int | None = None,
) -> str:
    """DuckDB replay of lsh_portable_topk: the SAME integer hyperplane
    literals (similarity.int_lsh_planes), the same floor(v * 2^s)
    quantization, banded self-join, exact int64 dot ranking.  With
    ``filter_col`` set it replays filtered_banded_topk instead — the
    filter column joins the candidate key, everything else is the
    SAME generated SQL (one generator, like the one shared operator
    body: the two faces cannot drift).  ``max_bucket_size`` replays
    the degenerate-bucket cap (drop every signature row whose
    (filter, band, val) bucket exceeds the cap) when the operator
    runs with one."""
    from subgraph_extractor_spark.operators.similarity import int_lsh_planes

    planes = int_lsh_planes(dim, bits, seed)
    rows = bits // bands
    scale = float(1 << scale_bits)
    wvals = ",".join(
        f"({b},{j + 1},{planes[b][j]})"
        for b in range(bits)
        for j in range(dim)
    )
    if max_bucket_size is not None:
        # capped form: materialize the (filter?, band, val) signature
        # table, drop over-cap buckets with a window count (the
        # operator's exact formulation), pair within what survives
        if filter_col is None:
            sigf = "SELECT vec_id, band, val FROM sig"
            part, fc_eq, fc_col = "band, val", "", ""
        else:
            sigf = (
                f"SELECT s.vec_id, e.{filter_col} AS fc, s.band, s.val"
                " FROM sig s JOIN embeddings e ON e.vec_id = s.vec_id"
            )
            part, fc_eq, fc_col = (
                "fc, band, val", "a.fc = b.fc AND ", "fc, "
            )
        pairs_cte = f"""sigf AS ({sigf}),
    capped AS (
      SELECT {fc_col}vec_id, band, val FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY {part}) AS bsz FROM sigf)
      WHERE bsz <= {max_bucket_size}
    ),
    pairs AS (
      SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM capped a JOIN capped b
        ON {fc_eq}a.band = b.band AND a.val = b.val
       AND a.vec_id <> b.vec_id
    )"""
    elif filter_col is None:
        pairs_cte = """pairs AS (
      SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM sig a JOIN sig b
        ON a.band = b.band AND a.val = b.val AND a.vec_id <> b.vec_id
    )"""
    else:
        pairs_cte = f"""pairs AS (
      SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM sig a
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN sig b ON a.band = b.band AND a.val = b.val
                AND a.vec_id <> b.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
                        AND eb.{filter_col} = ea.{filter_col}
    )"""
    return f"""
    WITH w(bit, j, wt) AS (VALUES {wvals}),
    qv AS (
      SELECT vec_id, j,
             CAST(floor(CAST(comp AS DOUBLE) * {scale}) AS BIGINT) AS q
      FROM (SELECT vec_id, unnest(embedding) AS comp,
                   generate_subscripts(embedding, 1) AS j
            FROM embeddings)
    ),
    bits_t AS (
      SELECT qv.vec_id, w.bit,
             CASE WHEN SUM(w.wt * qv.q) >= 0 THEN 1 ELSE 0 END AS b
      FROM qv JOIN w ON w.j = qv.j
      GROUP BY qv.vec_id, w.bit
    ),
    sig AS (
      SELECT vec_id, bit // {rows} AS band,
             CAST(SUM(b * (1 << (bit % {rows}))) AS BIGINT) AS val
      FROM bits_t GROUP BY vec_id, bit // {rows}
    ),
    {pairs_cte},
    scored AS (
      SELECT p.query_id, p.neighbor_id,
             CAST(SUM(qa.q * qb.q) AS BIGINT) AS qdot
      FROM pairs p
      JOIN qv qa ON qa.vec_id = p.query_id
      JOIN qv qb ON qb.vec_id = p.neighbor_id AND qb.j = qa.j
      GROUP BY p.query_id, p.neighbor_id
    )
    SELECT query_id, neighbor_id, qdot, rank FROM (
      SELECT query_id, neighbor_id, qdot,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY qdot DESC, neighbor_id ASC) AS INT) AS rank
      FROM scored)
    WHERE rank <= {k}
    """


def q_ann_ivf(spark, sf):
    # ANN via KMeans IVF cells under the recall contract.  Measured
    # recall at sf0.01 is 0.8056 (parallelism-independent: identical at
    # local[8/16/32]); the contract bound is 0.75 to keep the check
    # meaningful without sitting 0.6% from the boundary — the tighter
    # 0.80 assertion lives in tests/test_similarity.py::test_ivf_recall.
    emb = _t(spark, sf, "embeddings")
    ann = sim_ops.ivf_topk(emb, "embedding", "vec_id", k=5)
    return _ann_recall_contract(emb, ann, 0.75)


def q_text_tokens(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        "lang",
        ta.token_count(F.col("text")).alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_m"),
    )


def q_text_quality(spark, sf):
    d = _t(spark, sf, "documents")
    return ta.quality_features(d, "text").select(
        "doc_id", "n_tokens", "punct_ratio", "stopword_ratio", "mean_token_len"
    )


def q_text_lang(spark, sf):
    # staged: scores in one projection (each marker scan compiles once),
    # argmax over plain column refs on top — CollapseProject keeps the
    # stages apart because the non-cheap score aliases are multiply
    # referenced, so the generated class stays far under janino limits
    # (the monolithic form failed to compile and ran interpreted, r8)
    d = _t(spark, sf, "documents")
    scored = d.select("doc_id", *ta.lang_scores(F.col("text")).values())
    return scored.select(
        "doc_id",
        ta.predict_from_scores(
            {lang: F.col(f"score_{lang}") for lang in ta.LANG_MARKERS}
        ).alias("pred_lang"),
    )


def q_text_fingerprint(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id", ta.content_fingerprint(F.col("text")).alias("fingerprint")
    )


def q_text_repetition(spark, sf):
    # Gopher/RefinedWeb-style intra-document repetition signals: the
    # most-frequent-bigram fraction and the duplicated-trigram fraction
    # per document — map-side HOF n-grams, per-doc-bounded aggregation
    d = _t(spark, sf, "documents")
    return ta.repetition_features(d, "text", "doc_id")


def q_sample_mixture(spark, sf):
    # deterministic training-mix sampling: largest corpus hitting the
    # 50/30/20 en/de/zh target given per-language availability — counts,
    # global-min capacity, broadcast quota join, one rank window
    d = _t(spark, sf, "documents")
    return sampling_ops.mixture_sample(
        d, F.col("doc_id"), F.col("lang"), {"en": 0.5, "de": 0.3, "zh": 0.2}
    ).select(
        "doc_id",
        F.col("_stratum").alias("stratum"),
        F.col("_rk").cast("bigint").alias("rk"),
    )


def q_layout_zorder(spark, sf):
    # Z-order (Morton) clustering key — the lakehouse OPTIMIZE ZORDER BY
    # primitive for multi-column data skipping; pure codegen bit
    # interleave, bit-exactly mirrorable in SQL
    from subgraph_extractor_spark.operators.layout import zorder_key

    li = _t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_partkey",
        "l_linenumber",
        zorder_key([F.col("l_orderkey"), F.col("l_partkey")], bits=16).alias(
            "zkey"
        ),
    )


def q_text_winnowing(spark, sf):
    # winnowing local fingerprints (Schleimer et al.) in the portable
    # md5_64 hash mode: fingerprint VALUES and the window-min selection
    # are bit-identical to a pure-SQL winnowing over md5_number_lower
    # gram hashes, so the full (doc_id, fp) row set is oracle-checked —
    # not just a count.  The crc32 production mode shares every code
    # path except the gram hash (tests/test_text.py).
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.explode(
            ta.winnowing_fingerprints(F.col("text"), hash_name="md5_64")
        ).alias("fp"),
    )


def q_emb_neardup(spark, sf):
    # embedding cosine near-dup under the error-bound contract:
    # n_true_pairs anchors the hash to the exact all-pairs count (DuckDB
    # mirrors it with list_cosine_similarity over DOUBLE-cast vectors);
    # precision_eq_1 holds because every emitted pair is exact-cosine
    # verified; recall_ge_080 bounds what the LSH candidate stage may
    # miss.  Fixture embeddings top out near cosine 0.51 pairwise, so
    # the "near-dup" band for this corpus is the extreme high tail.
    emb = _t(spark, sf, "embeddings")
    found = dedup_ops.embedding_neardup_pairs(
        emb, "embedding", "vec_id", threshold=0.4
    ).select("id_a", "id_b")
    truth = _exact_cosine_pairs(spark, sf, 0.4)
    return _pair_recall_contract(found, truth)


def _exact_cosine_pairs(spark, sf, threshold):
    """Exact all-pairs cosine >= threshold over the embeddings table —
    the documented brute-force baseline (quadratic; fixture-scale only).
    The scale path is dedup.embedding_neardup_pairs, recall-checked
    against this same truth by the emb_neardup contract."""
    emb = _t(spark, sf, "embeddings")
    # r12 session 2 (guide §1.2): per-vector norm and double-cast
    # hoisted out of the per-pair expression (the brute_force_topk
    # hoist) — the pair cosine divides the same dot by the same
    # (norm_l * norm_r) product the inline cosine_similarity computed,
    # so every _cos double and therefore the >= threshold pair set is
    # bit-identical; per pair 3 interpreted folds -> 1.
    e = emb.select(
        F.col("vec_id").alias("_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "_v"
        ),
        sim_ops.norm(F.col("embedding")).alias("_n"),
    )
    par = spark.sparkContext.defaultParallelism
    l, r = e.repartition(par).alias("l"), e.alias("r")
    return (
        l.join(r, F.col("l._id") < F.col("r._id"))
        .withColumn(
            "_cos",
            sim_ops.dot(F.col("l._v"), F.col("r._v"))
            / (F.col("l._n") * F.col("r._n")),
        )
        .filter(F.col("_cos") >= threshold)
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
    )


def q_pipeline_semdedup(spark, sf):
    # SemDeDup (Abbas et al. 2023): semantic-duplicate clusters over
    # embedding cosine space, ONE survivor per cluster (lowest id).
    # Exact pair truth makes the whole pipeline bit-checkable: the
    # DuckDB oracle rebuilds clusters via recursive-CTE reachability
    # over the same exact cosine pairs and drops the same losers.  The
    # production candidate path (sign-LSH + cogroup verify) is recall-
    # contract-checked separately by emb_neardup.
    emb = _t(spark, sf, "embeddings")
    truth = _exact_cosine_pairs(spark, sf, 0.4)
    out = semdedup_ops.semantic_dedup(emb, truth, "vec_id")
    return out.select("vec_id", "label")


def _events_with_seconds(spark, sf):
    ev = _with_event_micros(_t(spark, sf, "events"))
    return ev.withColumn(
        "_sec", F.floor(F.col("_us") / F.lit(1_000_000)).cast("long")
    )


def q_ts_resample(spark, sf):
    # dense per-user daily grid with zero-filled silent days — the
    # gap-fill/resample surface charting and featurization need; grid
    # via codegen sequence(), one (user, bucket) join.  Integer epoch
    # arithmetic end to end, so the full grid hashes bit-exactly.
    from subgraph_extractor_spark.operators import timeseries as ts_ops

    ev = _events_with_seconds(spark, sf)
    out = ts_ops.resample_counts(ev, "_sec", "user_id", interval_s=86400)
    return out.select("user_id", "bucket_start", "n_events")


def q_ts_cohort_retention(spark, sf):
    # weekly cohort retention matrix: users bucketed by first-seen week,
    # counted in each later week they return — two hash aggregates over
    # one scan shape, all-integer arithmetic, full-value oracle.
    from subgraph_extractor_spark.operators import timeseries as ts_ops

    ev = _events_with_seconds(spark, sf)
    return ts_ops.cohort_retention(ev, "_sec", "user_id", period_s=604800)


def q_ts_moving_avg(spark, sf):
    # 7-day moving average over the GAP-FILLED daily grid — the
    # composition that motivates gap-fill: without zero rows a rolling
    # frame silently skips silent days and overstates activity.  The
    # average is emitted as one exact integer sum divided once, so it
    # hashes bit-exactly (built-in avg() may sum in engine-specific
    # types; sum/count division is a single IEEE op on both engines).
    from subgraph_extractor_spark.operators import timeseries as ts_ops

    ev = _events_with_seconds(spark, sf)
    grid = ts_ops.resample_counts(ev, "_sec", "user_id", interval_s=86400)
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket_start")
        .rowsBetween(-6, 0)
    )
    return grid.select(
        "user_id",
        "bucket_start",
        "n_events",
        (
            F.sum("n_events").over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("ma7"),
    )


def q_a14_mad_outliers(spark, sf):
    # robust outlier detection: per-group median / median-absolute-
    # deviation (MAD) and the count beyond 3*MAD — the robust-statistics
    # face of profiling.  Exact interpolated percentiles are bit-equal
    # across engines (the a9 result), |x-med| and the 3*MAD boundary are
    # single IEEE ops on identical doubles, so the full row set hashes.
    o = _t(spark, sf, "orders")
    med = o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("med")
    )
    j = o.join(med, "o_orderpriority").withColumn(
        "_ad", F.abs(F.col("o_totalprice") - F.col("med"))
    )
    mad = j.groupBy("o_orderpriority").agg(
        F.percentile("_ad", F.lit(0.5)).alias("mad")
    )
    return (
        j.join(mad, "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.sum(
                F.when(F.col("_ad") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_ts_sliding(spark, sf):
    # hopping-window counts, batch face: 1h windows hopping 30min via a
    # codegen sequence() explode (each event fans into interval/hop
    # windows — no self-join); integer epoch grid, full-value oracle.
    from subgraph_extractor_spark.operators import timeseries as ts_ops

    ev = _events_with_seconds(spark, sf)
    return ts_ops.sliding_counts(ev, "_sec", 3600, 1800)


def q_dataset_fingerprint(spark, sf):
    # order-insensitive corpus equality certificate: 60-bit md5 row
    # terms summed mod 2^61-1 — partitioning/order/engine independent,
    # so DuckDB replays the exact certificate (the row-level analogue
    # of the reference's _metadata manifest commit).
    from subgraph_extractor_spark.operators import fingerprint as fp_ops

    d = _t(spark, sf, "documents")
    return fp_ops.dataset_fingerprint(
        d, ["doc_id", "lang", "n_chars", "source", "text"]
    )


def q_dataset_fingerprint_groups(spark, sf):
    # incremental form: per-language certificates — compare exports
    # group by group, re-ship only differing groups.
    from subgraph_extractor_spark.operators import fingerprint as fp_ops

    d = _t(spark, sf, "documents")
    return fp_ops.grouped_fingerprints(
        d, "lang", ["doc_id", "n_chars", "source", "text"]
    )


def q_ts_funnel(spark, sf):
    # ordered funnel view -> click -> purchase under min-chain
    # semantics (step i's time = earliest qualifying event at/after
    # step i-1's time) — k filtered min-aggregates + keyed joins, no
    # per-user event arrays; all-integer micros, full-value oracle.
    from subgraph_extractor_spark.operators import timeseries as ts_ops

    ev = _with_event_micros(_t(spark, sf, "events"))
    return ts_ops.funnel_counts(
        ev, "_us", "user_id", "event_type", ["view", "click", "purchase"]
    )


def q_quality_classifier(spark, sf):
    # classifier-based corpus filtering (the GPT-3/LLaMA pipeline
    # stage), here as FILTER DISTILLATION: train a hashed-bag-of-words
    # logistic regression on even docs labeled by the heuristic quality
    # gate, score the held-out odd docs.  L-BFGS coefficients are
    # tree-aggregated floats (not bit-portable), so the contract is the
    # a10 pattern: exact split-count anchors + a held-out accuracy
    # bound (measured 0.976 at sf0.01; base rate 0.66).
    from subgraph_extractor_spark.operators import classifier as clf_ops

    d = _t(spark, sf, "documents")
    n_tokens = F.when(F.trim(F.col("text")) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.col("text")), "\\s+"))
    )
    n_punct = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), "[.,;:!?]", "")
    )
    lab = d.withColumn(
        "ok",
        (
            (n_tokens >= 40)
            & (n_punct / F.greatest(F.length("text"), F.lit(1)) <= 0.1)
        ).cast("double"),
    )
    train = lab.filter(F.col("doc_id") % 2 == 0)
    test = lab.filter(F.col("doc_id") % 2 == 1)
    model = clf_ops.train_text_classifier(train, "text", "ok")
    scored = clf_ops.score_documents(model, test, "text")
    n_correct = scored.filter(
        F.col("prediction") == F.col("ok")
    ).agg(F.count(F.lit(1)).alias("_nc"))
    n_tr = train.agg(F.count(F.lit(1)).alias("n_train"))
    n_te = test.agg(F.count(F.lit(1)).alias("n_test"))
    return (
        n_tr.crossJoin(n_te)
        .crossJoin(n_correct)
        .select(
            "n_train",
            "n_test",
            (F.col("_nc") >= 0.9 * F.col("n_test")).alias(
                "holdout_acc_ge_090"
            ),
        )
    )


def q_pipeline_shard_append(spark, sf):
    # continual-ingestion shard append under an adversarial parity
    # split: even docs form the standing sharded corpus, odd docs are
    # the new batch routed by the same hash rule with positions
    # CONTINUING per shard.  The union is a pure function of the data,
    # so the full (doc_id, shard, pos) layout hashes bit-exactly —
    # certifying both position stability and the continuation rule.
    from subgraph_extractor_spark.operators import shuffling as shuffle_ops

    d = _t(spark, sf, "documents").select("doc_id")
    old = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1)
    standing = shuffle_ops.deterministic_shuffle(old, "doc_id", 4, "ep0")
    appended = shuffle_ops.append_to_shards(
        new, shuffle_ops.shard_counts(standing), "doc_id", 4, "ep0"
    )
    return standing.unionByName(appended).select(
        "doc_id", "shard", F.col("pos").cast("bigint").alias("pos")
    )


def q_text_bpe_train(spark, sf):
    # distributed BPE merge training (Sennrich 2016) under a contract
    # oracle: the exact word/token anchors and the FIRST learned merge
    # (argmax adjacent char-pair, count DESC / left / right ties) are
    # recomputed independently by DuckDB bit-exactly; deeper merges
    # depend on iterated state no SQL engine expresses, so they are
    # certified by (a) n_reconstruct_bad == 0 — decoding the encoded
    # vocabulary reproduces every word, which fails if any learned
    # merge or its application is wrong — and (b) the non-increasing
    # best-count sequence (new pairs are bounded by the merge that
    # created them).  Full merge-list equality vs a verbatim Sennrich
    # reference is pytest-covered (test_bpe.py).
    from subgraph_extractor_spark.operators import bpe as bpe_ops

    d = _t(spark, sf, "documents")
    wf = bpe_ops.word_freqs(d, "text").persist()
    merges = bpe_ops.train_bpe(wf, num_merges=20, min_count=2)
    enc = bpe_ops.encode_words(wf.select("word"), merges)
    n_bad = enc.filter(
        F.concat_ws("", F.col("tokens"))
        != F.concat(F.col("word"), F.lit(bpe_ops.END_OF_WORD))
    ).count()
    anchors = wf.agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("freq").alias("total_tokens"),
    ).collect()[0]
    wf.unpersist()
    counts = [c for _, _, c in merges]
    row = (
        int(anchors["n_words"]),
        int(anchors["total_tokens"]),
        merges[0][0],
        merges[0][1],
        int(merges[0][2]),
        int(len(merges)),
        int(n_bad),
        counts == sorted(counts, reverse=True),
    )
    return spark.createDataFrame(
        [row],
        "n_words bigint, total_tokens bigint, first_left string, "
        "first_right string, first_count bigint, n_merges bigint, "
        "n_reconstruct_bad bigint, merges_nonincreasing boolean",
    )


def q_pipeline_shuffle_shard(spark, sf):
    # deterministic global shuffle for training export: shard + in-shard
    # position are pure functions of (seed, doc_id) via md5, so the
    # epoch permutation is engine-independent and the DuckDB oracle
    # reproduces every (shard, pos) bit-exactly.  One shuffle (the
    # per-shard rank window); shard count is the scale knob.
    from subgraph_extractor_spark.operators import shuffling as shuffle_ops

    d = _t(spark, sf, "documents").select("doc_id")
    out = shuffle_ops.deterministic_shuffle(d, "doc_id", 8, seed="ep0")
    return out.select(
        "doc_id", "shard", F.col("pos").cast("bigint").alias("pos")
    )


def q_ann_projected(spark, sf):
    # coarse-to-fine projected ANN in EXACT INTEGER arithmetic end to
    # end (r9 verdict task #7: oracle this face for real): components
    # quantize by floor(v * 2^10), the projection is the integer md5
    # matrix (2*md5_byte - 255 — the same md5 family as the float
    # deployment face, scaled into exact integers), the coarse pass is
    # an exact int64 sharded matmul top-(k*expand), and candidates
    # re-rank by the exact int64 full-dim quantized dot — DuckDB
    # replays every (query_id, neighbor_id, qdot, rank) row
    # bit-exactly.  The float deployment face (BLAS projection + float
    # cosine) keeps its recall contract as ann_projected_recall.
    emb = _t(spark, sf, "embeddings")
    return sim_ops.projected_topk_portable(
        emb, "embedding", "vec_id", k=5, out_dim=32, in_dim=64, expand=30
    )


def _ann_projected_sql(
    in_dim: int = 64,
    out_dim: int = 32,
    seed: str = "rp",
    scale_bits: int = 10,
    k: int = 5,
    expand: int = 30,
) -> str:
    """DuckDB replay of projected_topk_portable: the SAME integer md5
    projection matrix literals (similarity.int_projection_matrix), the
    same floor(v * 2^s) quantization, exact integer coarse
    top-(k*expand) per query, exact int64 full-dim re-rank."""
    from subgraph_extractor_spark.operators.similarity import (
        int_projection_matrix,
    )

    W = int_projection_matrix(in_dim, out_dim, seed)
    scale = float(1 << scale_bits)
    wvals = ",".join(
        f"({j},{i + 1},{W[j][i]})"
        for j in range(out_dim)
        for i in range(in_dim)
    )
    return f"""
    WITH w(j, i, wt) AS (VALUES {wvals}),
    qv AS (
      SELECT vec_id, i,
             CAST(floor(CAST(comp AS DOUBLE) * {scale}) AS BIGINT) AS q
      FROM (SELECT vec_id, unnest(embedding) AS comp,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)
    ),
    p AS (
      SELECT qv.vec_id, w.j, CAST(SUM(w.wt * qv.q) AS BIGINT) AS pj
      FROM qv JOIN w ON w.i = qv.i
      GROUP BY qv.vec_id, w.j
    ),
    pdots AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             CAST(SUM(a.pj * b.pj) AS BIGINT) AS pdot
      FROM p a JOIN p b ON a.j = b.j AND a.vec_id <> b.vec_id
      GROUP BY a.vec_id, b.vec_id
    ),
    coarse AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY pdot DESC, neighbor_id ASC) AS cr
        FROM pdots)
      WHERE cr <= {k * expand}
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(SUM(qa.q * qb.q) AS BIGINT) AS qdot
      FROM coarse c
      JOIN qv qa ON qa.vec_id = c.query_id
      JOIN qv qb ON qb.vec_id = c.neighbor_id AND qb.i = qa.i
      GROUP BY c.query_id, c.neighbor_id
    )
    SELECT query_id, neighbor_id, qdot, rank FROM (
      SELECT query_id, neighbor_id, qdot,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY qdot DESC, neighbor_id ASC) AS INT) AS rank
      FROM scored)
    WHERE rank <= {k}
    """


def q_ann_projected_recall(spark, sf):
    # coarse-to-fine ANN: deterministic md5 random projection 64->32
    # dims, coarse pass in the projected space, exact full-dim re-rank
    # to top-5 — the production coarse-quantizer + re-rank pattern.
    # Contract: recall >= 0.8 vs the in-query exact baseline (measured
    # 0.89 at sf0.01; this fixture's near-random embeddings are the
    # WORST case for metric projections — clustered real-text
    # embeddings do far better).  On near-RANDOM vectors recall tracks
    # the candidate COVERAGE FRACTION, not an absolute candidate count
    # (a projection preserves distances, but random distances
    # concentrate, so the coarse ordering is noisy) — a fixed expand
    # that passes at sf0.01 therefore fails at sf0.1 (found by running
    # this harness at both scales).  The contract query scales expand
    # to keep ~30% coverage of the fixture corpus; real clustered
    # embeddings are where the absolute-expand deployment (the raw
    # ann_projected query keeps expand=30) earns its cost model.
    emb = _t(spark, sf, "embeddings")
    k = 5
    # Eager count at construction, deliberately (ADVICE r4 flagged it vs
    # the side-effect-free discipline of commit 8383051): the contract's
    # coverage-fraction math needs the EXACT corpus cardinality — a
    # Catalyst sizeInBytes estimate (the _n_shards approach) that
    # under-counts would undershoot the ~30% coverage target and flake
    # the recall >= 0.8 floor.  Over a raw parquet scan count() is a
    # footer-metadata job (no data read), so the cost is one tiny job.
    n = emb.count()
    expand = max(30, -(-3 * n // (10 * k)))  # ceil(0.3 * n / k)
    ann = sim_ops.projected_topk_rerank(
        emb, "embedding", "vec_id", k=k, out_dim=32, in_dim=64,
        expand=expand,
    )
    return _ann_recall_contract(emb, ann, 0.8)


def q_ann_projected_lsh(spark, sf):
    # the SUB-QUADRATIC coarse-to-fine composition (projection ->
    # sign-LSH in projected space -> full-dim re-rank) in EXACT INTEGER
    # arithmetic end to end (r10: the ann_projected treatment applied
    # to the composition — the last rows-only ANN face): the integer
    # md5 projection feeds seeded integer sign-hyperplanes, candidates
    # share >= 1 of 4 packed bands (equi-join, never all-pairs), and
    # the exact int64 quantized full-dim dot ranks them — DuckDB
    # replays every (query_id, neighbor_id, qdot, rank) row bit-
    # exactly.  The float BLAS composition keeps its recall contract
    # as ann_projected_lsh_recall.
    emb = _t(spark, sf, "embeddings")
    return sim_ops.projected_lsh_topk_portable(
        emb, "embedding", "vec_id", k=5, out_dim=32, in_dim=64
    )


def _ann_projected_lsh_sql(
    in_dim: int = 64,
    out_dim: int = 32,
    bits: int = 32,
    bands: int = 4,
    seed: str = "rp",
    plane_seed: int = 31,
    scale_bits: int = 10,
    k: int = 5,
) -> str:
    """DuckDB replay of projected_lsh_topk_portable: the SAME integer
    projection-matrix and hyperplane literals, quantize -> project ->
    sign bands -> banded candidates -> exact int64 full-dim rerank."""
    from subgraph_extractor_spark.operators.similarity import (
        int_lsh_planes,
        int_projection_matrix,
    )

    W = int_projection_matrix(in_dim, out_dim, seed)
    planes = int_lsh_planes(out_dim, bits, plane_seed)
    rows = bits // bands
    scale = float(1 << scale_bits)
    wvals = ",".join(
        f"({j},{i + 1},{W[j][i]})"
        for j in range(out_dim)
        for i in range(in_dim)
    )
    pvals = ",".join(
        f"({b},{j},{planes[b][j]})"
        for b in range(bits)
        for j in range(out_dim)
    )
    return f"""
    WITH w(j, i, wt) AS (VALUES {wvals}),
    pl(bit, j, wt) AS (VALUES {pvals}),
    qv AS (
      SELECT vec_id, i,
             CAST(floor(CAST(comp AS DOUBLE) * {scale}) AS BIGINT) AS q
      FROM (SELECT vec_id, unnest(embedding) AS comp,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)
    ),
    p AS (
      SELECT qv.vec_id, w.j, CAST(SUM(w.wt * qv.q) AS BIGINT) AS pj
      FROM qv JOIN w ON w.i = qv.i
      GROUP BY qv.vec_id, w.j
    ),
    bits_t AS (
      SELECT p.vec_id, pl.bit,
             CASE WHEN SUM(pl.wt * p.pj) >= 0 THEN 1 ELSE 0 END AS b
      FROM p JOIN pl ON pl.j = p.j
      GROUP BY p.vec_id, pl.bit
    ),
    sig AS (
      SELECT vec_id, bit // {rows} AS band,
             CAST(SUM(b * (1 << (bit % {rows}))) AS BIGINT) AS val
      FROM bits_t GROUP BY vec_id, bit // {rows}
    ),
    pairs AS (
      SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM sig a JOIN sig b
        ON a.band = b.band AND a.val = b.val AND a.vec_id <> b.vec_id
    ),
    scored AS (
      SELECT pr.query_id, pr.neighbor_id,
             CAST(SUM(qa.q * qb.q) AS BIGINT) AS qdot
      FROM pairs pr
      JOIN qv qa ON qa.vec_id = pr.query_id
      JOIN qv qb ON qb.vec_id = pr.neighbor_id AND qb.i = qa.i
      GROUP BY pr.query_id, pr.neighbor_id
    )
    SELECT query_id, neighbor_id, qdot, rank FROM (
      SELECT query_id, neighbor_id, qdot,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY qdot DESC, neighbor_id ASC) AS INT) AS rank
      FROM scored)
    WHERE rank <= {k}
    """


def q_ann_projected_lsh_recall(spark, sf):
    # recall contract for the projected+LSH composition.  DOUBLE
    # approximation (projection distance noise x LSH candidate recall),
    # so the floor is looser than either stage alone: measured 0.81 at
    # sf0.01 / 0.86 at sf0.1 with the same coverage-scaled expand as
    # ann_projected_recall (near-random fixture vectors are the worst
    # case — coarse ordering noise tracks coverage fraction, hence the
    # exact-count expand math; see that query's comment).  Floor 0.75.
    emb = _t(spark, sf, "embeddings")
    k = 5
    n = emb.count()
    expand = max(30, -(-3 * n // (10 * k)))  # ceil(0.3 * n / k)
    ann = sim_ops.projected_lsh_topk(
        emb, "embedding", "vec_id", k=k, out_dim=32, in_dim=64,
        expand=expand,
    )
    return _ann_recall_contract(emb, ann, 0.75)


def q_sample_temperature(spark, sf):
    # temperature mixture (mT5/XLM-R rebalancing) at tau=2: quotas are
    # floor(sqrt(n_s) * sqrt(n_min)) — both factors IEEE correctly-
    # rounded sqrt, so the mix is bit-portable and the FULL sampled row
    # set is oracle-checkable (stable md5 rank order per stratum).
    # Stratified by language — the skewed axis of this corpus (en is
    # ~3.4x fr), i.e. the actual multilingual rebalancing use case.
    d = _t(spark, sf, "documents")
    out = sampling_ops.temperature_mixture_sample(
        d, F.col("doc_id"), F.col("lang"), tau=2.0
    )
    return out.select("doc_id", F.col("_stratum").alias("lang"))


def q_dedup_containment(spark, sf):
    # asymmetric containment near-dups: |A∩B| / min(|A|,|B|) >= 0.9 —
    # catches embedded-document relations symmetric Jaccard misses.
    # Full-value oracle: one exact-integer division per pair is IEEE
    # bit-identical across engines.
    d = _t(spark, sf, "documents")
    return dedup_ops.containment_pairs(d, "text", "doc_id", 3, 0.9)


def q_dedup_cdc_chunks(spark, sf):
    # content-defined chunk dedup (dedup.cdc_chunk_dedup, the
    # rsync/LBFS rolling-boundary technique at token granularity): a
    # token closes its chunk iff its 48-bit md5 slice ≡ 0 mod 8, so
    # boundaries survive insertions/deletions that shift the fixed
    # token grid of dedup_chunks.  Chunking is a pure JVM fold
    # (F.aggregate, map-only); one chunk-hash-keyed shuffle keeps each
    # chunk's first (doc, pos) occurrence.  Full-value oracle via a
    # DELIBERATELY different formulation (unnest + boundary flag +
    # prefix-sum window + ordered string_agg) — a stronger
    # differential check than replaying the fold.
    d = _t(spark, sf, "documents")
    return dedup_ops.cdc_chunk_dedup(d, "doc_id", "text", divisor=8)


def q_dedup_cdc_novelty(spark, sf):
    # per-document novelty at content-defined chunk granularity
    # (dedup.cdc_doc_novelty): even docs form the standing corpus
    # chunk table, odd docs are the ingest batch, and each batch doc
    # reports (n_chunks, n_novel) — the crawl-refresh signal that
    # drops low-novelty re-crawls before tokenization.  Chunking is
    # the same map-only JVM fold as dedup_cdc_chunks; the membership
    # probe is one left join on chunk_sha + one groupBy on doc id.
    # Exact integer counts; the oracle replays the chunking with the
    # deliberately different unnest + prefix-sum formulation and
    # COUNT(CASE ...) novelty (BIGINT on both engines).
    d = _t(spark, sf, "documents")
    corpus = dedup_ops.cdc_chunk_dedup(
        d.filter(F.col("doc_id") % 2 == 0), "doc_id", "text", divisor=8
    )
    return dedup_ops.cdc_doc_novelty(
        d.filter(F.col("doc_id") % 2 == 1), "doc_id", "text",
        corpus, divisor=8,
    )


def q_dedup_editdist(spark, sf):
    # edit-distance verified near-dups: exact Jaccard candidates (the
    # oracle-shared inverted-index formulation) verified by codegen
    # Levenshtein at <= 30% of the longer text.  Full-value oracle —
    # DuckDB recomputes every distance (byte==char on this ASCII
    # corpus; see edit_distance_pairs docstring).
    d = _t(spark, sf, "documents")
    cands = _exact_jaccard_pairs(spark, sf, _DEDUP_J_THRESHOLD)
    return dedup_ops.edit_distance_pairs(
        d, cands, "doc_id", "text", rel_threshold=0.3
    )


def q_pipeline_pretraining_e2e(spark, sf):
    # the full corpus-to-training-export path in ONE composed Catalyst
    # plan: exact dedup (keep lowest id per sha256) -> quality gate ->
    # stable train split (md5 bucket) -> deterministic shuffle-shard of
    # the train split (seed'd epoch permutation).  Every stage is a pure
    # function of the data, so the DuckDB oracle replays the whole
    # pipeline and the final (doc_id, shard, pos) export manifest
    # hashes bit-exactly.  BPE tokenization and sequence packing compose
    # downstream of this cut (text_bpe_train / pipeline_pack_sequences).
    from subgraph_extractor_spark.operators import shuffling as shuffle_ops

    d = _t(spark, sf, "documents")
    n_tokens = F.when(F.trim(F.col("text")) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.col("text")), "\\s+"))
    )
    n_punct = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), "[.,;:!?]", "")
    )
    w = Window.partitionBy(F.sha2(F.col("text"), 256)).orderBy("doc_id")
    cleaned = (
        d.withColumn("n_tokens", n_tokens)
        .withColumn(
            "punct_ratio", n_punct / F.greatest(F.length("text"), F.lit(1))
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(
            (F.col("rn") == 1)
            & (F.col("n_tokens") >= 40)
            & (F.col("punct_ratio") <= 0.1)
        )
        .select("doc_id", "n_tokens")
    )
    hx = F.md5(F.col("doc_id").cast("string"))
    digits = "0123456789abcdef"
    b = (F.instr(F.lit(digits), F.substring(hx, 1, 1)) - 1) * 16 + (
        F.instr(F.lit(digits), F.substring(hx, 2, 1)) - 1
    )
    train = cleaned.filter(b < 204)
    out = shuffle_ops.deterministic_shuffle(train, "doc_id", 4, seed="ep0")
    return out.select(
        "doc_id", "n_tokens", "shard", F.col("pos").cast("bigint").alias("pos")
    )


def q_semdedup_approx(spark, sf):
    # SemDeDup on the SCALE path: sign-LSH bucket candidates + exact
    # cogrouped verification feed the cluster/survivor stages — the plan
    # you'd run at 100 TB (the brute-force pipeline_semdedup variant is
    # the fixture-scale bit-exact baseline).  Rows-only by design: each
    # component carries its own oracle (emb_neardup recall contract,
    # clusters recursive-CTE oracle, survivor rule full-value oracle).
    emb = _t(spark, sf, "embeddings")
    pairs = dedup_ops.embedding_neardup_pairs(
        emb, "embedding", "vec_id", threshold=0.4
    ).select("id_a", "id_b")
    out = semdedup_ops.semantic_dedup(emb, pairs, "vec_id")
    return out.select("vec_id", "label")


def q_pipeline_semdedup_best(spark, sf):
    # Same clusters, best-member survivor rule: highest label wins, ties
    # to the lowest id (one deterministic max_by aggregate per cluster).
    # Exercises the score_col path end-to-end against a window-ranked
    # DuckDB oracle.
    emb = _t(spark, sf, "embeddings")
    truth = _exact_cosine_pairs(spark, sf, 0.4)
    out = semdedup_ops.semantic_dedup(emb, truth, "vec_id", score_col="label")
    return out.select("vec_id", "label")


# Dict ORDER matters: the driver's correctness run checks entries in
# declaration order with a budget (~50 in r01), so oracle-equipped queries
# covering distinct SURVEY §2 rows come first; redundant variants of
# already-covered surfaces next; genuinely rows-only queries last.
def q_f_vector(spark, sf):
    # Catalyst higher-order-function vector surface (transform / zip_with
    # / aggregate) — the pure-codegen face of the vector math the
    # similarity stack does in numpy kernels.  Elements are quantized to
    # integers so the fold is order-free and exact on both engines
    # (float sums are order-sensitive; bigint sums aren't).  The
    # quantizer is floor(x*1000 + 0.5) spelled IDENTICALLY in both
    # dialects: floor has no tie rule, unlike round(), whose
    # half-even/half-away behaviour is engine- and version-dependent.
    e = _t(spark, sf, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)).cast(
            "bigint"
        ),
    )
    sq_sum = F.aggregate(
        F.transform(q, lambda v: v * v),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    dot_rev = F.aggregate(
        F.zip_with(q, F.reverse(q), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        sq_sum.alias("sq_sum_q"),
        dot_rev.alias("dot_rev_q"),
    )


def q_a11_approx_percentile(spark, sf):
    # quantile sketch with a cross-engine error-bound contract (same
    # pattern as a10/HLL): exact interpolated percentiles are bit-equal
    # across engines; each engine's own sketch must land within 1% of
    # the exact value for the boolean to match.
    li = _t(spark, sf, "lineitem")
    # r12 session 2 (guide §1.2): one exact-percentile buffer and one
    # sketch serve both percentiles (array form) instead of four
    # independent aggregates; per-p reads of one sorted counts map /
    # one KLL sketch are bit-identical to the per-p aggregates.
    pcts = F.array(F.lit(0.5), F.lit(0.95))
    agg = li.agg(
        F.percentile(F.col("l_extendedprice"), pcts).alias("_exs"),
        F.percentile_approx("l_extendedprice", pcts, F.lit(10000)).alias(
            "_apx"
        ),
    ).select(
        F.col("_exs")[0].alias("p50_exact"),
        F.col("_exs")[1].alias("p95_exact"),
        F.col("_apx")[0].alias("_a50"),
        F.col("_apx")[1].alias("_a95"),
    )
    return agg.select(
        "p50_exact",
        "p95_exact",
        (F.abs(F.col("_a50") - F.col("p50_exact"))
         <= 0.01 * F.col("p50_exact")).alias("p50_within_1pct"),
        (F.abs(F.col("_a95") - F.col("p95_exact"))
         <= 0.01 * F.col("p95_exact")).alias("p95_within_1pct"),
    )


def q_sample_stratified(spark, sf):
    # deterministic stratified sampling: downsample the head language
    # (en -> 64/256), halve zh, keep the tail intact — the sample is a
    # pure function of doc_id (re-run/engine/partitioning stable), zero
    # shuffle (row-local codegen CASE + md5 bucket)
    d = _t(spark, sf, "documents")
    return sampling_ops.stratified_sample(
        d, F.col("doc_id"), F.col("lang"), {"en": 64, "zh": 128}
    ).select("doc_id", "lang", "source")


def q_sample_group_topk(spark, sf):
    # exactly-k-per-group deterministic sampling (distributed reservoir
    # equivalent): hash-ordered window, one shuffle on the group key
    d = _t(spark, sf, "documents")
    return sampling_ops.group_topk_sample(
        d, ["source"], F.col("doc_id"), 3
    ).select("source", "doc_id", F.col("_rk").cast("bigint").alias("rk"))


def q_text_pii_redact(spark, sf):
    # PII scrubbing (email / IPv4 / phone / card-like digit runs) as a
    # chain of codegen regexp passes; the PII-bearing text is built
    # deterministically from customer so both engines redact the same
    # input (patterns live in the RE2 ∩ Java-regex common subset)
    c = _t(spark, sf, "customer")
    raw = F.concat(
        F.col("c_name"),
        F.lit(" <"),
        F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("."))),
        F.lit("@example.com> tel 555-"),
        F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(((F.col("c_custkey") * 37) % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10.20."),
        (F.col("c_custkey") % 256).cast("string"),
        F.lit(".7 ref 4111111111111111"),
    )
    return c.select("c_custkey", ta.redact_pii(raw).alias("redacted"))


def q_pipeline_contamination(spark, sf):
    # benchmark-contamination gate: fraction of each corpus doc's
    # distinct 3-grams appearing in the (broadcast) benchmark gram set;
    # the only shuffle is the per-doc re-aggregation.
    # Checked output is integers + boolean only: the contamination
    # fraction (n_hit/n_grams, a raw double) is derivable from n_hit and
    # n_grams and is deliberately EXCLUDED so float formatting in the
    # harness's hash canonicalizer can never diverge across engines.
    d = _t(spark, sf, "documents")
    return ta.contamination_report(
        corpus=d.filter(F.col("doc_id") % 17 != 0),
        benchmark=d.filter(F.col("doc_id") % 17 == 0),
        id_col="doc_id",
        text_col="text",
        n=3,
        threshold=0.5,
    ).select("doc_id", "n_grams", "n_hit", "flagged")


def q_dedup_chunks(spark, sf):
    # sub-document dedup: 4-token chunks, keep first occurrence
    # corpus-wide (boilerplate/template removal) — one shuffle keyed by
    # chunk hash, per-hash window bounded by the duplication factor
    d = _t(spark, sf, "documents")
    return dedup_ops.chunk_dedup(d, "doc_id", "text", n=4).select(
        "doc_id", F.col("chunk_pos").cast("bigint").alias("chunk_pos"),
        "chunk_sha",
    )


def _cdc_feed(spark, sf):
    # the events stream as a CDC changelog: key=user_id, sequence=
    # event_id (monotone, unique), 'error' events are account deletes
    e = _t(spark, sf, "events")
    return e.select(
        "user_id",
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "event_type",
        "value",
    )


def q_cdc_latest_state(spark, sf):
    # changelog compaction (MERGE-INTO semantics without a table
    # format): latest row per key, deleted keys dropped — one hash
    # shuffle on the key, per-key window bounded by key churn
    feed = _cdc_feed(spark, sf)
    return cdc_ops.compact_changelog(
        feed, ["user_id"], "seq"
    ).select("user_id", "seq", "op", "event_type", "value")


def q_cdc_apply_incremental(spark, sf):
    # incremental upsert: compact an arbitrary half of the feed into a
    # tombstone-keeping snapshot, apply the other half as a change
    # batch.  The parity split makes batches sequence-INTERLEAVED — the
    # adversarial case where dropping tombstones would resurrect
    # deleted keys — and the oracle is the full-feed compaction, so the
    # driver hash certifies apply∘compact == compact(union) exactly.
    feed = _cdc_feed(spark, sf)
    snap = cdc_ops.compact_changelog(
        feed.filter(F.col("seq") % 2 == 0),
        ["user_id"], "seq", keep_tombstones=True,
    )
    return cdc_ops.apply_changelog(
        snap, feed.filter(F.col("seq") % 2 == 1), ["user_id"], "seq"
    ).select("user_id", "seq", "op", "event_type", "value")


def q_dedup_passage_spans(spark, sf):
    # substring-level dedup (ExactSubstr, Lee et al. ACL'22, token
    # 8-grams): maximal duplicated-passage token spans, first corpus
    # occurrence kept.  Three shuffles total — gram-hash window, doc-id
    # span merge (+groupBy on the same partitioning).  sha256 gram keys
    # here for bit-portability to the oracle; production uses xxhash64
    # (operators/passages.py).
    d = _t(spark, sf, "documents")
    return passage_ops.duplicate_passage_spans(
        d, "doc_id", "text", k=8, hash_name="sha256"
    ).select(
        "doc_id",
        F.col("span_start").cast("int").alias("span_start"),
        F.col("span_end").cast("int").alias("span_end"),
    )


def q_pipeline_remove_passages(spark, sf):
    # end-to-end duplicate-passage removal: cut every later copy of a
    # repeated >=8-token passage out of the text; documents without
    # duplication pass through whitespace-normalized.  Token filtering
    # is a codegen (token, index) HOF — document text never shuffles;
    # only (id, pos, hash) rows move.
    d = _t(spark, sf, "documents")
    return passage_ops.remove_duplicate_passages(
        d, "doc_id", "text", k=8, hash_name="sha256"
    ).select(
        "doc_id",
        "clean_text",
        F.col("n_tokens_kept").cast("int").alias("n_tokens_kept"),
        F.col("n_tokens_removed").cast("int").alias("n_tokens_removed"),
    )


def q_pipeline_pack_sequences(spark, sf):
    # greedy next-fit sequence packing into 512-token bins over 8 hash
    # shards; the stateful fold is not a window function, but the oracle
    # replays it exactly with a per-shard recursive CTE — so even this
    # gets a full differential check (invariants also property-tested)
    d = _t(spark, sf, "documents")
    sized = d.select(
        "doc_id", ta.token_count(F.col("text")).cast("bigint").alias("n_tokens")
    )
    return packing_ops.pack_documents(
        sized, "doc_id", "n_tokens", budget=512, n_shards=8
    )


def q_dedup_clusters_star(spark, sf):
    # connected components via alternating large-star/small-star
    # (O(log n) rounds — the web-scale path) over the same exact pair
    # set as dedup_clusters: both share one DuckDB recursive-CTE oracle,
    # which doubles as a cross-implementation equivalence check.
    pairs = _exact_jaccard_pairs(spark, sf, _DEDUP_J_THRESHOLD)
    return dedup_ops.duplicate_clusters_star(pairs)


def q_dedup_minhash_recall(spark, sf):
    # MinHash-LSH verified pairs under the error-bound contract:
    # n_true_pairs = exact all-pairs n-gram Jaccard >= 0.5 (the oracle
    # recomputes it in SQL); precision_eq_1 holds because candidates are
    # exact-Jaccard verified; recall_ge_080 bounds what LSH banding may
    # miss (128 hashes / 32 bands: P(candidate | j=0.5) ~ 0.87/pair).
    # The raw pair-list query (dedup_minhash) stays bench-comparable.
    d = _t(spark, sf, "documents")
    found = dedup_ops.minhash_dedup_pairs(
        d, "text", "doc_id", threshold=_DEDUP_J_THRESHOLD
    ).select("id_a", "id_b")
    truth = _exact_jaccard_pairs(spark, sf, _DEDUP_J_THRESHOLD)
    return _pair_recall_contract(found, truth)


def q_rollup_incremental(spark, sf):
    # exact incremental view maintenance: algebraic aggregate state
    # built per batch (parity split of lineitem), merged WITHOUT
    # rescanning either batch, finalized to the served rollup.  The
    # oracle is the single-pass groupBy over the union — the driver
    # hash certifies merge(state(A), state(B)) == state(A ∪ B) to the
    # bit (decimal-exact sums; avg is one double division at the end).
    li = _t(spark, sf, "lineitem")
    a = aggstate_ops.aggregate_state(
        li.filter(F.col("l_orderkey") % 2 == 0),
        ["l_returnflag", "l_linestatus"], "l_extendedprice",
    )
    b = aggstate_ops.aggregate_state(
        li.filter(F.col("l_orderkey") % 2 == 1),
        ["l_returnflag", "l_linestatus"], "l_extendedprice",
    )
    merged = aggstate_ops.merge_aggregate_states(a, b)
    return aggstate_ops.finalize_aggregates(merged)


def _postings_csv(df):
    return df.select(
        "token",
        "doc_freq",
        F.array_join(
            F.transform("postings", lambda x: x.cast("string")), ","
        ).alias("postings_csv"),
    )


def q_text_inverted_index(spark, sf):
    # inverted index build: token -> sorted posting list, per-doc
    # distinct BEFORE the token shuffle (a repeated token ships once
    # per doc); hapax tail pruned; postings hash-checked through a
    # string carrier (the quantization queries' array idiom)
    d = _t(spark, sf, "documents")
    return _postings_csv(
        retrieval_ops.inverted_index(
            d, "doc_id", "text", min_doc_freq=5
        )
    )


def q_text_index_incremental(spark, sf):
    # incremental index maintenance: two full half-corpus indexes
    # merged at O(index) cost — the oracle is the single-pass index of
    # the union, so the driver hash certifies merge == rebuild exactly
    d = _t(spark, sf, "documents")
    ix = lambda pred: retrieval_ops.inverted_index(  # noqa: E731
        d.filter(pred), "doc_id", "text", min_doc_freq=1
    )
    merged = retrieval_ops.merge_inverted_indexes(
        ix(F.col("doc_id") % 2 == 0), ix(F.col("doc_id") % 2 == 1)
    )
    return _postings_csv(merged.filter(F.col("doc_freq") >= 5))


def q_profile_documents(spark, sf):
    # table profiling: per-column row/null/distinct counts + typed
    # min/max, ONE scan for all columns (multi-distinct via a single
    # Expand; approx mode drops the Expand for petabyte profiling —
    # exact here so the oracle hash checks every number)
    d = _t(spark, sf, "documents")
    return profile_ops.profile_table(
        d, ["doc_id", "text", "lang", "source", "n_chars"]
    )


_HIST_LO, _HIST_HI, _HIST_BINS = 0.0, 120000.0, 240  # width 500


def q_a13_histogram_percentile(spark, sf):
    # mergeable-histogram percentiles: state built per batch (parity
    # split), merged without rescanning, percentiles served from the
    # 240-row state in ONE pass.  Output: estimate, interpolated exact
    # anchor, and a one-bin-width proximity boolean — ALL
    # SQL-expressible, so the oracle hash certifies the merged estimate
    # bit-exactly (unlike merge-order-sensitive quantile sketches).
    # The hard bound is vs the nearest-rank quantile (operator
    # docstring); vs this interpolated anchor it is a corpus
    # observation, computed identically on both engines either way.
    li = _t(spark, sf, "lineitem")
    # (r12 session 2: a grouped-shard build — groupBy(parity, bin) with
    # the two merge inputs filtered from one DataFrame — was measured
    # and REJECTED: Catalyst pushes the grouping-key filter back
    # through the aggregate to the scan, so the branches split at the
    # pushed-filter level again (0 ReusedExchange, still 2 scans) and
    # the wider group key made it net slower, 2.98 -> 3.30 s noop.)
    mk = lambda pred: hist_ops.histogram_state(  # noqa: E731
        li.filter(pred), "l_extendedprice", _HIST_LO, _HIST_HI, _HIST_BINS
    )
    st = hist_ops.merge_histogram_states(
        mk(F.col("l_orderkey") % 2 == 0),
        mk(F.col("l_orderkey") % 2 == 1),
        check_geometry=False,  # same literals by construction
    )
    ps = [0.5, 0.9, 0.99]
    est = hist_ops.percentiles_from_histogram(st, ps)
    # r12 session 2 (guide §1.2/§2.3): ONE percentile buffer fed the
    # pre-aggregated (value, count) pairs via the frequency argument,
    # instead of three independent exact-percentile aggregates each
    # building its own 600k-entry counts map over the raw rows.
    # Identical values by construction — Percentile's internal state is
    # exactly this (value -> count) map, and all requested percentiles
    # read one sorted buffer — A/B-verified bit-equal; isolated noop
    # 4.74 -> 1.52 s at sf0.1 (full query 5.9 -> ~2.6).
    exact = (
        li.groupBy(F.col("l_extendedprice").alias("_v"))
        .agg(F.count(F.lit(1)).alias("_c"))
        .agg(
            F.percentile(
                F.col("_v"),
                F.array(*[F.lit(float(p)) for p in ps]),
                F.col("_c"),
            ).alias("_exs")
        )
        .select(
            *[F.col("_exs")[i].alias(f"_ex_{i}") for i in range(len(ps))]
        )
    )
    width = (_HIST_HI - _HIST_LO) / _HIST_BINS
    # anchor mapping built from ps itself — editing ps cannot silently
    # pair a percentile with the wrong exact column
    exact_col = F.lit(None).cast("double")
    for i, p in enumerate(ps):
        exact_col = F.when(F.col("p") == p, F.col(f"_ex_{i}")).otherwise(
            exact_col
        )
    return (
        est.join(F.broadcast(exact))
        .select(
            "p",
            "est",
            exact_col.alias("exact"),
            (
                (F.col("est") >= exact_col)
                & ((F.col("est") - exact_col) <= F.lit(width))
            ).alias("bound_ok"),
        )
    )


_BM25_TERMS = ["join", "stream", "vector"]  # sorted; accumulation order


def q_text_bm25(spark, sf):
    # BM25 retrieval (log-free deterministic idf variant — see
    # operators/retrieval.py): one 1-row corpus-stats anchor broadcast
    # onto a map-only codegen scoring scan, TakeOrdered top-20.  Every
    # double op is an explicit left-associated chain mirrored verbatim
    # in the oracle, so the driver hash checks the SCORES bit-exactly.
    d = _t(spark, sf, "documents")
    return retrieval_ops.bm25_topk(
        d, "doc_id", "text", _BM25_TERMS, k=20
    ).select("doc_id", "score", F.col("dl").cast("int").alias("dl"))


def _partsupp_proxy(spark, sf):
    # this corpus has no partsupp table; derive the part-supplier
    # relation from lineitem with supply cost = MIN decimal-exact
    # extended price (documented proxy, same join topology as partsupp)
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice").cast("decimal(18,2)")).alias(
            "ps_cost"
        )
    )


def q_tpch_q2_shape(spark, sf):
    # TPC-H Q2 shape (minimum-cost supplier): for each qualifying part,
    # the region's cheapest supplier(s).  The correlated MIN subquery
    # becomes a window MIN over the part key — one shuffle on partkey,
    # no join-back; dims (supplier⋈nation⋈region, part) broadcast.
    ps = _partsupp_proxy(spark, sf)
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    p = _t(spark, sf, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 10)
    )
    eu = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    c = ps.join(F.broadcast(eu), ps["l_suppkey"] == eu["s_suppkey"])
    w = Window.partitionBy("l_partkey")
    c = c.withColumn("_mc", F.min("ps_cost").over(w)).filter(
        F.col("ps_cost") == F.col("_mc")
    )
    return c.join(F.broadcast(p), c["l_partkey"] == p["p_partkey"]).select(
        "p_partkey",
        "p_type",
        "s_name",
        "n_name",
        "s_acctbal",
        F.col("ps_cost").cast("double").alias("supply_cost"),
    )


def q_tpch_q11_shape(spark, sf):
    # TPC-H Q11 shape (important stock): per-part inventory value for
    # one nation's suppliers, kept where it exceeds a fraction of that
    # nation's grand total.  Partial aggregation before the join-free
    # threshold; the grand total is a 1-row agg broadcast back — no
    # second pass over the fact.  Exact decimal throughout; the only
    # double appears per-row in the output cast.
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    nat = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .filter(F.col("n_name") == "NATION_7")
        .select("s_suppkey")
    )
    val = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * F.col("l_quantity").cast("decimal(18,2)")
    )
    per_part = (
        li.join(F.broadcast(nat), li["l_suppkey"] == nat["s_suppkey"])
        .groupBy("l_partkey")
        .agg(F.sum(val).alias("_v"))
    )
    total = per_part.agg(
        (F.sum("_v") * F.lit("0.001").cast("decimal(10,4)")).alias("_thr")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("_v") > F.col("_thr"))
        .select(
            "l_partkey",
            F.col("_v").cast("double").alias("part_value"),
        )
    )


def q_tpch_q12_shape(spark, sf):
    # TPC-H Q12 shape (shipping-class priority counts): lineitem class
    # (l_returnflag proxies l_shipmode — this corpus carries no ship
    # mode) vs order priority split.  One shuffle join orders⋈lineitem
    # on the order key, map-side CASE, two-group agg; sums CAST to
    # BIGINT on the oracle side (DuckDB HUGEINT discipline).
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_returnflag").isin("R", "A"))
        & (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    o = _t(spark, sf, "orders")
    high = (
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0)
    ).cast("long")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
    )


def q_tpch_q21_shape(spark, sf):
    # TPC-H Q21 shape (suppliers who kept orders waiting): finished
    # orders with >1 supplier where EXACTLY ONE supplier shipped late
    # (late = shipped >60 days after order date; this corpus has no
    # commit/receipt dates).  The classic EXISTS / NOT-EXISTS pair is
    # re-expressed as per-(order,supplier) then per-order aggregates —
    # two pipelined shuffles on the order key instead of two correlated
    # probes of the fact, the formulation that survives 100×.
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf, "supplier")
    late = (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    ).cast("int")
    per_os = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select("l_orderkey", "l_suppkey", late.alias("_late"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("_late").alias("_late"))
    )
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("_n_supp"),
        F.sum("_late").alias("_n_late"),
    )
    waiting = (
        per_os.filter(F.col("_late") == 1)
        .join(per_o, "l_orderkey")
        .filter((F.col("_n_supp") > 1) & (F.col("_n_late") == 1))
    )
    return (
        waiting.join(
            F.broadcast(s), waiting["l_suppkey"] == s["s_suppkey"]
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


def q_sketch_kmv_overlap(spark, sf):
    # corpus-level contamination screening: two overlapping corpora
    # (doc_id % 3 carves ~2/3 slices sharing the %3==2 third), each
    # reduced to a k=64 KMV sketch (k smallest 60-bit md5 hashes of the
    # distinct texts), overlap estimated sketch-against-sketch without
    # rescanning either corpus (Beyer et al., SIGMOD'07).  Every output
    # is integer evidence plus ONE division, so the full row is
    # bit-portable and the DuckDB oracle replays the whole construction.
    from subgraph_extractor_spark.operators import sketches as sk_ops

    d = _t(spark, sf, "documents")
    a = d.filter(F.col("doc_id") % 3 != 0)
    b = d.filter(F.col("doc_id") % 3 != 1)
    k = 64
    return sk_ops.kmv_jaccard(
        sk_ops.kmv_sketch(a, "text", k=k),
        sk_ops.kmv_sketch(b, "text", k=k),
        k=k,
    )


def q_sketch_kmv_distinct(spark, sf):
    # per-language distinct-text estimate off the standing KMV sketch
    # row (2 KB per group): full sketches use the (k-1)·H/h_k order-
    # statistic estimator, short sketches ARE the exact count.  Both
    # branches are single IEEE ops from exactly-converted integers, so
    # the estimates hash bit-exactly against the DuckDB replay.
    from subgraph_extractor_spark.operators import sketches as sk_ops

    d = _t(spark, sf, "documents")
    k = 64
    return sk_ops.kmv_distinct_estimate(
        sk_ops.kmv_sketch(d, "text", k=k, group_cols=["lang"]), k=k
    ).select("lang", "n_distinct_est")


def q_sample_pps(spark, sf):
    # probability-proportional-to-size systematic sampling: n=100 draws
    # along the cumulative token-count line in stable md5 order, so
    # long documents are selected with proportionally higher
    # multiplicity — the importance-weighted corpus draw.  All integer
    # arithmetic (distributed two-level prefix sum + `div`), full
    # (doc_id, weight, mult) set bit-portable.
    d = _t(spark, sf, "documents")
    w = F.when(F.trim(F.col("text")) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.col("text")), "\\s+"))
    )
    return sampling_ops.pps_systematic_sample(d, "doc_id", w, 100)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # Declaration order here is the historical catalog; the DRIVER
    # check order (first 50 entries = the round's correctness budget)
    # is imposed by the _R11_WINDOW repack after this literal — see
    # the comment there and tests/test_window_freeze.py, which pins
    # the effective window.

    "dedup_minhash_portable": q_dedup_minhash_portable,
    "dedup_simhash_portable": q_dedup_simhash_portable,
    "a13_histogram_percentile": q_a13_histogram_percentile,
    "ann_ivf": q_ann_ivf,
    "ann_lsh_recall": q_ann_lsh_recall,
    "cdc_apply_incremental": q_cdc_apply_incremental,
    "cdc_latest_state": q_cdc_latest_state,
    "corpus_overlap": q_corpus_overlap,
    "dedup_bloom_probe": q_dedup_bloom_probe,
    "dedup_clusters": q_dedup_clusters,
    "dedup_clusters_star": q_dedup_clusters_star,
    "dedup_incremental_recall": q_dedup_incremental_recall,
    "w7_sessionize": q_w7_sessionize,
    "f_vector": q_f_vector,
    "pipeline_contamination": q_pipeline_contamination,
    "dedup_minhash_recall": q_dedup_minhash_recall,
    "text_winnowing": q_text_winnowing,
    "emb_neardup": q_emb_neardup,
    "dedup_passage_spans": q_dedup_passage_spans,
    "pipeline_remove_passages": q_pipeline_remove_passages,
    "text_bm25": q_text_bm25,
    "rollup_incremental": q_rollup_incremental,
    "pipeline_dedup_corpus": q_pipeline_dedup_corpus,
    "quality_linear_score": q_quality_linear_score,
    "text_token_df": q_text_token_df,
    "text_bpe_tokens": q_text_bpe_tokens,
    "f_vector_quantize": q_f_vector_quantize,
    "sim_topk_quantized": q_sim_topk_quantized,
    "f_null_semantics": q_f_null_semantics,
    "j8_asof_nearest": q_j8_asof_nearest,
    "text_heavy_hitters": q_text_heavy_hitters,
    "profile_documents": q_profile_documents,
    "text_inverted_index": q_text_inverted_index,
    "text_index_incremental": q_text_index_incremental,
    "tpch_q2_shape": q_tpch_q2_shape,
    "tpch_q4_shape": q_tpch_q4_shape,
    "tpch_q7_shape": q_tpch_q7_shape,
    "tpch_q8_shape": q_tpch_q8_shape,
    # never-driver-checked mid-round addition: scale-path SemDeDup
    # over the portable integer-cosine pairs (takes the tpch_q9_shape
    # slot — fifth r4-era row leading r11)
    "semdedup_portable": q_semdedup_portable,
    # never-driver-checked mid-round addition: exact-integer
    # embedding-cosine near-dup (takes the tpch_q10_shape slot —
    # fourth r4-era row leading r11)
    "emb_neardup_portable": q_emb_neardup_portable,
    # never-driver-checked mid-round addition: RFC 9309 robots-policy
    # filtering — takes the tpch_q11_shape slot (third r4-era row
    # leading r11; 11 sibling tpch shapes remain in this window)
    "url_robots_filter": q_url_robots_filter,
    # never-driver-checked mid-round addition: the complete
    # crawl-to-corpus chain (extract -> gate -> URL dedup -> content
    # dedup) as ONE oracled query — takes the tpch_q12_shape slot
    # (the second r4-era row deliberately left for r11, with 13
    # sibling tpch shapes in this window)
    "pipeline_crawl_e2e": q_pipeline_crawl_e2e,
    # never-driver-checked mid-round addition (r9 verdict task #6) —
    # takes the tpch_q13_shape slot (the one r4-era row deliberately
    # left for r11: a plain SQL left-join/count shape whose 13 sibling
    # tpch shapes all sit in this window)
    "text_html_extract": q_text_html_extract,
    "tpch_q15_shape": q_tpch_q15_shape,
    "tpch_q16_shape": q_tpch_q16_shape,
    "tpch_q17_shape": q_tpch_q17_shape,
    "tpch_q18_shape": q_tpch_q18_shape,
    "tpch_q20_shape": q_tpch_q20_shape,
    "text_bigram_lm": q_text_bigram_lm,
    "quality_lm_novelty": q_quality_lm_novelty,
    # ---- end of the 50-query window ----
    "tpch_q9_shape": q_tpch_q9_shape,
    "tpch_q10_shape": q_tpch_q10_shape,
    "tpch_q11_shape": q_tpch_q11_shape,
    "tpch_q13_shape": q_tpch_q13_shape,
    "tpch_q12_shape": q_tpch_q12_shape,
    # below the line: r9-green (freshest), then the r6-r8 classes.
    # dedup_minhash / dedup_simhash are the rows-only raw pair
    # dumps displaced by their full-value portable twins; kept
    # declared for the bench and the sweep.
    "s1_range_scan": q_s1_range_scan,
    "p6_uint256_sum": q_p6_uint256_sum,
    "j1_catalog_join_chain": q_j1_catalog_join_chain,
    "j5_range_join": q_j5_range_join,
    "j6_asof_join": q_j6_asof_join,
    "a3_pricing_summary": q_a3_pricing_summary,
    "w1_latest_version": q_w1_latest_version,
    "ann_lsh_portable": q_ann_lsh_portable,
    "f_udtf": q_f_udtf,
    "f_map": q_f_map,
    "f_hash": q_f_hash,
    "f_bitwise": q_f_bitwise,
    "f_date": q_f_date,
    "text_fingerprint": q_text_fingerprint,
    "text_clean": q_text_clean,
    "pipeline_stable_split": q_pipeline_stable_split,
    "ann_ivfpq_served": q_ann_ivfpq_served,
    "dedup_cdc_novelty": q_dedup_cdc_novelty,
    "retrieval_eval": q_retrieval_eval,
    "ann_filtered": q_ann_filtered,
    "ann_hamming": q_ann_hamming,
    "ann_hamming_rerank": q_ann_hamming_rerank,
    "retrieval_champion": q_retrieval_champion,
    "graph_lpa": q_graph_lpa,
    "dedup_prefix_jaccard": q_dedup_prefix_jaccard,
    "sketch_mg_heavy_hitters": q_sketch_mg_heavy_hitters,
    "pipeline_corpus_diff": q_pipeline_corpus_diff,
    "f_global_rank": q_f_global_rank,
    "a4_rollup": q_a4_rollup,
    "a6_distinct_agg": q_a6_distinct_agg,
    "j2_anti_join": q_j2_anti_join,
    "j3_semi_join": q_j3_semi_join,
    "a10_approx_distinct": q_a10_approx_distinct,
    "a11_approx_percentile": q_a11_approx_percentile,
    "a1_minmax_watermark": q_a1_minmax_watermark,
    "a9_percentiles": q_a9_percentiles,
    "f_udaf": q_f_udaf,
    "a12_hll_incremental": q_a12_hll_incremental,
    "text_lang": q_text_lang,
    "sketch_quantile_mergeable": q_sketch_quantile_mergeable,
    "sketch_quantile_grouped": q_sketch_quantile_grouped,
    "text_repetition": q_text_repetition,
    "layout_zorder": q_layout_zorder,
    "sample_mixture": q_sample_mixture,
    "j4_similarity_topk": q_j4_similarity_topk,
    "sim_topk_matmul": q_sim_topk_matmul,
    "f_array": q_f_array,
    "f_collect": q_f_collect,
    "dedup_chunks": q_dedup_chunks,
    "text_pii_redact": q_text_pii_redact,
    "a5_ngram_stats": q_a5_ngram_stats,
    "f_window_tumbling": q_f_window_tumbling,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "text_tokens": q_text_tokens,
    "text_quality": q_text_quality,
    "pipeline_clean_corpus": q_pipeline_clean_corpus,
    "pipeline_pack_sequences": q_pipeline_pack_sequences,
    "sample_stratified": q_sample_stratified,
    "sample_group_topk": q_sample_group_topk,
    "ann_lsh": q_ann_lsh,
    "ann_ivfpq_recall": q_ann_ivfpq_recall,
    "dedup_cdc_chunks": q_dedup_cdc_chunks,
    "emb_kmeans": q_emb_kmeans,
    "emb_kmeans_balanced": q_emb_kmeans_balanced,
    "ann_pq": q_ann_pq,
    "emb_pq_codes": q_emb_pq_codes,
    "pipeline_dsir_scores": q_pipeline_dsir_scores,
    "pipeline_leakage_split": q_pipeline_leakage_split,
    "retrieval_rrf": q_retrieval_rrf,
    "pipeline_token_budget": q_pipeline_token_budget,
    "graph_hits": q_graph_hits,
    "emb_covariance": q_emb_covariance,
    "ts_interpolate": q_ts_interpolate,
    "ann_ivfpq": q_ann_ivfpq,
    "ann_projected": q_ann_projected,
    "semdedup_approx": q_semdedup_approx,
    "s5_preview_limit": q_s5_preview_limit,
    "p4_downscale": q_p4_downscale,
    "p5_clamp_validity": q_p5_clamp_validity,
    "p6_uint256_roundtrip": q_p6_uint256_roundtrip,
    "j3_full_outer": q_j3_full_outer,
    "a4_cube": q_a4_cube,
    "a4_grouping_sets": q_a4_grouping_sets,
    "w2_lag_delta": q_w2_lag_delta,
    "w3_running_sum": q_w3_running_sum,
    "w4_analytics": q_w4_analytics,
    "w5_range_frame": q_w5_range_frame,
    "w6_rank_stats": q_w6_rank_stats,
    "f_date2": q_f_date2,
    "f_string2": q_f_string2,
    "o5_topk": q_o5_topk,
    "set_ops": q_set_ops,
    "set_ops_all": q_set_ops_all,
    "j7_state_asof": q_j7_state_asof,
    "tpch_q3_shape": q_tpch_q3_shape,
    "tpch_q5_shape": q_tpch_q5_shape,
    "skew_salted_agg": q_skew_salted_agg,
    "a7_pivot": q_a7_pivot,
    "f_in_subquery": q_f_in_subquery,
    "f_scalar_subquery": q_f_scalar_subquery,
    "a8_stats": q_a8_stats,
    "f_width_bucket": q_f_width_bucket,
    "f_json": q_f_json,
    "f_string": q_f_string,
    "f_math": q_f_math,
    "f_conditional": q_f_conditional,
    "f_cast": q_f_cast,
    "s4_distinct_listing": q_s4_distinct_listing,
    "p7_multi_target_mapping": q_p7_multi_target_mapping,
    "p8_mapping_compiler": q_p8_mapping_compiler,
    "pipeline_semdedup": q_pipeline_semdedup,
    "pipeline_semdedup_best": q_pipeline_semdedup_best,
    "pipeline_shuffle_shard": q_pipeline_shuffle_shard,
    "pipeline_shard_append": q_pipeline_shard_append,
    "text_bpe_train": q_text_bpe_train,
    "dataset_fingerprint": q_dataset_fingerprint,
    "dataset_fingerprint_groups": q_dataset_fingerprint_groups,
    "graph_pagerank": q_graph_pagerank,
    "graph_pagerank_seeded": q_graph_pagerank_seeded,
    "sketch_kmv_overlap": q_sketch_kmv_overlap,
    "sketch_kmv_distinct": q_sketch_kmv_distinct,
    "sample_pps": q_sample_pps,
    "sample_temperature": q_sample_temperature,
    "ts_resample": q_ts_resample,
    "ts_cohort_retention": q_ts_cohort_retention,
    "ts_funnel": q_ts_funnel,
    "ts_sliding": q_ts_sliding,
    "ts_moving_avg": q_ts_moving_avg,
    "a14_mad_outliers": q_a14_mad_outliers,
    "dedup_containment": q_dedup_containment,
    "dedup_editdist": q_dedup_editdist,
    "quality_classifier": q_quality_classifier,
    "ann_projected_recall": q_ann_projected_recall,
    "pipeline_pretraining_e2e": q_pipeline_pretraining_e2e,
    "dedup_incremental": q_dedup_incremental,
    "tpch_q6_shape": q_tpch_q6_shape,
    "tpch_q14_shape": q_tpch_q14_shape,
    "tpch_q19_shape": q_tpch_q19_shape,
    "tpch_q21_shape": q_tpch_q21_shape,
    "tpch_q22_shape": q_tpch_q22_shape,
    "image_dhash_pairs": q_image_dhash_pairs,
    "ann_projected_lsh": q_ann_projected_lsh,
    "ann_projected_lsh_recall": q_ann_projected_lsh_recall,
    "audio_spectral_pairs": q_audio_spectral_pairs,
    "video_dhash_pairs": q_video_dhash_pairs,
    "url_canonical_dedup": q_url_canonical_dedup,
    "url_domain_cap": q_url_domain_cap,
    "quality_compression_gate": q_quality_compression_gate,
    "audio_excerpt_containment": q_audio_excerpt_containment,
    "video_frame_containment": q_video_frame_containment,
    "quality_gopher_rules": q_quality_gopher_rules,
    "dedup_simhash_incremental": q_dedup_simhash_incremental,
    "j9_interval_overlap": q_j9_interval_overlap,
    "j10_interval_contains": q_j10_interval_contains,
    "ts_interval_coverage": q_ts_interval_coverage,
    "ts_ohlc": q_ts_ohlc,
    "pipeline_negative_samples": q_pipeline_negative_samples,
    "pipeline_chunk_overlap": q_pipeline_chunk_overlap,
    "graph_triangles": q_graph_triangles,
    "sim_maxsim_quantized": q_sim_maxsim_quantized,
    "dedup_minhash": q_dedup_minhash,
    "dedup_simhash": q_dedup_simhash,
    # r11 continuation: the filtered-search scale path, added when the
    # sf1.0 full-headline sweep measured the exact filtered face
    # quadratic (74x at 10x data) — below the r11 driver line; rotates
    # into a future window like every new entry
    "ann_filtered_banded": q_ann_filtered_banded,
}

# Round-11 driver window (the r10 verdict's task #1): the CORRECTNESS
# r1-r10 staleness ledger shows 55 queries whose last green driver row
# dates to r6 or earlier — the five r4-era tpch shapes deliberately
# left to lead this round, plus the full 50-query r6 cohort.  The
# window takes the five r4 rows and 44 of the r6 rows plus the new
# never-driver-checked ann_filtered_banded (rotation discipline); the
# SIX deferred r6 rows (five ts_* window/agg shapes and the grouped
# twin of the in-window dataset_fingerprint — the lowest-risk
# plain-SQL shapes in the cohort) lead r12, after which every query's
# driver evidence is r6+ and the ledger is two rounds deep at most.  Every
# window row is full-value oracled (the four documented rows-only raw
# faces all sit below the line).  tests/test_window_freeze.py pins
# this list; the repack below is mechanical reordering only — it adds
# or drops nothing (asserted).
_R11_WINDOW = [
    # r4-era (stalest): the five plain-SQL tpch join/count shapes
    "tpch_q9_shape", "tpch_q10_shape", "tpch_q11_shape",
    "tpch_q12_shape", "tpch_q13_shape",
    # r6 cohort, catalog order, minus the six deferred rows
    "a14_mad_outliers", "ann_projected_lsh", "ann_projected_lsh_recall",
    "ann_projected_recall", "audio_excerpt_containment",
    "audio_spectral_pairs", "dataset_fingerprint", "dedup_containment",
    "dedup_editdist", "dedup_incremental", "dedup_simhash_incremental",
    "graph_pagerank", "graph_pagerank_seeded", "graph_triangles",
    "image_dhash_pairs", "j10_interval_contains", "j9_interval_overlap",
    "pipeline_chunk_overlap", "pipeline_negative_samples",
    "pipeline_pretraining_e2e", "pipeline_semdedup",
    "pipeline_semdedup_best", "pipeline_shard_append",
    "pipeline_shuffle_shard", "quality_classifier",
    "quality_compression_gate", "quality_gopher_rules", "sample_pps",
    "sample_temperature", "sim_maxsim_quantized", "sketch_kmv_distinct",
    "sketch_kmv_overlap", "text_bpe_train", "tpch_q14_shape",
    "tpch_q19_shape", "tpch_q21_shape", "tpch_q22_shape",
    "tpch_q6_shape", "ts_cohort_retention", "ts_funnel",
    "url_canonical_dedup", "url_domain_cap", "video_dhash_pairs",
    "video_frame_containment",
    # r11 continuation: the new filtered-search scale path is
    # never-driver-checked, so it must sit inside the window (the
    # rotation discipline tests/test_coverage_gap.py enforces);
    # ts_resample (plain resample agg, green since r2, bench-timed
    # every round) moves to the deferred list to make room
    "ann_filtered_banded",
]
assert len(_R11_WINDOW) == 50 and len(set(_R11_WINDOW)) == 50
assert set(_R11_WINDOW) <= set(QUERIES), sorted(
    set(_R11_WINDOW) - set(QUERIES)
)
QUERIES = {
    k: QUERIES[k]
    for k in (*_R11_WINDOW, *(q for q in QUERIES if q not in set(_R11_WINDOW)))
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

def _lang_score_sql(lang: str) -> str:
    """Mirror of text_analysis.word_count_of/lang_scores: pad + collapse
    whitespace to double spaces, count token-delimited marker hits."""
    d = "regexp_replace(concat(' ', trim(lower(text)), ' '), '\\s+', '  ', 'g')"
    parts = []
    for w in LANG_MARKERS[lang]:
        pat = f" {w} "
        parts.append(
            f"CAST((length({d}) - length(replace({d}, '{pat}', ''))) / {len(pat)} AS INT)"
        )
    return " + ".join(parts)


def _lang_pred_sql() -> str:
    langs = sorted(LANG_MARKERS)
    scores = {lang: f"score_{lang}" for lang in langs}
    # argmax with alphabetical tie-break == text_analysis.predict_lang
    best = f"'{langs[0]}'"
    best_score = scores[langs[0]]
    for lang in langs[1:]:
        best = f"CASE WHEN {scores[lang]} > {best_score} THEN '{lang}' ELSE {best} END"
        best_score = f"CASE WHEN {scores[lang]} > {best_score} THEN {scores[lang]} ELSE {best_score} END"
    inner = ", ".join(f"{_lang_score_sql(lang)} AS score_{lang}" for lang in langs)
    return (
        f"SELECT doc_id, CASE WHEN {best_score} <= 0 THEN 'und' ELSE {best} END AS pred_lang "
        f"FROM (SELECT doc_id, {inner} FROM documents)"
    )


_WS_TOKENS = "len(string_split_regex(trim(text), '\\s+'))"

# Exact all-pairs n-gram-Jaccard pair set (threshold 0.5) — the shared
# ground-truth side of the dedup cluster / recall contracts.  Mirrors
# _exact_jaccard_pairs / word_shingles(n=3) / jaccard bit-for-bit: same
# tokenizer, same distinct 3-gram strings, and the same integer
# intersection/union sizes (|A∪B| = |A|+|B|-|A∩B| over distinct grams)
# feeding the same double division.  Formulated as an inverted-index
# gram join rather than an all-pairs list_intersect NLJ (60x faster in
# DuckDB), and MATERIALIZED so the recursive clusters oracle evaluates
# it once instead of once per fixed-point iteration.
_EXACT_JACCARD_PAIRS_SQL = """
    sh AS MATERIALIZED (
        SELECT doc_id,
               list_distinct([array_to_string(toks[i:i+2], ' ')
                              FOR i IN range(1, len(toks) - 1)]) AS grams
        FROM (SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+') AS toks
              FROM documents)
        WHERE len(toks) >= 3
    ),
    exact_pairs AS MATERIALIZED (
        SELECT id_a, id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i,
                   any_value(a.n) AS na, any_value(b.n) AS nb
            FROM (SELECT doc_id, len(grams) AS n, unnest(grams) AS gram
                  FROM sh) a
            JOIN (SELECT doc_id, len(grams) AS n, unnest(grams) AS gram
                  FROM sh) b
              ON a.gram = b.gram AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.5
    )
"""

# Connected components over exact_pairs via recursive reachability:
# a node's cluster id is the minimum id among everything reachable
# through the symmetric edge set (min-label fixed point — the same
# contract duplicate_clusters and duplicate_clusters_star converge to).
_CLUSTERS_ORACLE_SQL = f"""
    WITH RECURSIVE
    {_EXACT_JACCARD_PAIRS_SQL},
    edges AS (
        SELECT id_a AS a, id_b AS b FROM exact_pairs
        UNION ALL
        SELECT id_b AS a, id_a AS b FROM exact_pairs
    ),
    reach(id, lbl) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, reach.lbl FROM edges e JOIN reach ON e.b = reach.id
    )
    SELECT id AS member_id, MIN(lbl) AS cluster_id
    FROM reach GROUP BY id
"""

ORACLES: dict[str, str] = {
    # 10 unrolled integer fixed-point PageRank iterations over the
    # part-succession graph — every op exact BIGINT, full-value check
    # Linear interpolation onto the daily grid: MIN-collapse per
    # (user, second), in-span grid, DuckDB ASOF joins both directions,
    # the identical fixed-order IEEE expression.
    "ts_interpolate": """
        WITH obs AS (
            SELECT user_id,
                   CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000
                        AS BIGINT) AS ot,
                   MIN(value) AS ov
            FROM events
            GROUP BY 1, 2
        ),
        span AS (
            SELECT user_id,
                   ((MIN(ot) + 86399) // 86400) * 86400 AS gs,
                   (MAX(ot) // 86400) * 86400 AS ge
            FROM obs GROUP BY user_id
        ),
        grid AS (
            SELECT user_id, unnest(range(gs, ge + 86400, 86400)) AS grid_ts
            FROM span WHERE gs <= ge
        ),
        prev AS (
            SELECT g.user_id, g.grid_ts, o.ot AS pt, o.ov AS pv
            FROM grid g ASOF JOIN obs o
              ON o.user_id = g.user_id AND o.ot <= g.grid_ts
        ),
        both_sides AS (
            SELECT p.user_id, p.grid_ts, p.pt, p.pv,
                   o.ot AS nt, o.ov AS nv
            FROM prev p ASOF JOIN obs o
              ON o.user_id = p.user_id AND o.ot >= p.grid_ts
        )
        SELECT user_id,
               CAST(grid_ts AS BIGINT) AS grid_ts,
               CASE WHEN nt = pt THEN pv
                    ELSE pv + (nv - pv)
                         * ((CAST(grid_ts AS DOUBLE) - CAST(pt AS DOUBLE))
                            / (CAST(nt AS DOUBLE) - CAST(pt AS DOUBLE)))
               END AS value
        FROM both_sides
    """,
    # Exact covariance: d^2 unnest self-join replay of the
    # tree-aggregated kernel, HUGEINT comoments rendered as strings.
    "emb_covariance": pca_ops.comoments_oracle_sql(
        "embeddings", "embedding", 64
    ),
    # HITS hubs/authorities: 6 unrolled iterations, max-normalized
    # exact integers (HUGEINT in the replay), full-value.
    "graph_hits": graph_ops.hits_oracle_sql(
        """SELECT src, dst FROM (
               SELECT l_partkey AS src,
                      LEAD(l_partkey) OVER (
                          PARTITION BY l_orderkey ORDER BY l_partkey
                      ) AS dst
               FROM (SELECT DISTINCT l_orderkey, l_partkey
                     FROM lineitem))
           WHERE dst IS NOT NULL""",
        iters=6,
    ),
    # Misra-Gries heavy hitters: 4 deterministic shard summaries +
    # left-fold merge tree, QUALIFY-window replay, full-value.
    "sketch_mg_heavy_hitters": freq_ops.mg_oracle_sql(
        """SELECT doc_id,
                  unnest(string_split_regex(trim(lower(text)), '\\s+'))
                      AS tok
           FROM documents WHERE trim(lower(text)) <> ''""",
        key_expr="tok",
        shard_expr="doc_id % 4",
        n_shards=4,
        m=24,
    ),
    # Label propagation: 4 unrolled rounds, deliberately different
    # argmax formulation (QUALIFY row_number vs min-struct), full-value.
    "graph_lpa": graph_ops.lpa_oracle_sql(
        """SELECT src, dst FROM (
               SELECT l_partkey AS src,
                      LEAD(l_partkey) OVER (
                          PARTITION BY l_orderkey ORDER BY l_partkey
                      ) AS dst
               FROM (SELECT DISTINCT l_orderkey, l_partkey
                     FROM lineitem))
           WHERE dst IS NOT NULL""",
        iters=4,
    ),
    "graph_pagerank": graph_ops.pagerank_oracle_sql(
        """SELECT src, dst FROM (
               SELECT l_partkey AS src,
                      LEAD(l_partkey) OVER (
                          PARTITION BY l_orderkey ORDER BY l_partkey
                      ) AS dst
               FROM (SELECT DISTINCT l_orderkey, l_partkey
                     FROM lineitem))
           WHERE dst IS NOT NULL""",
        iters=10,
    ),
    # personalized variant: same unroll, restart mass gated to the
    # key % 7 seed set
    "graph_pagerank_seeded": graph_ops.pagerank_oracle_sql(
        """SELECT src, dst FROM (
               SELECT l_partkey AS src,
                      LEAD(l_partkey) OVER (
                          PARTITION BY l_orderkey ORDER BY l_partkey
                      ) AS dst
               FROM (SELECT DISTINCT l_orderkey, l_partkey
                     FROM lineitem))
           WHERE dst IS NOT NULL""",
        iters=10,
        seeds_cte="""SELECT DISTINCT l_partkey AS node FROM lineitem
                     WHERE l_partkey % 7 = 0""",
    ),
    "s1_range_scan": """
        SELECT event_id AS _block_number, user_id, event_type, value
        FROM events WHERE event_id >= 1000 AND event_id < 5000
    """,
    "s4_distinct_listing": """
        SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """,
    "s5_preview_limit": """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders ORDER BY o_orderkey LIMIT 10
    """,
    "p4_downscale": """
        SELECT l_orderkey, l_linenumber,
               CAST(FLOOR(l_orderkey / 16.0) AS BIGINT) AS okey_div16
        FROM lineitem
    """,
    "p5_clamp_validity": """
        SELECT o_orderkey,
               CASE WHEN o_totalprice <= 200000.0 THEN o_totalprice ELSE 0.0 END AS price_clamped,
               o_totalprice <= 200000.0 AS price_valid
        FROM orders
    """,
    "p6_uint256_roundtrip": """
        SELECT l_orderkey,
               CAST(CAST(CAST(l_orderkey AS DECIMAL(18,0))
                    * CAST(1000000000000000000 AS DECIMAL(19,0))
                    + CAST(l_partkey AS DECIMAL(18,0)) AS DECIMAL(38,0)) AS VARCHAR) AS big_id
        FROM lineitem WHERE l_linenumber = 1
    """,
    "p6_uint256_sum": """
        SELECT l_returnflag,
               CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100) AS DECIMAL(18,0))
                             * CAST(10000000 AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS VARCHAR) AS sum_wei,
               COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    """,
    "p8_mapping_compiler": """
        SELECT o_orderkey,
               -- DuckDB's decimal // rounds; FLOOR over double division is
               -- exact here (wei < 2^53) and matches Spark's floor-div
               CAST(FLOOR(CAST(price_wei AS DOUBLE) / 1000000000.0) AS BIGINT) AS price_gwei,
               CAST(CASE WHEN price_wei <= 200000000000000 THEN price_wei ELSE 0 END AS VARCHAR) AS price_capped,
               price_wei <= 200000000000000 AS price_capped_valid
        FROM (SELECT o_orderkey,
                     CAST(CAST(FLOOR(o_totalprice * 100) AS DECIMAL(18,0))
                          * CAST(10000000 AS DECIMAL(19,0)) AS DECIMAL(38,0)) AS price_wei
              FROM orders)
    """,
    "p7_multi_target_mapping": """
        SELECT o_orderkey,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_cents,
               CASE WHEN o_totalprice <= 200000.0 THEN o_totalprice ELSE 0.0 END AS price_capped,
               o_totalprice <= 200000.0 AS price_capped_valid
        FROM orders
    """,
    "j1_catalog_join_chain": """
        SELECT c_custkey, c_name AS customer, n_name AS nation, r_name AS region
        FROM customer
        LEFT JOIN nation ON c_nationkey = n_nationkey
        LEFT JOIN region ON n_regionkey = r_regionkey
        WHERE c_acctbal > 0
    """,
    "j2_anti_join": """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "j3_semi_join": """
        SELECT c_custkey, c_nationkey FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 150000)
    """,
    "j3_full_outer": """
        SELECT c_nationkey, n_customers, s_nationkey, n_suppliers
        FROM (SELECT c_nationkey, COUNT(*) AS n_customers FROM customer GROUP BY c_nationkey) c
        FULL OUTER JOIN (SELECT s_nationkey, COUNT(*) AS n_suppliers FROM supplier GROUP BY s_nationkey) s
        ON c_nationkey = s_nationkey
    """,
    "j5_range_join": """
        SELECT e.event_id, e.user_id, i.lo, i.iv_user
        FROM events e
        JOIN (SELECT event_id AS lo, event_id + 300 AS hi, user_id AS iv_user
              FROM events WHERE event_id % 97 = 0) i
        ON e.event_id >= i.lo AND e.event_id < i.hi
    """,
    "j6_asof_join": """
        SELECT l.event_id, l.user_id, r.value AS last_purchase_value
        FROM events l
        ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                        WHERE event_type = 'purchase') r
        ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    "j4_similarity_topk": """
        SELECT query_id, neighbor_id, rank FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                                c.vec_id ASC
                   ) AS rank
            FROM (SELECT * FROM embeddings WHERE vec_id < 50) q
            JOIN embeddings c ON q.vec_id <> c.vec_id
        ) WHERE rank <= 5
    """,
    "sim_topk_matmul": """
        SELECT query_id, neighbor_id, rank FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                                c.vec_id ASC
                   ) AS rank
            FROM (SELECT * FROM embeddings WHERE vec_id < 50) q
            JOIN embeddings c ON q.vec_id <> c.vec_id
        ) WHERE rank <= 5
    """,
    "a1_minmax_watermark": """
        SELECT MIN(event_id) AS earliest_block, MAX(event_id) AS latest_block,
               COUNT(*) AS n_rows
        FROM events
    """,
    "a3_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "a4_rollup": """
        SELECT r_name, n_name, COUNT(*) AS n_customers
        FROM customer
        LEFT JOIN nation ON c_nationkey = n_nationkey
        LEFT JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP(r_name, n_name)
    """,
    "a4_cube": """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    "a4_grouping_sets": """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    "a5_ngram_stats": """
        SELECT bigram, COUNT(*) AS n_docs FROM (
            SELECT unnest(list_distinct([array_to_string(toks[i:i+1], ' ')
                                         FOR i IN range(1, len(toks))])) AS bigram
            FROM (SELECT string_split_regex(trim(lower(text)), '\\s+') AS toks
                  FROM documents)
            WHERE len(toks) >= 2
        ) GROUP BY bigram
        ORDER BY n_docs DESC, bigram ASC LIMIT 50
    """,
    "w4_analytics": """
        SELECT user_id, event_id,
               LEAD(event_id) OVER w AS next_event_id,
               FIRST_VALUE(event_id) OVER wf AS first_event_id,
               LAST_VALUE(event_id) OVER wf AS last_event_id,
               NTILE(4) OVER w AS quartile
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY event_id),
               wf AS (PARTITION BY user_id ORDER BY event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    "w5_range_frame": """
        SELECT user_id, event_id,
               COUNT(*) OVER w AS n_recent,
               CAST(SUM(CAST(value AS DECIMAL(18,3))) OVER w AS DOUBLE) AS sum_recent_value
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                     RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)
    """,
    "w6_rank_stats": """
        SELECT user_id, event_id,
               RANK() OVER w AS rnk,
               DENSE_RANK() OVER w AS drnk,
               PERCENT_RANK() OVER w AS prnk,
               CUME_DIST() OVER w AS cdist
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    """,
    "f_date2": """
        SELECT o_orderkey,
               CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS INT) AS days_to_eoy,
               CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 90 DAY AS DATE) AS VARCHAR) AS due_date,
               CAST(CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS VARCHAR) AS month_start,
               CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INT) AS dow,
               CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS qtr
        FROM orders
    """,
    "f_string2": """
        SELECT c_custkey,
               lpad(c_name, 24, '.') AS name_lpad,
               translate(c_name, '#0', '_O') AS name_translated,
               CAST(COALESCE(NULLIF(position('#' IN c_name), NULL), 0) AS INT) AS hash_pos,
               reverse(c_name) AS name_rev,
               repeat(c_name[1:2], 3) AS prefix_x3,
               string_split(c_name, '#')[1] AS name_stem
        FROM customer
    """,
    "set_ops_all": """
        SELECT key, COUNT(*) AS multiplicity FROM (
            SELECT l_partkey AS key FROM lineitem WHERE l_orderkey < 500
            EXCEPT ALL
            SELECT p_partkey AS key FROM part WHERE p_size > 40
        ) GROUP BY key
    """,
    "j7_state_asof": """
        SELECT user_id, block_start, block_end, event_type, value FROM (
            SELECT user_id, event_id AS block_start,
                   LEAD(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS block_end,
                   event_type, value
            FROM events
        ) WHERE block_start <= 5000 AND (block_end IS NULL OR block_end > 5000)
    """,
    "a8_stats": """
        SELECT l_returnflag, n,
               sq / n AS mean_qty,
               (sqq - sq * sq / n) / (n - 1) AS var_qty,
               SQRT((sqq - sq * sq / n) / (n - 1)) AS stddev_qty,
               (sqp - sq * sp / n) / (n - 1) AS cov_qty_price,
               ((sqp - sq * sp / n) / (n - 1))
                   / (SQRT((sqq - sq * sq / n) / (n - 1))
                      * SQRT((spp - sp * sp / n) / (n - 1))) AS corr_qty_price
        FROM (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sp,
                   CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                                 * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sqq,
                   CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                                 * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS spp,
                   CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                                 * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sqp
            FROM lineitem GROUP BY l_returnflag
        )
    """,
    "f_width_bucket": """
        SELECT bucket, COUNT(*) AS n_orders FROM (
            -- DuckDB 1.0 has no width_bucket; explicit equivalent formula
            SELECT CAST(CASE WHEN o_totalprice < 0.0 THEN 0
                             WHEN o_totalprice >= 400000.0 THEN 21
                             ELSE FLOOR((o_totalprice - 0.0) / (400000.0 - 0.0) * 20) + 1
                        END AS INT) AS bucket
            FROM orders
        ) GROUP BY bucket
    """,
    "f_in_subquery": """
        SELECT o_orderkey, o_custkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_acctbal > 9000)
          AND o_orderkey NOT IN (SELECT o_orderkey FROM orders
                                 WHERE o_orderstatus = 'F')
    """,
    "f_scalar_subquery": """
        SELECT c_custkey,
               (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey)
                   AS n_orders
        FROM customer
    """,
    "a7_pivot": """
        SELECT user_id,
               COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
               COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
               COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
               COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
               COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view
        FROM events GROUP BY user_id
    """,
    "f_collect": """
        SELECT label, array_to_string(list_sort(list(vec_id)), ',') AS vec_ids,
               COUNT(*) AS n_vecs
        FROM embeddings GROUP BY label
    """,
    "f_map": """
        WITH kv AS (
            SELECT 'k' AS k, CAST(json_extract_string(props, '$.k') AS INT) AS v
            FROM events
            UNION ALL
            SELECT 'uid_mod' AS k, CAST(user_id % 10 AS INT) AS v FROM events
        )
        SELECT k, COUNT(*) AS n_events, CAST(SUM(v) AS BIGINT) AS sum_v,
               MIN(v) AS min_v, MAX(v) AS max_v
        FROM kv GROUP BY k
    """,
    "f_hash": """
        SELECT c_custkey, md5(c_name) AS name_md5, sha256(c_name) AS name_sha256
        FROM customer
    """,
    "f_vector": """
        SELECT vec_id,
               len(embedding) AS dim,
               CAST(list_aggregate(
                   [q * q FOR q IN
                       [CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)
                        FOR x IN embedding]],
                   'sum') AS BIGINT) AS sq_sum_q,
               CAST(list_aggregate(
                   [qv[i] * qv[len(qv) + 1 - i]
                    FOR i IN range(1, len(qv) + 1)],
                   'sum') AS BIGINT) AS dot_rev_q
        FROM (
            SELECT vec_id, embedding,
                   [CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)
                    FOR x IN embedding] AS qv
            FROM embeddings
        )
    """,
    "a11_approx_percentile": """
        SELECT p50_exact, p95_exact,
               ABS(a50 - p50_exact) <= 0.01 * p50_exact AS p50_within_1pct,
               ABS(a95 - p95_exact) <= 0.01 * p95_exact AS p95_within_1pct
        FROM (
            SELECT quantile_cont(l_extendedprice, 0.5)  AS p50_exact,
                   quantile_cont(l_extendedprice, 0.95) AS p95_exact,
                   approx_quantile(l_extendedprice, 0.5)  AS a50,
                   approx_quantile(l_extendedprice, 0.95) AS a95
            FROM lineitem
        )
    """,
    "pipeline_pack_sequences": """
        WITH RECURSIVE
        sized AS (
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+'))
                   END AS n_tokens,
                   CAST(((strpos('0123456789abcdef',
                                 substr(md5(CAST(doc_id AS VARCHAR) || 'pack'),
                                        1, 1)) - 1) * 16
                       + (strpos('0123456789abcdef',
                                 substr(md5(CAST(doc_id AS VARCHAR) || 'pack'),
                                        2, 1)) - 1)) % 8 AS INTEGER) AS shard
            FROM documents
        ),
        base AS (
            SELECT shard, doc_id, n_tokens,
                   ROW_NUMBER() OVER (PARTITION BY shard
                                      ORDER BY doc_id) AS rn
            FROM sized
        ),
        -- replay the greedy next-fit fold row-by-row per shard
        rec AS (
            SELECT shard, doc_id, n_tokens, rn,
                   CAST(0 AS BIGINT) AS bin_id,
                   CAST(0 AS BIGINT) AS bin_tokens_before,
                   GREATEST(n_tokens, 0) AS cur_after
            FROM base WHERE rn = 1
            UNION ALL
            SELECT b.shard, b.doc_id, b.n_tokens, b.rn,
                   CASE WHEN r.cur_after > 0
                             AND r.cur_after + GREATEST(b.n_tokens, 0) > 512
                        THEN r.bin_id + 1 ELSE r.bin_id END,
                   CASE WHEN r.cur_after > 0
                             AND r.cur_after + GREATEST(b.n_tokens, 0) > 512
                        THEN 0 ELSE r.cur_after END,
                   CASE WHEN r.cur_after > 0
                             AND r.cur_after + GREATEST(b.n_tokens, 0) > 512
                        THEN GREATEST(b.n_tokens, 0)
                        ELSE r.cur_after + GREATEST(b.n_tokens, 0) END
            FROM base b JOIN rec r ON b.shard = r.shard AND b.rn = r.rn + 1
        )
        SELECT doc_id, n_tokens, shard, bin_id, bin_tokens_before,
               n_tokens > 512 AS oversize
        FROM rec
    """,
    "sample_stratified": """
        SELECT doc_id, lang, source
        FROM (
            SELECT doc_id, lang, source,
                   (strpos('0123456789abcdef',
                           substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                 + (strpos('0123456789abcdef',
                           substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS b
            FROM documents
        )
        WHERE b < CASE WHEN lang = 'en' THEN 64
                       WHEN lang = 'zh' THEN 128
                       ELSE 256 END
    """,
    "sample_group_topk": """
        SELECT source, doc_id, rk
        FROM (
            SELECT source, doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS rk
            FROM documents
        )
        WHERE rk <= 3
    """,
    "text_pii_redact": """
        SELECT c_custkey,
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                   c_name || ' <' || lower(replace(c_name, '#', '.'))
                       || '@example.com> tel 555-'
                       || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
                       || '-'
                       || lpad(CAST((c_custkey * 37) % 10000 AS VARCHAR), 4, '0')
                       || ' ip 10.20.' || CAST(c_custkey % 256 AS VARCHAR)
                       || '.7 ref 4111111111111111',
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
                   '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                   '<IP>', 'g'),
                   '\\b(?:\\+?\\d{1,2}[ -])?\\(?\\d{3}\\)?[ -]?\\d{3}[ -]?\\d{4}\\b',
                   '<PHONE>', 'g'),
                   '\\b\\d{13,19}\\b', '<CARD>', 'g') AS redacted
        FROM customer
    """,
    "pipeline_contamination": """
        WITH grams AS (
            SELECT doc_id,
                   unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
                                         FOR i IN range(1, len(toks) - 1)])) AS gram
            FROM (SELECT doc_id,
                         string_split_regex(trim(lower(text)), '\\s+') AS toks
                  FROM documents)
            WHERE len(toks) >= 3
        ),
        bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 17 = 0),
        corp AS (SELECT doc_id, gram FROM grams WHERE doc_id % 17 <> 0)
        SELECT c.doc_id,
               COUNT(*) AS n_grams,
               CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hit,
               CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                   >= 0.5 * CAST(COUNT(*) AS DOUBLE) AS flagged
        FROM corp c LEFT JOIN bench b USING (gram)
        GROUP BY c.doc_id
    """,
    "dedup_chunks": """
        SELECT doc_id, chunk_pos, chunk_sha
        FROM (
            SELECT doc_id, chunk_pos, chunk_sha,
                   ROW_NUMBER() OVER (PARTITION BY chunk_sha
                                      ORDER BY doc_id, chunk_pos) AS rn
            FROM (
                SELECT doc_id, u.p AS chunk_pos, sha256(u.c) AS chunk_sha
                FROM (
                    SELECT doc_id,
                           unnest([{'p': (i - 1) // 4,
                                    'c': array_to_string(toks[i:i+3], ' ')}
                                   FOR i IN range(1, len(toks) + 1, 4)]) AS u
                    FROM (SELECT doc_id,
                                 string_split_regex(trim(lower(text)),
                                                    '\\s+') AS toks
                          FROM documents
                          WHERE trim(text) <> '')
                )
            )
        )
        WHERE rn = 1
    """,
    "dedup_cdc_novelty": """
        WITH toks AS (
            SELECT doc_id,
                   generate_subscripts(toks, 1) AS pos,
                   unnest(toks) AS tok
            FROM (SELECT doc_id,
                         string_split_regex(trim(lower(text)),
                                            '\\s+') AS toks
                  FROM documents
                  WHERE trim(text) <> '')
        ),
        flagged AS (
            SELECT doc_id, pos, tok,
                   CASE WHEN CAST(('0x' || substr(md5(tok), 1, 12))
                             AS BIGINT) % 8 = 0
                        THEN 1 ELSE 0 END AS b
            FROM toks
        ),
        grp AS (
            SELECT doc_id, pos, tok,
                   COALESCE(SUM(b) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cpos
            FROM flagged
        ),
        chunks AS (
            SELECT doc_id, CAST(cpos AS INT) AS chunk_pos,
                   sha256(string_agg(tok, ' ' ORDER BY pos)) AS chunk_sha
            FROM grp
            GROUP BY doc_id, cpos
        ),
        corpus AS (
            SELECT DISTINCT chunk_sha FROM chunks WHERE doc_id % 2 = 0
        ),
        batch AS (
            SELECT doc_id, chunk_sha FROM chunks WHERE doc_id % 2 = 1
        )
        SELECT b.doc_id,
               COUNT(*) AS n_chunks,
               COUNT(CASE WHEN c.chunk_sha IS NULL THEN 1 END) AS n_novel
        FROM batch b LEFT JOIN corpus c USING (chunk_sha)
        GROUP BY b.doc_id
    """,
    "dedup_cdc_chunks": """
        SELECT doc_id, chunk_pos, chunk_sha
        FROM (
            SELECT doc_id, chunk_pos, chunk_sha,
                   ROW_NUMBER() OVER (PARTITION BY chunk_sha
                                      ORDER BY doc_id, chunk_pos) AS rn
            FROM (
                SELECT doc_id, CAST(cpos AS INT) AS chunk_pos,
                       sha256(string_agg(tok, ' ' ORDER BY pos))
                           AS chunk_sha
                FROM (
                    SELECT doc_id, pos, tok,
                           COALESCE(SUM(b) OVER (
                               PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0) AS cpos
                    FROM (
                        SELECT doc_id, pos, tok,
                               CASE WHEN CAST(('0x' || substr(md5(tok), 1, 12))
                                         AS BIGINT) % 8 = 0
                                    THEN 1 ELSE 0 END AS b
                        FROM (
                            SELECT doc_id,
                                   generate_subscripts(toks, 1) AS pos,
                                   unnest(toks) AS tok
                            FROM (SELECT doc_id,
                                         string_split_regex(
                                             trim(lower(text)),
                                             '\\s+') AS toks
                                  FROM documents
                                  WHERE trim(text) <> '')
                        )
                    )
                )
                GROUP BY doc_id, cpos
            )
        )
        WHERE rn = 1
    """,
    "w7_sessionize": """
        SELECT user_id, session_id, COUNT(*) AS n_events,
               MIN(event_id) AS first_event, MAX(event_id) AS last_event
        FROM (
            SELECT user_id, event_id,
                   CAST(SUM(new_sess) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                        AS BIGINT) AS session_id
            FROM (
                SELECT user_id, event_id, ts,
                       CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                                 - LAG(epoch_us(CAST(ts AS TIMESTAMP)))
                                   OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id)
                                 > 1800000000
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
            )
        )
        GROUP BY user_id, session_id
    """,
    "pipeline_stable_split": """
        SELECT CASE WHEN b < 204 THEN 'train'
                    WHEN b < 230 THEN 'valid'
                    ELSE 'test' END AS split,
               COUNT(*) AS n_docs
        FROM (SELECT (strpos('0123456789abcdef',
                             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                   + (strpos('0123456789abcdef',
                             substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS b
              FROM documents)
        GROUP BY 1
    """,
    "a10_approx_distinct": """
        SELECT n_exact,
               ABS(n_approx - n_exact) <= 0.05 * n_exact AS approx_within_5pct
        FROM (SELECT COUNT(DISTINCT l_partkey) AS n_exact,
                     approx_count_distinct(l_partkey) AS n_approx
              FROM lineitem)
    """,
    "f_bitwise": """
        SELECT o_orderkey,
               o_orderkey & o_custkey AS key_and,
               o_orderkey | o_custkey AS key_or,
               CAST(xor(o_orderkey, o_custkey) AS BIGINT) AS key_xor,
               CAST((o_orderkey % 1024) << 2 AS BIGINT) AS key_shl,
               CAST(o_orderkey >> 3 AS BIGINT) AS key_shr
        FROM orders
    """,
    "a9_percentiles": """
        SELECT o_orderstatus,
               quantile_cont(o_totalprice, 0.5) AS median_price,
               quantile_cont(o_totalprice, 0.9) AS p90_price,
               COUNT(*) AS n_orders
        FROM orders GROUP BY o_orderstatus
    """,
    "text_clean": """
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(text),
                    '[\\x00-\\x1f]+', ' ', 'g'), '\\s+', ' ', 'g')) AS clean_text,
               CAST(LENGTH(trim(regexp_replace(regexp_replace(lower(text),
                    '[\\x00-\\x1f]+', ' ', 'g'), '\\s+', ' ', 'g'))) AS INT)
                   AS clean_len
        FROM documents
    """,
    "pipeline_clean_corpus": """
        SELECT doc_id, lang, n_tokens FROM (
            SELECT doc_id, lang,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE CAST(len(string_split_regex(trim(text), '\\s+')) AS INT)
                   END AS n_tokens,
                   CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,;:!?]', '', 'g'))
                        AS DOUBLE) / GREATEST(LENGTH(text), 1) AS punct_ratio,
                   ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
            FROM documents
        ) WHERE rn = 1 AND n_tokens >= 40 AND punct_ratio <= 0.1
    """,
    "f_udaf": """
        SELECT l_returnflag,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS VARCHAR)
                   AS sum_cents,
               COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    """,
    "f_udtf": """
        SELECT doc_id, l[i] AS word, CAST(i - 1 AS INT) AS pos
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
              FROM documents WHERE trim(text) <> ''),
             LATERAL (SELECT unnest(generate_series(1, len(l))) AS i) AS t
    """,
    "skew_salted_agg": """
        SELECT l_returnflag,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               COUNT(l_quantity) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    """,
    "tpch_q3_shape": """
        SELECT l_orderkey,
               CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate,
               o_orderpriority,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
    """,
    "tpch_q4_shape": """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
          AND EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > TIMESTAMP '1996-02-01 00:00:00')
        GROUP BY o_orderpriority
    """,
    "tpch_q20_shape": """
        SELECT s_name, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE s_suppkey IN (
            SELECT l_suppkey
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY l_suppkey, l_partkey
            HAVING SUM(CAST(l_quantity AS DECIMAL(18,2)))
                   > CAST(60 AS DECIMAL(18,2)))
    """,
    "tpch_q7_shape": """
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2))
                           - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                   AS revenue,
               COUNT(*) AS n_lineitems
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
    """,
    "tpch_q6_shape": """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(CAST(l_discount AS DECIMAL(3,2)) AS DECIMAL(18,2)))
                    AS DOUBLE) AS revenue,
               COUNT(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND CAST(l_discount AS DECIMAL(3,2)) >= CAST('0.05' AS DECIMAL(3,2))
          AND CAST(l_discount AS DECIMAL(3,2)) <= CAST('0.07' AS DECIMAL(3,2))
          AND l_quantity < 24
    """,
    "tpch_q8_shape": """
        WITH joined AS (
            SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                   n2.n_name AS supp_nation,
                   CAST(l_extendedprice AS DECIMAL(18,2))
                   * (CAST(1 AS DECIMAL(18,2))
                      - CAST(l_discount AS DECIMAL(18,2))) AS rev
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region ON n1.n_regionkey = r_regionkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE p_type = 'ECONOMY' AND r_name = 'EUROPE'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
        SELECT o_year,
               CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN rev
                             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               / CAST(SUM(rev) AS DOUBLE) AS mkt_share,
               COUNT(*) AS n_rows
        FROM joined GROUP BY o_year ORDER BY o_year
    """,
    "tpch_q9_shape": """
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2))
                           - CAST(l_discount AS DECIMAL(18,2)))
                        - CAST(p_retailprice AS DECIMAL(18,2))
                          * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_profit,
               COUNT(*) AS n_rows
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%widget%'
        GROUP BY n_name, year(o_orderdate)
    """,
    "tpch_q10_shape": """
        SELECT c_custkey, c_name, c_acctbal, n_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2))
                           - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                   AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey ASC LIMIT 20
    """,
    "tpch_q14_shape": """
        SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                                     THEN CAST(l_extendedprice AS DECIMAL(18,2))
                                          * (CAST(1 AS DECIMAL(18,2))
                                             - CAST(l_discount AS DECIMAL(18,2)))
                                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (CAST(1 AS DECIMAL(18,2))
                             - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                   AS promo_revenue_pct,
               COUNT(*) AS n_rows
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    """,
    "tpch_q15_shape": """
        WITH rev AS (
            SELECT l_suppkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(18,2))
                          - CAST(l_discount AS DECIMAL(18,2)))) AS _rev
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, CAST(_rev AS DOUBLE) AS total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE _rev = (SELECT MAX(_rev) FROM rev)
        ORDER BY s_suppkey
    """,
    "tpch_q17_shape": """
        WITH li AS (
            SELECT l_partkey,
                   CAST(ROUND(l_quantity * 100, 0) AS BIGINT) AS qcents,
                   CAST(l_extendedprice AS DECIMAL(18,2)) AS price
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#3' AND p_size < 5),
        per_part AS (
            SELECT l_partkey AS _pk,
                   CAST(SUM(qcents) AS BIGINT) AS _qty_sum,
                   COUNT(*) AS _qty_cnt
            FROM li GROUP BY l_partkey)
        SELECT CAST(SUM(price) AS DOUBLE) / 7.0 AS avg_yearly,
               COUNT(*) AS n_rows
        FROM li JOIN per_part ON l_partkey = _pk
        WHERE qcents * 5 * _qty_cnt < _qty_sum
    """,
    "tpch_q19_shape": """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2))
                           - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                   AS revenue,
               COUNT(*) AS n_rows
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
               AND l_quantity >= 1 AND l_quantity <= 11)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
               AND l_quantity >= 10 AND l_quantity <= 20)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
               AND l_quantity >= 20 AND l_quantity <= 30)
    """,
    "tpch_q22_shape": """
        WITH c AS (
            SELECT c_custkey, c_nationkey,
                   CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS bcents
            FROM customer
            WHERE c_nationkey IN (1, 3, 5, 7, 9, 11) AND c_acctbal > 0.0),
        stats AS (
            SELECT CAST(SUM(bcents) AS BIGINT) AS _bal_sum,
                   COUNT(*) AS _bal_cnt
            FROM c)
        SELECT c_nationkey,
               COUNT(*) AS n_cust,
               CAST(SUM(bcents) AS DOUBLE) / 100.0 AS total_acctbal
        FROM c, stats
        WHERE bcents * _bal_cnt > _bal_sum
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT')
        GROUP BY c_nationkey
        ORDER BY c_nationkey
    """,
    "j8_asof_nearest": """
        WITH purchases AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS p_ts,
                   MIN(event_id) AS purchase_id
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id, CAST(ts AS TIMESTAMP)
        )
        SELECT v.user_id, v.event_id,
               (SELECT p.purchase_id FROM purchases p
                WHERE p.user_id = v.user_id
                ORDER BY abs(epoch(CAST(v.ts AS TIMESTAMP))
                             - epoch(p.p_ts)), p.p_ts
                LIMIT 1) AS purchase_id
        FROM events v
        WHERE v.event_type = 'view'
    """,
    "f_null_semantics": """
        SELECT seg,
               COUNT(*) AS n_rows,
               COUNT(seg) AS n_nonnull,
               CAST(SUM(CASE WHEN seg IS NOT DISTINCT FROM 'BUILDING'
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_nullsafe_building
        FROM (
            SELECT CASE WHEN c_acctbal < 0 THEN NULL
                        ELSE c_mktsegment END AS seg
            FROM customer
        )
        GROUP BY seg
    """,
    "tpch_q18_shape": """
        SELECT c_name, o_orderkey, o_totalprice,
               CAST(sq AS DOUBLE) AS sum_qty
        FROM (
            SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
            FROM lineitem
            GROUP BY l_orderkey
            HAVING SUM(CAST(l_quantity AS DECIMAL(18,2)))
                   > CAST(150 AS DECIMAL(18,2))
        )
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON o_custkey = c_custkey
    """,
    "tpch_q13_shape": """
        SELECT c_count, COUNT(*) AS custdist
        FROM (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer
            LEFT JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        )
        GROUP BY c_count
    """,
    "tpch_q16_shape": """
        WITH pairs AS (
            SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        )
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM pairs
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1' AND p_size <= 20
          AND l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
    """,
    "sim_topk_quantized": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               TRUE AS recall_ge_090
        FROM embeddings
    """,
    "f_vector_quantize": """
        WITH q AS (
            SELECT vec_id,
                   list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) AS scale,
                   embedding
            FROM embeddings
        )
        SELECT vec_id,
               scale,
               CAST(len(embedding) AS INT) AS n_dims,
               array_to_string(
                   list_transform(embedding,
                       x -> CAST(CASE WHEN scale = 0 THEN 0
                                 ELSE floor(CAST(x AS DOUBLE) * 127.0
                                            / scale + 0.5)
                                 END AS INT)),
                   ',') AS q_str
        FROM q
    """,
    "a12_hll_incremental": """
        SELECT event_type,
               COUNT(DISTINCT user_id) AS n_exact,
               TRUE AS within_5pct
        FROM events
        GROUP BY event_type
    """,
    # built from the SAME BPE_PATTERNS strings the Spark query uses
    # (raw \t etc. — RE2 interprets the escapes, same as Java does)
    "text_bpe_tokens": "SELECT doc_id, "
    + ", ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS {name}"
        for name, pat in BPE_PATTERNS.items()
    )
    + " FROM documents",
    # Bigram-LM training: adjacent-pair counts over the even-doc
    # reference corpus, min_count=3.  Token stream is the standard
    # mirror (trim spaces, lower, split \\s+, empty edge tokens kept).
    "text_bigram_lm": """
        WITH toks AS (
            SELECT doc_id,
                   CASE WHEN text IS NULL OR trim(lower(text)) = ''
                        THEN []::VARCHAR[]
                        ELSE string_split_regex(trim(lower(text)), '\\s+')
                   END AS t
            FROM documents
            WHERE doc_id % 2 = 0
        ),
        bg AS (
            SELECT t[i] AS w1, t[i + 1] AS w2
            FROM (SELECT t, unnest(range(1, len(t))) AS i
                  FROM toks WHERE len(t) >= 2)
        )
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM bg GROUP BY w1, w2
        HAVING COUNT(*) >= 3
    """,
    # Bigram-LM novelty gate: held-out odd docs scored against the
    # even-doc reference model (min_count=2); per-doc occurrence and
    # reference-hit counts with an integer-arithmetic gate boolean.
    # Docs with <2 tokens emit (0, 0, TRUE) — mirrored by the outer
    # left join from the full scored-doc list.
    "quality_lm_novelty": """
        WITH toks AS (
            SELECT doc_id,
                   CASE WHEN text IS NULL OR trim(lower(text)) = ''
                        THEN []::VARCHAR[]
                        ELSE string_split_regex(trim(lower(text)), '\\s+')
                   END AS t
            FROM documents
        ),
        ref AS (
            SELECT t[i] AS w1, t[i + 1] AS w2
            FROM (SELECT t, unnest(range(1, len(t))) AS i
                  FROM toks WHERE doc_id % 2 = 0 AND len(t) >= 2)
            GROUP BY w1, w2
            HAVING COUNT(*) >= 2
        ),
        occ AS (
            SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
            FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
                  FROM toks WHERE doc_id % 2 = 1 AND len(t) >= 2)
        ),
        per_doc AS (
            SELECT o.doc_id,
                   COUNT(*) AS nb,
                   SUM(CASE WHEN r.w1 IS NOT NULL THEN 1 ELSE 0 END) AS nh
            FROM occ o
            LEFT JOIN ref r ON o.w1 = r.w1 AND o.w2 = r.w2
            GROUP BY o.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(p.nb, 0) AS BIGINT) AS n_bigrams,
               CAST(COALESCE(p.nh, 0) AS BIGINT) AS n_hits,
               (COALESCE(p.nb, 0) - COALESCE(p.nh, 0)) * 2
                   <= COALESCE(p.nb, 0) AS novelty_le_50
        FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
        LEFT JOIN per_doc p USING (doc_id)
    """,
    "text_token_df": """
        WITH pairs AS (
            SELECT DISTINCT doc_id, tok
            FROM (
                SELECT doc_id,
                       unnest(string_split_regex(trim(lower(text)), '\\s+'))
                           AS tok
                FROM documents
                WHERE trim(lower(text)) <> ''
            )
        ),
        dfs AS (
            SELECT tok, COUNT(*) AS df FROM pairs GROUP BY tok
        )
        SELECT doc_id,
               COUNT(*) AS n_unique_tokens,
               CAST(SUM(df) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                   AS avg_token_df,
               CAST(MIN(df) AS BIGINT) AS min_token_df
        FROM pairs JOIN dfs USING (tok)
        GROUP BY doc_id
    """,
    "quality_linear_score": """
        WITH feats AS (
            SELECT doc_id,
                   CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
                       AS x_tokens,
                   CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
                       AS x_chars,
                   CAST(length(regexp_replace(text, '\\s+', '', 'g'))
                        - length(regexp_replace(
                              regexp_replace(text, '\\s+', '', 'g'),
                              '[!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE)
                       AS x_punct,
                   CAST(length(regexp_replace(text, '\\s+', '', 'g'))
                        - length(regexp_replace(
                              regexp_replace(text, '\\s+', '', 'g'),
                              '[0-9]', '', 'g')) AS DOUBLE)
                       AS x_digit
            FROM documents
            WHERE length(regexp_replace(text, '\\s+', '', 'g')) > 0
        )
        SELECT doc_id,
               0.05 * x_tokens + 0.8 * (x_chars / x_tokens)
                   + -12.0 * (x_punct / x_chars)
                   + -8.0 * (x_digit / x_chars) AS quality_score,
               (0.05 * x_tokens + 0.8 * (x_chars / x_tokens)
                   + -12.0 * (x_punct / x_chars)
                   + -8.0 * (x_digit / x_chars)) > 8.0 AS keep
        FROM feats
    """,
    "tpch_q5_shape": """
        SELECT n_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_lineitems
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
        GROUP BY n_name
    """,
    "f_math": """
        SELECT l_orderkey,
               ABS(l_discount - 0.05) AS disc_dev,
               SQRT(l_quantity) AS qty_sqrt,
               l_orderkey % 7 AS okey_mod7,
               GREATEST(l_tax, l_discount) AS max_rate,
               LEAST(l_tax, l_discount) AS min_rate,
               CAST(CEIL(l_extendedprice / 1000) AS BIGINT) AS price_k_ceil,
               CAST(SIGN(l_discount - 0.05) AS DOUBLE) AS disc_sign
        FROM lineitem WHERE l_linenumber = 1
    """,
    "f_conditional": """
        SELECT o_orderkey,
               CASE WHEN o_totalprice > 250000 THEN 'high'
                    WHEN o_totalprice > 100000 THEN 'mid'
                    ELSE 'low' END AS price_band,
               NULLIF(o_orderstatus, 'O') AS status_or_null,
               COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_display
        FROM orders
    """,
    "f_cast": """
        SELECT o_orderkey,
               CAST(o_orderkey AS VARCHAR) AS okey_str,
               CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS date_str,
               CAST(TRUNC(o_totalprice) AS INT) AS price_int,  -- Spark cast truncates; DuckDB's rounds
               CONCAT('k', CAST(o_custkey AS VARCHAR)) AS custkey_tag
        FROM orders
    """,
    "a6_distinct_agg": """
        SELECT COUNT(DISTINCT l_suppkey) AS n_supp,
               COUNT(DISTINCT l_partkey) AS n_part,
               COUNT(DISTINCT (l_returnflag, l_linestatus)) AS n_flag_status
        FROM lineitem
    """,
    "w1_latest_version": """
        SELECT user_id, event_id, event_type, value FROM (
            SELECT user_id, event_id, event_type, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    "w2_lag_delta": """
        SELECT user_id, event_id,
               value - LAG(value) OVER (PARTITION BY user_id ORDER BY event_id) AS value_delta,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_type
        FROM events
    """,
    "w3_running_sum": """
        SELECT user_id, event_id,
               CAST(SUM(CAST(value AS DECIMAL(18,3))) OVER (
                   PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
        FROM events
    """,
    "o5_topk": """
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25
    """,
    "set_ops": """
        SELECT nationkey, 'both' AS which FROM
            (SELECT DISTINCT c_nationkey AS nationkey FROM customer
             INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
        UNION ALL
        SELECT nationkey, 'customer_only' AS which FROM
            (SELECT DISTINCT c_nationkey AS nationkey FROM customer
             EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
    """,
    "f_json": """
        SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS prop_k
        FROM events
    """,
    "f_string": """
        SELECT c_custkey,
               UPPER(c_mktsegment) AS segment_upper,
               CAST(LENGTH(c_name) AS INT) AS name_len,
               SUBSTR(c_name, 1, 8) AS name_prefix,
               COALESCE(regexp_extract(c_name, '(\\d+)', 1), '') AS name_digits,
               CONCAT_WS('|', c_mktsegment, c_name) AS seg_name
        FROM customer
    """,
    "f_date": """
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
               CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS order_month,
               COUNT(*) AS n_orders
        FROM orders GROUP BY 1, 2
    """,
    "f_array": """
        SELECT vec_id, label,
               CAST(len(embedding) AS INT) AS dim,
               CAST(embedding[1] AS DOUBLE) AS e_first,
               CAST(embedding[64] AS DOUBLE) AS e_last
        FROM embeddings
    """,
    "f_window_tumbling": """
        SELECT time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
               event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "dedup_exact": """
        SELECT sha256(text) AS content_sha256,
               MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        FROM documents GROUP BY 1
    """,
    "text_heavy_hitters": """
        WITH toks AS (
            SELECT unnest(string_split_regex(trim(lower(text)), '\\s+'))
                       AS tok
            FROM documents
            WHERE trim(lower(text)) <> ''),
        exact AS (
            SELECT tok, COUNT(*) AS n_exact FROM toks GROUP BY tok)
        SELECT tok, CAST(n_exact AS BIGINT) AS n_exact,
               TRUE AS est_ge_exact,
               TRUE AS est_within_bound
        FROM exact
        ORDER BY n_exact DESC, tok ASC LIMIT 20
    """,
    "dedup_bloom_probe": """
        WITH batch AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN text || ' NOVEL'
                        ELSE text END AS text
            FROM documents),
        bd AS (SELECT DISTINCT sha256(text) AS d FROM batch),
        cd AS (SELECT DISTINCT sha256(text) AS d FROM documents
               WHERE doc_id % 2 = 0)
        SELECT (SELECT COUNT(*) FROM bd) AS n_batch_distinct,
               (SELECT COUNT(*) FROM bd
                WHERE d NOT IN (SELECT d FROM cd)) AS n_new,
               TRUE AS prune_covers_most_novel
    """,
    "dedup_ngram_jaccard": """
        WITH sh AS (
            SELECT doc_id,
                   list_distinct([array_to_string(toks[i:i+2], ' ')
                                  FOR i IN range(1, len(toks) - 1)]) AS grams
            FROM (SELECT doc_id,
                         string_split_regex(trim(lower(text)), '\\s+') AS toks
                  FROM documents WHERE doc_id % 2 = 0)
            WHERE len(toks) >= 3
        )
        SELECT l.doc_id AS id_a, r.doc_id AS id_b,
               CASE WHEN len(list_distinct(l.grams || r.grams)) = 0 THEN 1.0
                    ELSE CAST(len(list_intersect(l.grams, r.grams)) AS DOUBLE)
                         / len(list_distinct(l.grams || r.grams)) END AS jaccard
        FROM sh l JOIN sh r ON l.doc_id < r.doc_id
        WHERE CASE WHEN len(list_distinct(l.grams || r.grams)) = 0 THEN 1.0
                   ELSE CAST(len(list_intersect(l.grams, r.grams)) AS DOUBLE)
                        / len(list_distinct(l.grams || r.grams)) END >= 0.05
    """,
    "f_global_rank": """
        -- the naive global window the operator exists to avoid is
        -- exactly the right oracle
        SELECT l_orderkey, l_linenumber,
               ROW_NUMBER() OVER (
                   ORDER BY l_extendedprice ASC, l_orderkey ASC,
                            l_linenumber ASC
               ) AS rank
        FROM lineitem
    """,
    "pipeline_corpus_diff": """
        WITH old AS (
            SELECT doc_id,
                   sha256(COALESCE(text, '')) AS old_digest
            FROM documents WHERE doc_id % 5 <> 0
        ),
        new AS (
            SELECT doc_id,
                   sha256(CASE WHEN doc_id % 7 = 0
                               THEN COALESCE(text, '') || ' v2'
                               ELSE COALESCE(text, '') END) AS new_digest
            FROM documents WHERE doc_id % 3 <> 0
        )
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    ELSE 'changed' END AS status,
               o.old_digest, n.new_digest
        FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
        WHERE o.doc_id IS NULL OR n.doc_id IS NULL
           OR o.old_digest <> n.new_digest
    """,
    "dedup_prefix_jaccard": """
        -- deliberately different formulation: brute-force all-pairs
        -- threshold join, NO prefix filtering — so the differential
        -- check certifies the prefix pigeonhole's completeness itself
        WITH sh AS (
            SELECT doc_id,
                   list_distinct([array_to_string(toks[i:i+2], ' ')
                                  FOR i IN range(1, len(toks) - 1)]) AS grams
            FROM (SELECT doc_id,
                         string_split_regex(trim(lower(text)), '\\s+') AS toks
                  FROM documents WHERE doc_id % 2 = 0)
            WHERE len(toks) >= 3
        )
        SELECT id_a, id_b, jaccard FROM (
            SELECT l.doc_id AS id_a, r.doc_id AS id_b,
                   CAST(len(list_intersect(l.grams, r.grams)) AS DOUBLE)
                       / len(list_distinct(l.grams || r.grams)) AS jaccard
            FROM sh l JOIN sh r ON l.doc_id < r.doc_id
        ) WHERE jaccard >= 0.2
    """,
    "dedup_clusters": _CLUSTERS_ORACLE_SQL,
    "dedup_clusters_star": _CLUSTERS_ORACLE_SQL,
    "pipeline_dedup_corpus": f"""
        WITH RECURSIVE
        {_EXACT_JACCARD_PAIRS_SQL},
        edges AS (
            SELECT id_a AS a, id_b AS b FROM exact_pairs
            UNION ALL
            SELECT id_b AS a, id_a AS b FROM exact_pairs
        ),
        reach(id, lbl) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.a, reach.lbl FROM edges e JOIN reach ON e.b = reach.id
        ),
        losers AS (
            SELECT id FROM reach GROUP BY id HAVING MIN(lbl) <> id
        )
        SELECT doc_id, lang FROM documents
        WHERE doc_id NOT IN (SELECT id FROM losers)
    """,
    "dedup_minhash_recall": f"""
        WITH
        {_EXACT_JACCARD_PAIRS_SQL}
        SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
               TRUE AS precision_eq_1,
               TRUE AS recall_ge_080
        FROM exact_pairs
    """,
    "dedup_incremental_recall": f"""
        WITH
        {_EXACT_JACCARD_PAIRS_SQL}
        SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
               TRUE AS precision_eq_1,
               TRUE AS recall_ge_080
        FROM exact_pairs
        WHERE id_a % 2 = 1 OR id_b % 2 = 1
    """,
    "corpus_overlap": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_intersect_exact,
               TRUE AS est_within_bound
        FROM (SELECT DISTINCT text FROM documents WHERE doc_id < 300) a
        JOIN (SELECT DISTINCT text FROM documents WHERE doc_id >= 200) b
          USING (text)
    """,
    "ann_lsh_recall": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               TRUE AS recall_ge_070
        FROM embeddings
    """,
    "ann_ivf": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               TRUE AS recall_ge_075
        FROM embeddings
    """,
    "ann_projected_recall": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               TRUE AS recall_ge_080
        FROM embeddings
    """,
    "ann_ivfpq_recall": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               TRUE AS recall_ge_075
        FROM embeddings
    """,
    # exact-integer coarse-to-fine projected ANN (r9 verdict task #7):
    # the generated SQL shares the integer md5 projection-matrix
    # literals with the Spark kernel and replays quantization, the
    # coarse top-(k*expand) and the full-dim integer re-rank bit-exactly
    "ann_projected": _ann_projected_sql(),
    # the sub-quadratic composition, same discipline (r10): projection
    # + sign-LSH banding + exact integer rerank, all literals shared
    "ann_projected_lsh": _ann_projected_lsh_sql(),
    "ann_projected_lsh_recall": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               TRUE AS recall_ge_075
        FROM embeddings
    """,
    "emb_neardup": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
               TRUE AS precision_eq_1,
               TRUE AS recall_ge_080
        FROM embeddings l JOIN embeddings r ON l.vec_id < r.vec_id
        WHERE list_cosine_similarity(
                  [CAST(x AS DOUBLE) FOR x IN l.embedding],
                  [CAST(x AS DOUBLE) FOR x IN r.embedding]) >= 0.4
    """,
    # Temperature mixture at tau=2: sqrt is correctly rounded per IEEE
    # 754, so floor(sqrt(n_s)*sqrt(n_min)) quotas and the md5 rank
    # order reproduce the full sampled row set bit-exactly.
    "sample_temperature": """
        WITH counts AS (
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
            FROM documents GROUP BY lang
        ),
        quotas AS (
            SELECT lang,
                   CAST(FLOOR(sqrt(CAST(n AS DOUBLE))
                              * sqrt(CAST((SELECT MIN(n) FROM counts)
                                          AS DOUBLE))) AS BIGINT) AS q
            FROM counts
        ),
        ranked AS (
            SELECT d.doc_id, d.lang,
                   ROW_NUMBER() OVER (
                       PARTITION BY d.lang
                       ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
                   ) AS rk
            FROM documents d
        )
        SELECT r.doc_id, r.lang
        FROM ranked r JOIN quotas q USING (lang)
        WHERE r.rk <= q.q
    """,
    # Asymmetric containment pairs: same inverted-index gram-join shape
    # as the Jaccard fragment, containment = shared / min sizes.
    "dedup_containment": """
        WITH sh AS (
            SELECT doc_id,
                   list_distinct([array_to_string(toks[i:i+2], ' ')
                                  FOR i IN range(1, len(toks) - 1)]) AS grams
            FROM (SELECT doc_id,
                         string_split_regex(trim(lower(text)), '\\s+') AS toks
                  FROM documents)
            WHERE len(toks) >= 3
        )
        SELECT id_a, id_b,
               CAST(i AS DOUBLE) / LEAST(na, nb) AS containment
        FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i,
                   any_value(a.n) AS na, any_value(b.n) AS nb
            FROM (SELECT doc_id, len(grams) AS n, unnest(grams) AS gram
                  FROM sh) a
            JOIN (SELECT doc_id, len(grams) AS n, unnest(grams) AS gram
                  FROM sh) b
              ON a.gram = b.gram AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        WHERE CAST(i AS DOUBLE) / LEAST(na, nb) >= 0.9
    """,
    # Edit-distance verified near-dups over the shared exact-Jaccard
    # candidate formulation; every Levenshtein value recomputed.
    "dedup_editdist": f"""
        WITH
        {_EXACT_JACCARD_PAIRS_SQL}
        SELECT p.id_a, p.id_b,
               CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
        FROM exact_pairs p
        JOIN documents da ON da.doc_id = p.id_a
        JOIN documents db ON db.doc_id = p.id_b
        WHERE levenshtein(da.text, db.text)
              <= 0.3 * GREATEST(LENGTH(da.text), LENGTH(db.text))
    """,
    # End-to-end pretraining-export replay: dedup-keep-first + quality
    # gate + stable split + deterministic shuffle-shard, every stage a
    # pure function of the data — the final export manifest (doc_id,
    # shard, pos) hashes bit-exactly.
    "pipeline_pretraining_e2e": """
        WITH cleaned AS (
            SELECT doc_id, n_tokens FROM (
                SELECT doc_id,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE CAST(len(string_split_regex(trim(text),
                                                             '\\s+')) AS INT)
                       END AS n_tokens,
                       CAST(LENGTH(text)
                            - LENGTH(regexp_replace(text, '[.,;:!?]', '',
                                                    'g'))
                            AS DOUBLE) / GREATEST(LENGTH(text), 1)
                           AS punct_ratio,
                       ROW_NUMBER() OVER (PARTITION BY sha256(text)
                                          ORDER BY doc_id) AS rn
                FROM documents
            )
            WHERE rn = 1 AND n_tokens >= 40 AND punct_ratio <= 0.1
        ),
        train AS (
            SELECT doc_id, n_tokens FROM cleaned
            WHERE (strpos('0123456789abcdef',
                          substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
                      * 16
                + (strpos('0123456789abcdef',
                          substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
                  < 204
        ),
        keyed AS (
            SELECT doc_id, n_tokens,
                   md5('ep0:' || CAST(doc_id AS VARCHAR)) AS hx
            FROM train
        )
        SELECT doc_id, n_tokens,
               CAST(CAST(('0x' || substr(hx, 1, 12)) AS BIGINT) % 4
                    AS INTEGER) AS shard,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY CAST(('0x' || substr(hx, 1, 12)) AS BIGINT)
                                    % 4
                   ORDER BY hx, doc_id
               ) AS BIGINT) AS pos
        FROM keyed
    """,
    # BPE training contract: word/token anchors and the FIRST merge are
    # recomputed independently (argmax over adjacent char-pair counts,
    # count DESC / left / right tie order, end-of-word marker included);
    # n_merges / n_reconstruct_bad / merges_nonincreasing are the
    # contract booleans the Spark side must earn (decode-of-encode
    # equality fails if any deeper merge is wrong).
    "text_bpe_train": """
        WITH words AS (
            SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
                SELECT unnest(string_split_regex(trim(lower(text)),
                                                 '\\s+')) AS w
                FROM documents WHERE trim(text) <> ''
            ) GROUP BY w
        ),
        syms AS (
            SELECT freq,
                   [substr(word, i, 1) FOR i IN range(1, len(word) + 1)]
                       || ['</w>'] AS s
            FROM words
        ),
        pairs AS (
            SELECT p.a AS a, p.b AS b, CAST(SUM(freq) AS BIGINT) AS cnt
            FROM (SELECT freq,
                         unnest([{'a': s[i], 'b': s[i + 1]}
                                 FOR i IN range(1, len(s))]) AS p
                  FROM syms)
            GROUP BY p.a, p.b
        ),
        best AS (
            SELECT a, b, cnt FROM pairs ORDER BY cnt DESC, a, b LIMIT 1
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM words) AS n_words,
               (SELECT CAST(SUM(freq) AS BIGINT) FROM words)
                   AS total_tokens,
               a AS first_left, b AS first_right, cnt AS first_count,
               CAST(20 AS BIGINT) AS n_merges,
               CAST(0 AS BIGINT) AS n_reconstruct_bad,
               TRUE AS merges_nonincreasing
        FROM best
    """,
    # Dense daily grid with zero fill: integer epoch bucketing, range()
    # grid per user span, left join — replayed exactly.
    "ts_resample": """
        WITH e AS (
            SELECT user_id,
                   CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000
                        AS BIGINT) AS sec
            FROM events
        ),
        b AS (
            SELECT user_id, sec - sec % 86400 AS bucket_start,
                   COUNT(*) AS n
            FROM e GROUP BY 1, 2
        ),
        span AS (
            SELECT user_id, MIN(bucket_start) AS lo, MAX(bucket_start) AS hi
            FROM b GROUP BY 1
        ),
        grid AS (
            SELECT user_id,
                   unnest(range(lo, hi + 86400, 86400)) AS bucket_start
            FROM span
        )
        SELECT g.user_id, CAST(g.bucket_start AS BIGINT) AS bucket_start,
               CAST(COALESCE(b.n, 0) AS BIGINT) AS n_events
        FROM grid g LEFT JOIN b USING (user_id, bucket_start)
    """,
    # Weekly cohort retention: first-seen week per user, distinct
    # (user, week) visits re-expressed as offsets from the cohort.
    "ts_cohort_retention": """
        WITH e AS (
            SELECT DISTINCT user_id,
                   CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000
                        AS BIGINT) // 604800 * 604800 AS p
            FROM events
        ),
        f AS (SELECT user_id, MIN(p) AS cohort FROM e GROUP BY 1),
        v AS (
            SELECT DISTINCT e.user_id, f.cohort,
                   CAST((e.p - f.cohort) // 604800 AS BIGINT)
                       AS period_offset
            FROM e JOIN f USING (user_id)
        )
        SELECT CAST(cohort AS BIGINT) AS cohort, period_offset,
               CAST(COUNT(*) AS BIGINT) AS n_active
        FROM v GROUP BY 1, 2
    """,
    # Moving average over the replayed gap-filled grid; same ROWS frame,
    # one exact-integer sum, one division.
    "ts_moving_avg": """
        WITH e AS (
            SELECT user_id,
                   CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000
                        AS BIGINT) AS sec
            FROM events
        ),
        b AS (
            SELECT user_id, sec - sec % 86400 AS bucket_start,
                   COUNT(*) AS n
            FROM e GROUP BY 1, 2
        ),
        span AS (
            SELECT user_id, MIN(bucket_start) AS lo, MAX(bucket_start) AS hi
            FROM b GROUP BY 1
        ),
        grid AS (
            SELECT s.user_id,
                   unnest(range(s.lo, s.hi + 86400, 86400)) AS bucket_start
            FROM span s
        ),
        filled AS (
            SELECT g.user_id, CAST(g.bucket_start AS BIGINT) AS bucket_start,
                   CAST(COALESCE(b.n, 0) AS BIGINT) AS n_events
            FROM grid g LEFT JOIN b USING (user_id, bucket_start)
        )
        SELECT user_id, bucket_start, n_events,
               CAST(SUM(n_events) OVER w AS DOUBLE)
                   / COUNT(*) OVER w AS ma7
        FROM filled
        WINDOW w AS (PARTITION BY user_id ORDER BY bucket_start
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    # Robust MAD outliers: exact interpolated medians (bit-equal per
    # the a9 result), one IEEE op per derived value.
    "a14_mad_outliers": """
        WITH med AS (
            SELECT o_orderpriority,
                   quantile_cont(o_totalprice, 0.5) AS med
            FROM orders GROUP BY 1
        ),
        j AS (
            SELECT o.o_orderpriority, m.med,
                   ABS(o.o_totalprice - m.med) AS ad
            FROM orders o JOIN med m USING (o_orderpriority)
        ),
        mad AS (
            SELECT o_orderpriority, quantile_cont(ad, 0.5) AS mad
            FROM j GROUP BY 1
        )
        SELECT j.o_orderpriority,
               any_value(j.med) AS med, any_value(mad.mad) AS mad,
               CAST(SUM(CASE WHEN j.ad > 3 * mad.mad THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM j JOIN mad USING (o_orderpriority)
        GROUP BY 1
    """,
    # Hopping windows: every event fans into interval/hop aligned
    # window starts via range() — replayed exactly.
    "ts_sliding": """
        SELECT CAST(ws AS BIGINT) AS window_start,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM (
            SELECT unnest(range(
                       CAST(FLOOR((sec - 3600) / 1800.0) AS BIGINT) * 1800
                           + 1800,
                       CAST(FLOOR(sec / 1800.0) AS BIGINT) * 1800 + 1,
                       1800)) AS ws
            FROM (SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000
                              AS BIGINT) AS sec
                  FROM events)
        )
        GROUP BY ws
    """,
    # Dataset fingerprint: identical canonical form (US-joined,
    # RS-wrapped NULL sentinel), identical 60-bit md5 terms, identical
    # modulus — the certificate transfers across engines by design.
    "dataset_fingerprint": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COALESCE(SUM(CAST(('0x' || substr(md5(canon), 1, 15))
                                      AS BIGINT)), 0)
                    % 2305843009213693951 AS BIGINT) AS fingerprint
        FROM (
            SELECT concat_ws(chr(31),
                       coalesce(CAST(doc_id AS VARCHAR),
                                chr(30) || 'NULL' || chr(30)),
                       coalesce(lang, chr(30) || 'NULL' || chr(30)),
                       coalesce(CAST(n_chars AS VARCHAR),
                                chr(30) || 'NULL' || chr(30)),
                       coalesce(source, chr(30) || 'NULL' || chr(30)),
                       coalesce(text, chr(30) || 'NULL' || chr(30))
                   ) AS canon
            FROM documents
        )
    """,
    "dataset_fingerprint_groups": """
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COALESCE(SUM(CAST(('0x' || substr(md5(canon), 1, 15))
                                      AS BIGINT)), 0)
                    % 2305843009213693951 AS BIGINT) AS fingerprint
        FROM (
            SELECT lang,
                   concat_ws(chr(31),
                       coalesce(CAST(doc_id AS VARCHAR),
                                chr(30) || 'NULL' || chr(30)),
                       coalesce(CAST(n_chars AS VARCHAR),
                                chr(30) || 'NULL' || chr(30)),
                       coalesce(source, chr(30) || 'NULL' || chr(30)),
                       coalesce(text, chr(30) || 'NULL' || chr(30))
                   ) AS canon
            FROM documents
        )
        GROUP BY lang
    """,
    # Ordered funnel, min-chain semantics replayed step by step.
    "ts_funnel": """
        WITH e AS (
            SELECT user_id,
                   CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS t,
                   event_type
            FROM events
        ),
        s1 AS (
            SELECT user_id, MIN(t) AS st FROM e
            WHERE event_type = 'view' GROUP BY 1
        ),
        s2 AS (
            SELECT e.user_id, MIN(t) AS st
            FROM e JOIN s1 USING (user_id)
            WHERE event_type = 'click' AND t >= s1.st GROUP BY 1
        ),
        s3 AS (
            SELECT e.user_id, MIN(t) AS st
            FROM e JOIN s2 USING (user_id)
            WHERE event_type = 'purchase' AND t >= s2.st GROUP BY 1
        )
        SELECT 1 AS step, 'view' AS step_name,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_users
        UNION ALL
        SELECT 2, 'click', (SELECT CAST(COUNT(*) AS BIGINT) FROM s2)
        UNION ALL
        SELECT 3, 'purchase', (SELECT CAST(COUNT(*) AS BIGINT) FROM s3)
    """,
    # Classifier distillation contract: exact split anchors + held-out
    # accuracy bound (the oracle recomputes only the anchors; the
    # boolean is the bound the Spark model must earn).
    "quality_classifier": """
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
                WHERE doc_id % 2 = 0) AS n_train,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
                WHERE doc_id % 2 = 1) AS n_test,
               TRUE AS holdout_acc_ge_090
    """,
    # Shard append under the parity split: odd-doc ranks continue after
    # each shard's even-doc count; the union layout is replayed exactly.
    "pipeline_shard_append": """
        WITH keyed AS (
            SELECT doc_id,
                   md5('ep0:' || CAST(doc_id AS VARCHAR)) AS hx,
                   doc_id % 2 = 0 AS is_old
            FROM documents
        ),
        placed AS (
            SELECT doc_id, is_old,
                   CAST(CAST(('0x' || substr(hx, 1, 12)) AS BIGINT) % 4
                        AS INTEGER) AS shard,
                   ROW_NUMBER() OVER (
                       PARTITION BY
                           CAST(('0x' || substr(hx, 1, 12)) AS BIGINT) % 4,
                           doc_id % 2
                       ORDER BY hx, doc_id
                   ) AS rk
            FROM keyed
        ),
        base AS (
            SELECT shard, COUNT(*) AS n_old
            FROM placed WHERE is_old GROUP BY shard
        )
        SELECT p.doc_id, p.shard,
               CAST(CASE WHEN p.is_old THEN p.rk
                         ELSE p.rk + COALESCE(b.n_old, 0) END
                    AS BIGINT) AS pos
        FROM placed p LEFT JOIN base b USING (shard)
    """,
    # Deterministic shuffle-shard, full-value: shard = first 16 digest
    # bits mod 8, pos = rank of the digest within the shard — both pure
    # md5 functions of (seed, id), so DuckDB reproduces the permutation
    # bit-exactly ('0x'-string cast parses the hex).
    "pipeline_shuffle_shard": """
        SELECT doc_id,
               CAST(CAST(('0x' || substr(hx, 1, 12)) AS BIGINT) % 8
                    AS INTEGER) AS shard,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY CAST(('0x' || substr(hx, 1, 12)) AS BIGINT) % 8
                   ORDER BY hx, doc_id
               ) AS BIGINT) AS pos
        FROM (SELECT doc_id,
                     md5('ep0:' || CAST(doc_id AS VARCHAR)) AS hx
              FROM documents)
    """,
    # SemDeDup survivors, full-value: exact cosine pairs -> recursive-CTE
    # reachability clusters -> drop every member that is not the
    # cluster's representative.  Shares the exact-pair formulation with
    # the emb_neardup oracle (DOUBLE-cast list_cosine_similarity).
    "pipeline_semdedup": """
        WITH RECURSIVE
        pairs AS (
            SELECT l.vec_id AS id_a, r.vec_id AS id_b
            FROM embeddings l JOIN embeddings r ON l.vec_id < r.vec_id
            WHERE list_cosine_similarity(
                      [CAST(x AS DOUBLE) FOR x IN l.embedding],
                      [CAST(x AS DOUBLE) FOR x IN r.embedding]) >= 0.4
        ),
        edges AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION ALL
            SELECT id_b AS a, id_a AS b FROM pairs
        ),
        reach(id, lbl) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.a, reach.lbl FROM edges e JOIN reach ON e.b = reach.id
        ),
        members AS (
            SELECT id AS member_id, MIN(lbl) AS cluster_id
            FROM reach GROUP BY id
        ),
        reps AS (
            SELECT cluster_id, MIN(member_id) AS rep_id
            FROM members GROUP BY cluster_id
        ),
        losers AS (
            SELECT m.member_id
            FROM members m JOIN reps r USING (cluster_id)
            WHERE m.member_id <> r.rep_id
        )
        SELECT e.vec_id, e.label FROM embeddings e
        WHERE e.vec_id NOT IN (SELECT member_id FROM losers)
    """,
    # Best-member survivor rule: highest label, ties to lowest id
    # (window-ranked rep per cluster).
    "pipeline_semdedup_best": """
        WITH RECURSIVE
        pairs AS (
            SELECT l.vec_id AS id_a, r.vec_id AS id_b
            FROM embeddings l JOIN embeddings r ON l.vec_id < r.vec_id
            WHERE list_cosine_similarity(
                      [CAST(x AS DOUBLE) FOR x IN l.embedding],
                      [CAST(x AS DOUBLE) FOR x IN r.embedding]) >= 0.4
        ),
        edges AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION ALL
            SELECT id_b AS a, id_a AS b FROM pairs
        ),
        reach(id, lbl) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.a, reach.lbl FROM edges e JOIN reach ON e.b = reach.id
        ),
        members AS (
            SELECT id AS member_id, MIN(lbl) AS cluster_id
            FROM reach GROUP BY id
        ),
        reps AS (
            SELECT cluster_id, member_id AS rep_id FROM (
                SELECT m.cluster_id, m.member_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY m.cluster_id
                           ORDER BY e.label DESC, m.member_id ASC
                       ) AS rn
                FROM members m JOIN embeddings e ON e.vec_id = m.member_id
            ) WHERE rn = 1
        ),
        losers AS (
            SELECT m.member_id
            FROM members m JOIN reps r USING (cluster_id)
            WHERE m.member_id <> r.rep_id
        )
        SELECT e.vec_id, e.label FROM embeddings e
        WHERE e.vec_id NOT IN (SELECT member_id FROM losers)
    """,
    # Portable-SimHash full-value check: recompute the 63-bit md5
    # signature per doc in pure SQL (token hash = md5_number_lower mod
    # 2^63, bit-majority votes over the token multiset, ties -> 0), then
    # brute-force every pair within hamming <= 3.  Pigeonhole banding is
    # complete at 4 bands, so the Spark pipeline's banded output must
    # equal this exactly — row set AND hamming values.
    # Integer-cosine near-dup contract: hyperplane literals + the
    # division/sqrt-free threshold predicate shared with the kernel
    "emb_neardup_portable": _emb_neardup_portable_sql(),
    # Scale-path SemDeDup over the portable pairs: one recursive-CTE
    # replay of candidates + reachability + survivor rule
    "semdedup_portable": _semdedup_portable_sql(),
    # Robots-policy contract: every verdict derived from the synthesis
    # parameters as one CASE (m = doc_id%13, h = doc_id%5) — the
    # longest-match/tie logic is never re-implemented on this side
    "url_robots_filter": """
        SELECT doc_id, url FROM (
            SELECT doc_id,
                   'http://h' || CAST(doc_id % 5 AS VARCHAR) ||
                   '.com/p/' || CAST(doc_id % 13 AS VARCHAR) || '/x'
                       AS url,
                   doc_id % 5 AS h, doc_id % 13 AS m
            FROM documents)
        WHERE CASE
            WHEN m = 12 THEN TRUE
            WHEN m IN (1, 10, 11) THEN FALSE
            WHEN h = 2 THEN FALSE
            ELSE TRUE END
    """,
    # Crawl-to-corpus e2e contract: the oracle replays the WHOLE chain
    # from the synthesis parameters (expected text = the whitespace
    # collapse, expected canonical URL from g, both survivor rules as
    # min-id QUALIFY windows) — no HTML or URL parsing on the oracle
    # side, so a shared misunderstanding cannot cancel out.
    "pipeline_crawl_e2e": r"""
        WITH base AS (
            SELECT doc_id, doc_id // 2 AS g,
                   trim(regexp_replace(COALESCE(text, ''),
                                       '[\t\n\f\r ]+', ' ', 'g'),
                        ' ') AS mt
            FROM documents
        ),
        gated AS (
            SELECT doc_id, g, mt,
                   CAST(len(string_split(mt, ' ')) AS BIGINT) AS n_tokens
            FROM base
            WHERE mt <> ''
              AND len(string_split(mt, ' ')) >= 5
        ),
        url_kept AS (
            SELECT doc_id, g, mt, n_tokens
            FROM gated
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY g ORDER BY doc_id) = 1
        ),
        content_kept AS (
            SELECT doc_id, g, mt, n_tokens
            FROM url_kept
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY mt ORDER BY doc_id) = 1
        )
        SELECT doc_id,
               'http://site' || CAST(g % 37 AS VARCHAR) ||
               CASE g % 3 WHEN 0 THEN '.co.uk' WHEN 1 THEN '.com'
                    ELSE '.github.io' END ||
               '/Articles/' || CAST(g AS VARCHAR) || '?a=1&b=2'
                   AS canonical_url,
               n_tokens, mt AS main_text
        FROM content_kept
    """,
    # HTML-extraction contract (url_canonical_dedup discipline): the
    # expected main text is derived from the synthesis parameters —
    # the wrapper's boilerplate contributes nothing and escape +
    # entity-decode is the identity — so the oracle is the original
    # text under the repo-wide ASCII whitespace collapse, never a
    # second HTML parser whose bugs could cancel the kernel's.
    "text_html_extract": r"""
        SELECT doc_id,
               trim(regexp_replace(COALESCE(text, ''),
                                   '[\t\n\f\r ]+', ' ', 'g'),
                    ' ') AS main_text,
               '/|/about|/sec/' || CAST(doc_id % 7 AS VARCHAR)
                   || '|/rel|/more' AS links,
               '/=Home|/about=About|/sec/' || CAST(doc_id % 7 AS VARCHAR)
                   || '=Section|/rel=Related|/more=More stories'
                   AS anchors
        FROM documents
    """,
    # Portable-MinHash contract: the generated SQL shares the seeded
    # affine-permutation literals with the Spark kernel; signatures,
    # banding, candidates and the exact hash-set Jaccard all replay in
    # pure SQL — full differential check of the banded LSH plan.
    "dedup_minhash_portable": _dedup_minhash_portable_sql(),
    # the incremental face: the full-run portable pair set restricted
    # to batch-touching pairs (batch = doc_id % 10 == 0) — equality
    # certifies the batch-driven plan's completeness cross-engine
    "dedup_incremental": _dedup_minhash_portable_sql(
        extra_where="\n      AND (id_a % 10 = 0 OR id_b % 10 = 0)"
    ),
    "dedup_simhash_portable": """
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
            FROM documents WHERE trim(text) <> ''
        ),
        th AS (
            SELECT doc_id,
                   CAST(md5_number_lower(w) % 9223372036854775808 AS BIGINT)
                       AS h
            FROM toks
        ),
        votes AS (
            SELECT doc_id, b AS bit,
                   SUM(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS v
            FROM th, (SELECT unnest(range(0, 63)) AS b)
            GROUP BY doc_id, b
        ),
        sigs AS (
            SELECT doc_id,
                   CAST(COALESCE(SUM(
                       CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) END
                   ), 0) AS BIGINT) AS sig
            FROM votes GROUP BY doc_id
        )
        SELECT l.doc_id AS id_a, r.doc_id AS id_b,
               CAST(bit_count(xor(l.sig, r.sig)) AS BIGINT) AS hamming
        FROM sigs l JOIN sigs r ON l.doc_id < r.doc_id
        WHERE bit_count(xor(l.sig, r.sig)) <= 3
    """,
    # Image-dedup contract: golden dHash signatures of the deterministic
    # 16-image fixture (computed once from the in-repo PPM/BMP codecs;
    # the hash function itself is property-tested in pytest — binary
    # decode has no DuckDB surface), brute-forced to all pairs within
    # hamming <= 3.  Banding completeness makes this a full differential
    # check of the pair-generation plan.
    "image_dhash_pairs": """
        WITH sigs(id, sig) AS (VALUES
            (CAST(1 AS BIGINT), CAST(8311334474830002914 AS BIGINT)),
            (2, -912037562024772894),
            (3, -8383676846758442478),
            (4, 8311334474830002914),
            (11, 2704286653514830003),
            (12, -6519085383339945805),
            (13, -3064850613957547957),
            (14, 2704286653514830003),
            (21, -7342464473405674772),
            (22, -7342464473405674772),
            (23, 7701906940578386452),
            (24, -7342464473405674772),
            (31, 3627388145102410787),
            (32, -5559955094733401053),
            (33, -3843854492408077101),
            (34, 3627388145102410787)
        )
        SELECT l.id AS id_a, r.id AS id_b,
               CAST(bit_count(xor(l.sig, r.sig)) AS BIGINT) AS hamming
        FROM sigs l JOIN sigs r ON l.id < r.id
        WHERE bit_count(xor(l.sig, r.sig)) <= 3
    """,
    # Audio excerpt containment: the oracle replays the distinct-hash
    # inverted-index join + containment math over golden (id, window,
    # hash) literals (the kernel is pytest-pinned) — a full
    # differential check of the pair/containment machinery.
    "audio_excerpt_containment": """
        WITH wh(id, widx, h) AS (VALUES
            (CAST(1 AS BIGINT), 0, CAST(-64950624650903648 AS BIGINT)),
            (1, 1, -5611427277645668437),
            (1, 2, -3152800123197652781),
            (1, 3, -2314848150361198635),
            (1, 4, -9151577333053647881),
            (2, 0, -3152800123197652781),
            (11, 0, -6721694534371049600),
            (11, 1, 9187487135182119071),
            (11, 2, -67412277223759984),
            (11, 3, 6313783890540228366),
            (11, 4, -1069593924553809122),
            (12, 0, -67412277223759984),
            (21, 0, -2170907843789538148),
            (21, 1, 3523890650470649744),
            (21, 2, 2150292141351338158),
            (21, 3, -7927071556594922104),
            (21, 4, -35061878001564414),
            (22, 0, 2150292141351338158),
            (99, 0, 7108950769245711927),
            (99, 1, 1253195688737017724),
            (99, 2, 6747652559410953251),
            (99, 3, -4077730041286821994),
            (99, 4, 4352926862783721486)
        ),
        dsig AS (SELECT DISTINCT id, h FROM wh),
        counts AS (SELECT id, COUNT(*) AS n FROM dsig GROUP BY id),
        m AS (
            SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS matched
            FROM dsig a JOIN dsig b ON a.h = b.h AND a.id < b.id
            GROUP BY a.id, b.id
        )
        SELECT m.id_a, m.id_b,
               CAST(m.matched AS BIGINT) AS matched,
               CAST(ca.n AS BIGINT) AS n_a,
               CAST(cb.n AS BIGINT) AS n_b,
               CAST(m.matched AS DOUBLE) / LEAST(ca.n, cb.n) AS containment
        FROM m
        JOIN counts ca ON ca.id = m.id_a
        JOIN counts cb ON cb.id = m.id_b
        WHERE CAST(m.matched AS DOUBLE) / LEAST(ca.n, cb.n) >= 0.8
    """,
    # Interval overlap join: the oracle runs the plain theta-join the
    # bucketed plan replaces — full-value, including overlap lengths.
    "j9_interval_overlap": """
        WITH iv AS (
            SELECT l_orderkey * 8 + l_linenumber AS iv_id,
                   l_suppkey AS suppkey,
                   CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
                        AS BIGINT) AS s,
                   CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
                        AS BIGINT) + CAST(l_quantity AS BIGINT) AS e
            FROM lineitem WHERE l_quantity >= 48
        )
        SELECT a.suppkey, a.iv_id AS id_a, b.iv_id AS id_b,
               CAST(LEAST(a.e, b.e) - GREATEST(a.s, b.s) + 1 AS BIGINT)
                   AS overlap_len
        FROM iv a JOIN iv b
          ON a.suppkey = b.suppkey AND a.iv_id < b.iv_id
         AND a.s <= b.e AND b.s <= a.e
    """,
    # Overlap chunking: same stride arithmetic over whitespace tokens.
    "pipeline_chunk_overlap": """
        WITH base AS (
            SELECT doc_id,
                   string_split_regex(trim(text), '\\s+') AS toks,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+'))
                   END AS n
            FROM documents
        ),
        starts AS (
            SELECT doc_id, toks, n,
                   unnest(range(0,
                       GREATEST(CAST(0 AS BIGINT),
                                CAST(ceil((n - 24) / 18.0) AS BIGINT) * 18)
                       + 1, 18)) AS s
            FROM base WHERE n > 0
        )
        SELECT doc_id,
               CAST(s / 18 AS BIGINT) AS chunk_idx,
               array_to_string(list_slice(toks, s + 1, s + 24), ' ')
                   AS chunk_text,
               CAST(LEAST(24, n - s) AS BIGINT) AS n_tokens
        FROM starts
    """,
    # Quantized MaxSim: replay quantization (the f_vector_quantize
    # expression), 4-bags, and the Σ max integer-dot score with nested
    # list lambdas — exact BIGINTs end to end.
    "sim_maxsim_quantized": """
        WITH q AS (
            SELECT vec_id, vec_id // 4 AS mv_id,
                   list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) AS scale,
                   embedding
            FROM embeddings
        ),
        qv AS (
            SELECT mv_id, vec_id,
                   list_transform(embedding,
                       x -> CAST(CASE WHEN scale = 0 THEN 0
                                 ELSE floor(CAST(x AS DOUBLE) * 127.0
                                            / scale + 0.5)
                                 END AS BIGINT)) AS qvec
            FROM q
        ),
        mv AS (
            SELECT mv_id, list(qvec ORDER BY vec_id) AS vecs
            FROM qv GROUP BY mv_id
        ),
        scored AS (
            SELECT qs.mv_id AS query_id, d.mv_id AS doc_id,
                   list_sum(list_transform(qs.vecs, qvec ->
                       list_max(list_transform(d.vecs, dvec ->
                           list_sum(list_transform(
                               range(1, len(qvec) + 1),
                               i -> qvec[i] * dvec[i]))))))
                       AS score
            FROM mv qs, mv d
            WHERE qs.mv_id < 5
        )
        SELECT query_id, doc_id,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY score DESC, doc_id
               ) AS INT) AS rank,
               CAST(score AS BIGINT) AS score
        FROM scored
        QUALIFY rank <= 3
    """,
    # Deterministic k-means: Lloyd iterations unrolled as chained CTEs
    # over the exact integer projection — full-value assignment check.
    "emb_kmeans": clustering_ops.kmeans_oracle_sql(
        "embeddings", "vec_id", "embedding", k=8, iters=4
    ),
    # Cluster-balanced cap: identical md5(seed || chr(31) || id) rank
    # replayed over the unrolled-CTE assignment.
    "emb_kmeans_balanced": f"""
        SELECT vec_id, cluster
        FROM ({clustering_ops.kmeans_oracle_sql(
            "embeddings", "vec_id", "embedding", k=8, iters=4
        )})
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY cluster
            ORDER BY md5('6' || chr(31) || CAST(vec_id AS VARCHAR)), vec_id
        ) <= 40
    """,
    # PQ ANN: shared train+encode CTE chain (one kmeans unroll keyed
    # by subspace), then ADC tables / scoring / ranked top-k — the
    # full approximate search result, full-value.
    "ann_pq": pq_ops.pq_oracle_sql(
        "embeddings", "vec_id", "embedding",
        m=8, k=8, iters=2, topk=3, n_queries=5,
    ),
    # IVF-PQ: cells unroll + residual subspace-keyed unroll + probe
    # ranking + ADC + final rank, every op exact integer.
    "ann_ivfpq": pq_ops.ivfpq_oracle_sql(
        "embeddings", "vec_id", "embedding", dim=64,
        n_cells=4, nprobe=2, m=8, k=8,
        iters_cells=2, iters_pq=2, topk=3, n_queries=5,
    ),
    # IVF-PQ via the serving split (build -> persist model -> reload
    # -> search): bit-exact save/load means the served result equals
    # ivfpq_topk on identical parameters — same replay oracle.
    "ann_ivfpq_served": pq_ops.ivfpq_oracle_sql(
        "embeddings", "vec_id", "embedding", dim=64,
        n_cells=4, nprobe=2, m=8, k=8,
        iters_cells=2, iters_pq=2, topk=3, n_queries=5,
    ),
    # PQ codes: every vector's m codeword indices, comma-joined.
    "emb_pq_codes": pq_ops.pq_codes_oracle_sql(
        "embeddings", "vec_id", "embedding", m=8, k=8, iters=2
    ),
    # DSIR importance scores: identical tokenize -> bigram -> 48-bit
    # md5 bucket -> 2^16-scaled smoothed ratio -> per-doc fold.
    "pipeline_dsir_scores": dsir_ops.dsir_oracle_sql(
        "SELECT doc_id, text FROM documents",
        "SELECT doc_id, text FROM documents WHERE lang = 'en'",
        buckets=4096, scale_bits=16,
    ),
    # RRF: both input rankings replayed with DECIMAL-exact sums +
    # QUALIFY top-50, fused with the identical integer div term.
    # IR-evaluation metrics: the oracle replays the whole pipeline —
    # the f_vector_quantize int8 codec, the truncated 32-dim integer-
    # dot run (products/sums of ints < 2^53 are exact in either
    # engine's arithmetic), the label qrels, and the per-query fold.
    # Every output is an exact integer or one IEEE division of exact
    # integers, so the full row set hash-matches.
    "retrieval_eval": """
        WITH qz AS (
            SELECT vec_id, label,
                   list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) AS scale,
                   embedding
            FROM embeddings
        ),
        codes AS (
            SELECT vec_id, label,
                   CASE WHEN scale = 0
                        THEN list_transform(embedding,
                                 x -> CAST(0 AS BIGINT))
                        ELSE list_transform(embedding,
                                 x -> CAST(floor(CAST(x AS DOUBLE)
                                      * 127.0 / scale + 0.5) AS BIGINT))
                   END AS q
            FROM qz
        ),
        run AS (
            SELECT query_id, neighbor_id, rank FROM (
                SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY CAST(list_sum(list_transform(
                                        list_zip(a.q[1:32], b.q[1:32]),
                                        t -> t[1] * t[2])) AS BIGINT)
                                    DESC,
                                    b.vec_id ASC
                       ) AS rank
                FROM codes a JOIN codes b ON a.vec_id <> b.vec_id
                WHERE a.vec_id < 50
            ) WHERE rank <= 10
        ),
        qrels AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
            FROM embeddings a
            JOIN embeddings b
              ON a.label = b.label AND a.vec_id <> b.vec_id
            WHERE a.vec_id < 50
        ),
        nrel AS (
            SELECT query_id, COUNT(*) AS n_rel FROM qrels GROUP BY query_id
        ),
        perq AS (
            SELECT r.query_id,
                   SUM(CASE WHEN q.neighbor_id IS NOT NULL
                            THEN 1 ELSE 0 END) AS hits,
                   MIN(CASE WHEN q.neighbor_id IS NOT NULL
                            THEN r.rank END) AS fr
            FROM run r
            LEFT JOIN qrels q
              ON r.query_id = q.query_id
             AND r.neighbor_id = q.neighbor_id
            GROUP BY r.query_id
        )
        SELECT p.query_id,
               CAST(COALESCE(n.n_rel, 0) AS BIGINT) AS n_rel,
               CAST(p.hits AS BIGINT) AS hits,
               CAST(COALESCE(p.fr, 0) AS INT) AS first_rank,
               CASE WHEN COALESCE(n.n_rel, 0) > 0
                    THEN CAST(p.hits AS DOUBLE) / CAST(n.n_rel AS DOUBLE)
                    ELSE 0.0 END AS recall_at_10,
               CAST(p.hits AS DOUBLE) / 10.0 AS precision_at_10,
               CASE WHEN p.fr IS NOT NULL
                    THEN 1.0 / CAST(p.fr AS DOUBLE)
                    ELSE 0.0 END AS rr
        FROM perq p LEFT JOIN nrel n ON p.query_id = n.query_id
    """,
    # Filtered vector search: label equi-join candidate generation +
    # exact int8-code dot ranking, replayed verbatim (the scores are
    # exact BIGINTs, so rank AND score hash-match).
    "ann_filtered": """
        WITH qz AS (
            SELECT vec_id, label,
                   list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) AS scale,
                   embedding
            FROM embeddings
        ),
        codes AS (
            SELECT vec_id, label,
                   CASE WHEN scale = 0
                        THEN list_transform(embedding,
                                 x -> CAST(0 AS BIGINT))
                        ELSE list_transform(embedding,
                                 x -> CAST(floor(CAST(x AS DOUBLE)
                                      * 127.0 / scale + 0.5) AS BIGINT))
                   END AS q
            FROM qz
        ),
        scored AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   CAST(list_sum(list_transform(list_zip(a.q, b.q),
                        t -> t[1] * t[2])) AS BIGINT) AS score
            FROM codes a
            JOIN codes b ON a.label = b.label AND a.vec_id <> b.vec_id
        )
        SELECT query_id, neighbor_id, rank, score FROM (
            SELECT query_id, neighbor_id, score,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY score DESC, neighbor_id ASC
                   ) AS rank
            FROM scored
        ) WHERE rank <= 5
    """,
    "ann_hamming": """
        -- deliberately different formulation: no packing — count sign
        -- disagreements dimension-wise (equals popcount(xor) of the
        -- packed words by construction)
        WITH s AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS sgn
            FROM embeddings
        ),
        q AS (SELECT * FROM s WHERE vec_id < 50),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   CAST(list_sum(list_transform(list_zip(q.sgn, c.sgn),
                        t -> CASE WHEN t[1] <> t[2] THEN 1 ELSE 0 END))
                        AS BIGINT) AS dist
            FROM q JOIN s c ON q.vec_id <> c.vec_id
        )
        SELECT query_id, neighbor_id, rank, dist FROM (
            SELECT query_id, neighbor_id, dist,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY dist ASC, neighbor_id ASC
                   ) AS rank
            FROM scored
        ) WHERE rank <= 10
    """,
    "ann_hamming_rerank": """
        WITH s AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS sgn
            FROM embeddings
        ),
        q AS (SELECT * FROM s WHERE vec_id < 50),
        shortlist AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY CAST(list_sum(list_transform(
                                        list_zip(q.sgn, c.sgn),
                                        t -> CASE WHEN t[1] <> t[2]
                                             THEN 1 ELSE 0 END))
                                    AS BIGINT) ASC, c.vec_id ASC
                       ) AS hrank
                FROM q JOIN s c ON q.vec_id <> c.vec_id
            ) WHERE hrank <= 20
        ),
        qz AS (
            SELECT vec_id,
                   list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) AS scale,
                   embedding
            FROM embeddings
        ),
        codes AS (
            SELECT vec_id,
                   CASE WHEN scale = 0
                        THEN list_transform(embedding,
                                 x -> CAST(0 AS BIGINT))
                        ELSE list_transform(embedding,
                                 x -> CAST(floor(CAST(x AS DOUBLE)
                                      * 127.0 / scale + 0.5) AS BIGINT))
                   END AS q
            FROM qz
        ),
        rescored AS (
            SELECT sl.query_id, sl.neighbor_id,
                   CAST(list_sum(list_transform(list_zip(a.q, b.q),
                        t -> t[1] * t[2])) AS BIGINT) AS score
            FROM shortlist sl
            JOIN codes a ON a.vec_id = sl.query_id
            JOIN codes b ON b.vec_id = sl.neighbor_id
        )
        SELECT query_id, neighbor_id, rank, score FROM (
            SELECT query_id, neighbor_id, score,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY score DESC, neighbor_id ASC
                   ) AS rank
            FROM rescored
        ) WHERE rank <= 5
    """,
    "retrieval_champion": """
        WITH toks AS (
            SELECT doc_id,
                   CASE WHEN text IS NULL OR trim(lower(text)) = ''
                        THEN []::VARCHAR[]
                        ELSE string_split_regex(trim(lower(text)), '\\s+')
                   END AS t
            FROM documents
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        ex AS (
            SELECT doc_id, len(t) AS dl, unnest(t) AS token FROM toks
        ),
        tf AS (
            SELECT token, doc_id, dl, COUNT(*) AS tf
            FROM ex GROUP BY token, doc_id, dl
        ),
        imp AS (
            SELECT token, doc_id, tf * 1048576 // dl AS impact FROM tf
        ),
        dfreq AS (
            SELECT token, COUNT(*) AS doc_freq FROM imp GROUP BY token
        ),
        champs AS (
            SELECT token, doc_id, impact,
                   ROW_NUMBER() OVER (
                       PARTITION BY token
                       ORDER BY impact DESC, doc_id ASC
                   ) AS champ_rank
            FROM imp QUALIFY champ_rank <= 8
        ),
        hit AS (
            SELECT c.doc_id, c.impact,
                   (n.n_docs * 1024) // (d.doc_freq + 1) AS idf
            FROM champs c JOIN dfreq d USING (token), n
            WHERE c.token IN ('join', 'stream', 'vector')
        )
        SELECT doc_id,
               CAST(SUM(impact * idf) AS BIGINT) AS score,
               CAST(COUNT(*) AS BIGINT) AS n_terms_hit
        FROM hit GROUP BY doc_id
        ORDER BY score DESC, doc_id ASC
        LIMIT 10
    """,
    "retrieval_rrf": """
        WITH rev AS (
            SELECT l_partkey AS doc_id,
                   CAST(ROW_NUMBER() OVER (
                       ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                                    * (CAST(1 AS DECIMAL(18,2))
                                       - CAST(l_discount AS DECIMAL(18,2))))
                                DESC, l_partkey) AS INT) AS rank
            FROM lineitem GROUP BY l_partkey
            QUALIFY rank <= 50
        ),
        qty AS (
            SELECT l_partkey AS doc_id,
                   CAST(ROW_NUMBER() OVER (
                       ORDER BY SUM(CAST(l_quantity AS DECIMAL(18,2)))
                                DESC, l_partkey) AS INT) AS rank
            FROM lineitem GROUP BY l_partkey
            QUALIFY rank <= 50
        ),
        u AS (
            SELECT doc_id, 1048576 // (60 + rank) AS t FROM rev
            UNION ALL
            SELECT doc_id, 1048576 // (60 + rank) AS t FROM qty
        ),
        f AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_lists,
                   CAST(SUM(t) AS BIGINT) AS rrf_score
            FROM u GROUP BY doc_id
        )
        SELECT doc_id AS p_partkey, n_lists, rrf_score,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY rrf_score DESC, doc_id) AS INT) AS fused_rank
        FROM f
        QUALIFY fused_rank <= 20
    """,
    # Token-budget mixture: identical md5 line order and running-total
    # recurrence, replayed as one window per language.
    "pipeline_token_budget": f"""
        WITH t AS (
            SELECT doc_id, lang,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE CAST({_WS_TOKENS} AS BIGINT) END AS w,
                   md5('budget' || CAST(doc_id AS VARCHAR)) AS hx
            FROM documents
            WHERE lang IN ('en', 'zh', 'es')
        ),
        lined AS (
            SELECT doc_id, lang, w,
                   SUM(w) OVER (
                       PARTITION BY lang ORDER BY hx, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum,
                   CASE lang WHEN 'en' THEN 3000
                             WHEN 'zh' THEN 1200
                             ELSE 800 END AS b
            FROM t WHERE w > 0
        )
        SELECT doc_id, lang, w AS weight, CAST(cum AS BIGINT) AS cum_tokens
        FROM lined
        WHERE cum - w < b
    """,
    # Leakage-safe split: recursive-reachability clusters over the
    # exact-Jaccard pair set, then the md5 bucket CASE over the
    # cluster representative (fallback: the doc's own id).
    "pipeline_leakage_split": f"""
        WITH RECURSIVE
        {_EXACT_JACCARD_PAIRS_SQL},
        edges AS (
            SELECT id_a AS a, id_b AS b FROM exact_pairs
            UNION ALL
            SELECT id_b AS a, id_a AS b FROM exact_pairs
        ),
        reach(id, lbl) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.a, reach.lbl FROM edges e JOIN reach ON e.b = reach.id
        ),
        cl AS (
            SELECT id AS member_id, MIN(lbl) AS cluster_id
            FROM reach GROUP BY id
        )
        SELECT doc_id,
               CASE WHEN b < 204 THEN 'train'
                    WHEN b < 230 THEN 'valid'
                    ELSE 'test' END AS split
        FROM (
            SELECT d.doc_id,
                   (strpos('0123456789abcdef',
                           substr(md5(CAST(COALESCE(cl.cluster_id, d.doc_id)
                                           AS VARCHAR)), 1, 1)) - 1) * 16
                 + (strpos('0123456789abcdef',
                           substr(md5(CAST(COALESCE(cl.cluster_id, d.doc_id)
                                           AS VARCHAR)), 2, 1)) - 1) AS b
            FROM documents d
            LEFT JOIN cl ON cl.member_id = d.doc_id)
    """,
    # Triangle counts: 3-way oriented join a<b<c, then each triangle
    # credits its three nodes; nodes of the graph missing from every
    # triangle report 0 — full-value.
    "graph_triangles": """
        WITH pp AS (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        ),
        e AS (
            SELECT DISTINCT a.p AS a, b.p AS b
            FROM pp a JOIN pp b ON a.o = b.o AND a.p < b.p
        ),
        tri AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM e e1
            JOIN e e2 ON e1.b = e2.a
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        pernode AS (
            SELECT n, COUNT(*) AS c FROM (
                SELECT x AS n FROM tri
                UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri
            ) GROUP BY n
        ),
        nodes AS (
            SELECT a AS n FROM e UNION SELECT b FROM e
        )
        SELECT CAST(nodes.n AS BIGINT) AS node,
               CAST(COALESCE(pernode.c, 0) AS BIGINT) AS n_triangles
        FROM nodes LEFT JOIN pernode ON pernode.n = nodes.n
    """,
    # Negative sampling: rebuild the deterministic shard layout (same
    # CTE as pipeline_shuffle_shard), then replay the md5 coordinate
    # addressing — with-replacement slots, self-collision drop.
    "pipeline_negative_samples": """
        WITH sharded AS (
            SELECT doc_id,
                   CAST(CAST(('0x' || substr(hx, 1, 12)) AS BIGINT) % 8
                        AS INTEGER) AS shard,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY
                           CAST(('0x' || substr(hx, 1, 12)) AS BIGINT) % 8
                       ORDER BY hx, doc_id
                   ) AS BIGINT) AS pos
            FROM (SELECT doc_id,
                         md5('ep0:' || CAST(doc_id AS VARCHAR)) AS hx
                  FROM documents)
        ),
        counts AS (
            SELECT shard, COUNT(*) AS n FROM sharded GROUP BY shard
        ),
        cand AS (
            SELECT s.doc_id AS anchor_id, j.j,
                   md5('neg0:' || CAST(s.doc_id AS VARCHAR) || ':'
                       || CAST(j.j AS VARCHAR)) AS hx
            FROM sharded s, (SELECT unnest(range(1, 5)) AS j) j
        ),
        addr AS (
            SELECT anchor_id, j,
                   CAST(CAST(('0x' || substr(hx, 1, 12)) AS BIGINT) % 8
                        AS INTEGER) AS shard,
                   CAST(('0x' || substr(hx, 13, 12)) AS BIGINT) AS h2
            FROM cand
        ),
        placed AS (
            SELECT a.anchor_id, a.j, a.shard,
                   (a.h2 % c.n) + 1 AS pos
            FROM addr a JOIN counts c ON c.shard = a.shard
        )
        SELECT p.anchor_id, CAST(p.j AS BIGINT) AS j,
               s.doc_id AS neg_id
        FROM placed p
        JOIN sharded s ON s.shard = p.shard AND s.pos = p.pos
        WHERE s.doc_id <> p.anchor_id
    """,
    # Contains face: directed theta-join, self excluded.
    "j10_interval_contains": """
        WITH iv AS (
            SELECT l_orderkey * 8 + l_linenumber AS iv_id,
                   l_suppkey AS suppkey,
                   CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
                        AS BIGINT) AS s,
                   CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
                        AS BIGINT) + CAST(l_quantity AS BIGINT) AS e
            FROM lineitem WHERE l_quantity >= 48
        )
        SELECT a.suppkey, a.iv_id AS container_id, b.iv_id AS contained_id,
               CAST(b.e - b.s + 1 AS BIGINT) AS contained_len
        FROM iv a JOIN iv b
          ON a.suppkey = b.suppkey AND a.iv_id <> b.iv_id
         AND a.s <= b.s AND b.e <= a.e
    """,
    # OHLC: window formulation of the same candle semantics.
    "ts_ohlc": """
        WITH e AS (
            SELECT event_type, event_id, value,
                   CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000
                        AS BIGINT) AS sec
            FROM events
        ),
        b AS (
            SELECT *, sec - sec % 86400 AS bucket_start FROM e
        ),
        r AS (
            SELECT *,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type, bucket_start
                       ORDER BY sec, event_id) AS rn_a,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type, bucket_start
                       ORDER BY sec DESC, event_id DESC) AS rn_d
            FROM b
        )
        SELECT event_type, bucket_start,
               MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
               MAX(value) AS high, MIN(value) AS low,
               MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
               CAST(COUNT(*) AS BIGINT) AS n_ticks
        FROM r GROUP BY 1, 2
    """,
    # Interval-union coverage: identical gaps-and-islands recurrence in
    # SQL windows — full-value.
    "ts_interval_coverage": """
        WITH iv AS (
            SELECT l_suppkey AS suppkey,
                   CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
                        AS BIGINT) AS s,
                   CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
                        AS BIGINT) + CAST(l_quantity AS BIGINT) AS e
            FROM lineitem WHERE l_quantity >= 48
        ),
        flagged AS (
            SELECT suppkey, s, e,
                   CASE WHEN MAX(e) OVER (
                            PARTITION BY suppkey ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING
                        ) IS NULL
                        OR s > MAX(e) OVER (
                            PARTITION BY suppkey ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING
                        )
                   THEN 1 ELSE 0 END AS new_island
            FROM iv
        ),
        islands AS (
            SELECT suppkey, s, e,
                   SUM(new_island) OVER (
                       PARTITION BY suppkey ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS island
            FROM flagged
        ),
        agg AS (
            SELECT suppkey, island, MIN(s) AS i_s, MAX(e) AS i_e,
                   COUNT(*) AS n
            FROM islands GROUP BY suppkey, island
        )
        SELECT suppkey, CAST(SUM(n) AS BIGINT) AS n_intervals,
               CAST(SUM(i_e - i_s + 1) AS BIGINT) AS covered_len
        FROM agg GROUP BY suppkey
    """,
    # Incremental portable-SimHash: the dedup_simhash_portable oracle
    # restricted to pairs touching the odd-doc batch — full-value.
    "dedup_simhash_incremental": """
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
            FROM documents WHERE trim(text) <> ''
        ),
        th AS (
            SELECT doc_id,
                   CAST(md5_number_lower(w) % 9223372036854775808 AS BIGINT)
                       AS h
            FROM toks
        ),
        votes AS (
            SELECT doc_id, b AS bit,
                   SUM(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS v
            FROM th, (SELECT unnest(range(0, 63)) AS b)
            GROUP BY doc_id, b
        ),
        sigs AS (
            SELECT doc_id,
                   CAST(COALESCE(SUM(
                       CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) END
                   ), 0) AS BIGINT) AS sig
            FROM votes GROUP BY doc_id
        )
        SELECT l.doc_id AS id_a, r.doc_id AS id_b,
               CAST(bit_count(xor(l.sig, r.sig)) AS BIGINT) AS hamming
        FROM sigs l JOIN sigs r ON l.doc_id < r.doc_id
        WHERE bit_count(xor(l.sig, r.sig)) <= 3
          AND (l.doc_id % 2 = 1 OR r.doc_id % 2 = 1)
    """,
    # Gopher rule bundle: every rule re-derived in pure SQL over the
    # same corpus — integers + IEEE per-row divisions, so evidence
    # columns and the keep flag are bit-exact cross-engine.
    "quality_gopher_rules": """
        WITH base AS (
            SELECT doc_id, text,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+'))
                   END AS n_words,
                   string_split_regex(trim(text), '\\s+') AS words,
                   string_split(text, chr(10)) AS lines,
                   length(regexp_replace(text, '\\s+', '', 'g')) AS wsfree,
                   length(text) - length(replace(text, '#', '')) AS n_hash,
                   (length(text) - length(replace(text, '...', ''))) / 3
                       AS n_ell
            FROM documents
        ),
        feat AS (
            SELECT doc_id, n_words,
                   CASE WHEN n_words = 0 THEN 0.0
                        ELSE CAST(wsfree AS DOUBLE) / n_words END
                       AS mean_word_len,
                   CASE WHEN n_words = 0 THEN 0.0
                        ELSE CAST(n_hash + n_ell AS DOUBLE) / n_words END
                       AS symbol_ratio,
                   CASE WHEN n_words = 0 THEN 0.0
                        ELSE CAST(len(list_filter(words,
                                 w -> regexp_matches(w, '[A-Za-z]')))
                             AS DOUBLE) / n_words END
                       AS alpha_word_ratio,
                   CAST(len(list_filter(lines,
                            ln -> starts_with(ln, '- ')
                                  OR starts_with(ln, '* ')))
                        AS DOUBLE) / len(lines) AS bullet_ratio,
                   CAST(len(list_filter(lines, ln -> ends_with(ln, '...')))
                        AS DOUBLE) / len(lines) AS ellipsis_ratio,
                   CAST(
                       (CASE WHEN list_contains(words, 'the') THEN 1 ELSE 0 END)
                     + (CASE WHEN list_contains(words, 'a') THEN 1 ELSE 0 END)
                     + (CASE WHEN list_contains(words, 'of') THEN 1 ELSE 0 END)
                     + (CASE WHEN list_contains(words, 'and') THEN 1 ELSE 0 END)
                     + (CASE WHEN list_contains(words, 'to') THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_stop_distinct
            FROM base
        )
        SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_word_len,
               symbol_ratio, alpha_word_ratio, bullet_ratio,
               ellipsis_ratio, n_stop_distinct,
               (n_words BETWEEN 20 AND 100000
                AND mean_word_len BETWEEN 3.0 AND 10.0
                AND symbol_ratio <= 0.1
                AND alpha_word_ratio >= 0.8
                AND bullet_ratio <= 0.9
                AND ellipsis_ratio <= 0.3
                AND n_stop_distinct >= 2) AS keep
        FROM feat
    """,
    # Video frame-set containment: same golden-literal replay of the
    # shared containment machinery as audio_excerpt_containment.
    "video_frame_containment": """
        WITH wh(id, widx, h) AS (VALUES
            (CAST(1 AS BIGINT), 0, CAST(-4948000589581398428 AS BIGINT)),
            (1, 1, -3343172059209247351),
            (1, 2, 7662654540108060087),
            (1, 3, 3002975325495129538),
            (1, 4, 2901529095632055055),
            (1, 5, -7617931357521818330),
            (2, 0, -4948000589581398428),
            (2, 1, 7662654540108060087),
            (2, 2, 2901529095632055055),
            (3, 0, -4948000589581398428),
            (3, 1, -3343172059209247351),
            (3, 2, 7662654540108060087),
            (11, 0, 7302404936201767706),
            (11, 1, -6112980823024744940),
            (11, 2, 727991415524222325),
            (11, 3, -6204188125133688412),
            (11, 4, 7897527944699487961),
            (11, 5, -2696159962251809367),
            (12, 0, 7302404936201767706),
            (12, 1, 727991415524222325),
            (12, 2, 7897527944699487961),
            (13, 0, 7302404936201767706),
            (13, 1, -6112980823024744940),
            (13, 2, 727991415524222325),
            (99, 0, 3407345137725835603),
            (99, 1, 2752643346469587658),
            (99, 2, 5887160092841403744),
            (99, 3, -6673088167375645350),
            (99, 4, 5652983635155504509),
            (99, 5, -6110067246063230381)
        ),
        dsig AS (SELECT DISTINCT id, h FROM wh),
        counts AS (SELECT id, COUNT(*) AS n FROM dsig GROUP BY id),
        m AS (
            SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS matched
            FROM dsig a JOIN dsig b ON a.h = b.h AND a.id < b.id
            GROUP BY a.id, b.id
        )
        SELECT m.id_a, m.id_b,
               CAST(m.matched AS BIGINT) AS matched,
               CAST(ca.n AS BIGINT) AS n_a,
               CAST(cb.n AS BIGINT) AS n_b,
               CAST(m.matched AS DOUBLE) / LEAST(ca.n, cb.n) AS containment
        FROM m
        JOIN counts ca ON ca.id = m.id_a
        JOIN counts cb ON cb.id = m.id_b
        WHERE CAST(m.matched AS DOUBLE) / LEAST(ca.n, cb.n) >= 0.8
    """,
    # Compression-gate golden-survivor contract: deflate has no DuckDB
    # surface, so the oracle is the expected survivor literal (ratios
    # sit far from the gate boundaries — see the query comment).
    "quality_compression_gate": """
        SELECT CAST(doc_id AS BIGINT) AS doc_id
        FROM (VALUES (1), (5)) AS t(doc_id)
    """,
    # URL canonicalization dedup: the oracle derives the EXPECTED
    # canonical form and survivor straight from the synthesis
    # parameters (g = doc_id div 2) — ground truth, not a second
    # parser.  Survivor = min doc_id = the MESSY even variant, so the
    # check fails unless Spark's canonicalizer actually collapsed it.
    "url_canonical_dedup": """
        WITH grp AS (
            SELECT doc_id // 2 AS g, MIN(doc_id) AS survivor
            FROM documents GROUP BY doc_id // 2
        )
        SELECT 'http://site' || CAST(g % 37 AS VARCHAR) ||
               CASE g % 3 WHEN 0 THEN '.co.uk' WHEN 1 THEN '.com'
                    ELSE '.github.io' END ||
               '/Articles/' || CAST(g AS VARCHAR) || '?a=1&b=2'
                   AS canonical_url,
               CAST(survivor AS BIGINT) AS doc_id
        FROM grp
    """,
    # Per-domain cap: replay the registrable domain from the synthesis
    # parameters and the SAME stable md5(salt||id) ranking.
    "url_domain_cap": """
        WITH ranked AS (
            SELECT doc_id,
                   'd' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS domain,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_id % 7
                       ORDER BY md5('domcap' || CAST(doc_id AS VARCHAR)),
                                doc_id
                   ) AS rk
            FROM documents
        )
        SELECT doc_id, domain, CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= 10
    """,
    # Audio/video twins of the image-dedup contract: golden perceptual
    # signatures of the deterministic fixtures (spectral_hash64 /
    # video_majority_dhash, both property-tested in pytest), pairs
    # brute-forced within hamming <= 3.
    "audio_spectral_pairs": """
        WITH sigs(id, sig) AS (VALUES
            (CAST(1 AS BIGINT), CAST(-4872407512451277184 AS BIGINT)),
            (2, -4872407512451277184),
            (3, -6025610526394556798),
            (4, -5549134072543909418),
            (11, -6836569512060512882),
            (12, -6836569512060512882),
            (13, -6836569512094038641),
            (14, -2343128058324872965),
            (21, -6891187088596686645),
            (22, -6891187088596686645),
            (23, -6891188185960830773),
            (24, -6675845397105807614),
            (31, 6728272737119650966),
            (32, 6728272737119650966),
            (33, 6728272737119683734),
            (34, 6364585374976362288)
        )
        SELECT l.id AS id_a, r.id AS id_b,
               CAST(bit_count(xor(l.sig, r.sig)) AS BIGINT) AS hamming
        FROM sigs l JOIN sigs r ON l.id < r.id
        WHERE bit_count(xor(l.sig, r.sig)) <= 3
    """,
    "video_dhash_pairs": """
        WITH sigs(id, sig) AS (VALUES
            (CAST(1 AS BIGINT), CAST(-7822847404171169179 AS BIGINT)),
            (2, -7822847404171169179),
            (3, -7840861802680651163),
            (4, -8060688743383181818),
            (11, -8887808324385630893),
            (12, -8887808324385630893),
            (13, -8923837121404594861),
            (14, 5400857519384290907),
            (21, -5320357038307715447),
            (22, -5320357038307715447),
            (23, -5320357038307715447),
            (24, -6151576143417102688),
            (31, 8541526980726369893),
            (32, 8541526980726369893),
            (33, 8505498183707405925),
            (34, 1666771977524917206)
        )
        SELECT l.id AS id_a, r.id AS id_b,
               CAST(bit_count(xor(l.sig, r.sig)) AS BIGINT) AS hamming
        FROM sigs l JOIN sigs r ON l.id < r.id
        WHERE bit_count(xor(l.sig, r.sig)) <= 3
    """,
    "text_winnowing": """
        WITH toks AS (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS t
            FROM documents WHERE trim(text) <> ''
        ),
        grams AS (
            SELECT doc_id, i AS pos, len(t) - 4 AS ng,
                   CAST(md5_number_lower(array_to_string(t[i:i+4], ' '))
                        % 9223372036854775808 AS BIGINT) AS h
            FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
                  FROM toks WHERE len(t) >= 5)
        ),
        winmins AS (
            SELECT doc_id, pos, ng,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                       AS m
            FROM grams
        )
        SELECT DISTINCT doc_id, m AS fp
        FROM winmins
        WHERE (ng <= 4 AND pos = 1) OR (ng > 4 AND pos <= ng - 3)
    """,
    "text_tokens": f"""
        SELECT doc_id, lang,
               CASE WHEN trim(text) = '' THEN 0 ELSE CAST({_WS_TOKENS} AS INT) END AS n_tokens,
               CAST(LENGTH(text) AS BIGINT) AS n_chars_m
        FROM documents
    """,
    "text_fingerprint": """
        SELECT doc_id,
               sha256(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
        FROM documents
    """,
    "sample_mixture": """
        WITH c AS (
            SELECT lang AS _stratum, count(*) AS n
            FROM documents WHERE lang IN ('de', 'en', 'zh') GROUP BY 1
        ),
        cap AS (
            SELECT _stratum, n,
                   CASE _stratum
                        WHEN 'en' THEN CAST(0.5 AS DOUBLE)
                        WHEN 'de' THEN CAST(0.3 AS DOUBLE)
                        WHEN 'zh' THEN CAST(0.2 AS DOUBLE)
                   END AS w
            FROM c
        ),
        q AS (
            SELECT _stratum,
                   CAST(floor(w * (SELECT min(n / w) FROM cap)) AS BIGINT)
                       AS quota
            FROM cap
        ),
        r AS (
            SELECT d.doc_id, d.lang AS _stratum,
                   row_number() OVER (
                       PARTITION BY d.lang
                       ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
                   ) AS rk
            FROM documents d WHERE d.lang IN ('de', 'en', 'zh')
        )
        SELECT r.doc_id, r._stratum AS stratum, r.rk
        FROM r JOIN q USING (_stratum)
        WHERE r.rk <= q.quota
    """,
    "layout_zorder": f"""
        SELECT l_orderkey, l_partkey, l_linenumber,
               ({" + ".join(
                   f"((((l_orderkey & 65535) >> {b}) & 1) << {2 * b})"
                   f" + ((((l_partkey & 65535) >> {b}) & 1) << {2 * b + 1})"
                   for b in range(16)
               )}) AS zkey
        FROM lineitem
    """,
    "text_repetition": r"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
            FROM documents
        ),
        bi AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(t) - 1),
                                         i -> t[i] || ' ' || t[i + 1])) AS g
            FROM toks WHERE len(t) >= 2
        ),
        bic AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2),
        bis AS (SELECT doc_id, max(c) AS top, sum(c) AS tot FROM bic GROUP BY 1),
        tri AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(t) - 2),
                                         i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
            FROM toks WHERE len(t) >= 3
        ),
        tric AS (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY 1, 2),
        tris AS (
            SELECT doc_id,
                   sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup,
                   sum(c) AS tot3
            FROM tric GROUP BY 1
        )
        SELECT d.doc_id,
               coalesce(CAST(b.top AS DOUBLE) / CAST(b.tot AS DOUBLE), 0.0)
                   AS top_bigram_frac,
               coalesce(CAST(t.dup AS DOUBLE) / CAST(t.tot3 AS DOUBLE), 0.0)
                   AS dup_trigram_frac
        FROM documents d
        LEFT JOIN bis b USING (doc_id)
        LEFT JOIN tris t USING (doc_id)
    """,
    # inverted index: per-doc distinct tokens -> sorted posting lists
    "text_inverted_index": """
        WITH toks AS (
            SELECT doc_id,
                   CASE WHEN text IS NULL OR trim(lower(text)) = ''
                        THEN []::VARCHAR[]
                        ELSE string_split_regex(trim(lower(text)), '\\s+')
                   END AS t
            FROM documents
        ), per_doc AS (
            SELECT DISTINCT doc_id, unnest(t) AS token FROM toks
        )
        SELECT token, CAST(COUNT(*) AS BIGINT) AS doc_freq,
               array_to_string(list(CAST(doc_id AS VARCHAR)
                                    ORDER BY doc_id), ',') AS postings_csv
        FROM per_doc GROUP BY token
        HAVING COUNT(*) >= 5
    """,
    # incremental merge == single-pass rebuild: identical oracle text
    "text_index_incremental": """
        WITH toks AS (
            SELECT doc_id,
                   CASE WHEN text IS NULL OR trim(lower(text)) = ''
                        THEN []::VARCHAR[]
                        ELSE string_split_regex(trim(lower(text)), '\\s+')
                   END AS t
            FROM documents
        ), per_doc AS (
            SELECT DISTINCT doc_id, unnest(t) AS token FROM toks
        )
        SELECT token, CAST(COUNT(*) AS BIGINT) AS doc_freq,
               array_to_string(list(CAST(doc_id AS VARCHAR)
                                    ORDER BY doc_id), ',') AS postings_csv
        FROM per_doc GROUP BY token
        HAVING COUNT(*) >= 5
    """,
    # per-column profile: one UNION ALL branch per profiled column
    "profile_documents": """
        SELECT 'doc_id' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT(doc_id) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
               CAST(MIN(doc_id) AS DOUBLE) AS min_num,
               CAST(MAX(doc_id) AS DOUBLE) AS max_num,
               NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str
        FROM documents
        UNION ALL
        SELECT 'text', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(*) - COUNT(text) AS BIGINT),
               CAST(COUNT(DISTINCT text) AS BIGINT),
               NULL::DOUBLE, NULL::DOUBLE, MIN(text), MAX(text)
        FROM documents
        UNION ALL
        SELECT 'lang', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(*) - COUNT(lang) AS BIGINT),
               CAST(COUNT(DISTINCT lang) AS BIGINT),
               NULL::DOUBLE, NULL::DOUBLE, MIN(lang), MAX(lang)
        FROM documents
        UNION ALL
        SELECT 'source', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(*) - COUNT(source) AS BIGINT),
               CAST(COUNT(DISTINCT source) AS BIGINT),
               NULL::DOUBLE, NULL::DOUBLE, MIN(source), MAX(source)
        FROM documents
        UNION ALL
        SELECT 'n_chars', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(*) - COUNT(n_chars) AS BIGINT),
               CAST(COUNT(DISTINCT n_chars) AS BIGINT),
               CAST(MIN(n_chars) AS DOUBLE), CAST(MAX(n_chars) AS DOUBLE),
               NULL::VARCHAR, NULL::VARCHAR
        FROM documents
    """,
    # mergeable-histogram percentiles: estimate, exact, one-bin bound
    "a13_histogram_percentile": """
        WITH hist AS (
            SELECT LEAST(GREATEST(CAST(FLOOR(
                       (CAST(l_extendedprice AS DOUBLE) - 0.0)
                       / ((120000.0 - 0.0) / 240)) AS BIGINT), 0), 239)
                       AS bin,
                   COUNT(*) AS n
            FROM lineitem
            WHERE l_extendedprice IS NOT NULL
              AND NOT isnan(CAST(l_extendedprice AS DOUBLE))
            GROUP BY 1
        ), ranked AS (
            SELECT bin,
                   SUM(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
                                PRECEDING AND CURRENT ROW) AS cum,
                   SUM(n) OVER () AS total
            FROM hist
        ), ex AS (
            SELECT quantile_cont(l_extendedprice, 0.5) AS ex0,
                   quantile_cont(l_extendedprice, 0.9) AS ex1,
                   quantile_cont(l_extendedprice, 0.99) AS ex2
            FROM lineitem
        ), est AS (
            SELECT 0.5 AS p,
                   (SELECT 0.0 + (MIN(bin) + 1) * ((120000.0 - 0.0) / 240)
                    FROM ranked
                    WHERE cum * 1000000 >= total * 500000) AS est
            UNION ALL
            SELECT 0.9,
                   (SELECT 0.0 + (MIN(bin) + 1) * ((120000.0 - 0.0) / 240)
                    FROM ranked
                    WHERE cum * 1000000 >= total * 900000)
            UNION ALL
            SELECT 0.99,
                   (SELECT 0.0 + (MIN(bin) + 1) * ((120000.0 - 0.0) / 240)
                    FROM ranked
                    WHERE cum * 1000000 >= total * 990000)
        )
        SELECT p, est,
               CASE WHEN p = 0.5 THEN ex0
                    WHEN p = 0.9 THEN ex1 ELSE ex2 END AS exact,
               (est >= CASE WHEN p = 0.5 THEN ex0
                            WHEN p = 0.9 THEN ex1 ELSE ex2 END)
               AND ((est - CASE WHEN p = 0.5 THEN ex0
                                WHEN p = 0.9 THEN ex1 ELSE ex2 END)
                    <= ((120000.0 - 0.0) / 240)) AS bound_ok
        FROM est, ex
    """,
    # incremental rollup: merged algebraic state must equal the
    # single-pass aggregate over the union, bit-for-bit
    "rollup_incremental": """
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(l_extendedprice) AS BIGINT) AS n,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6)))
                    AS DOUBLE) AS sum_v,
               CAST(MIN(CAST(l_extendedprice AS DECIMAL(38,6)))
                    AS DOUBLE) AS min_v,
               CAST(MAX(CAST(l_extendedprice AS DECIMAL(38,6)))
                    AS DOUBLE) AS max_v,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6)))
                    AS DOUBLE)
                   / CAST(COUNT(l_extendedprice) AS DOUBLE) AS avg_v
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    """,
    # Q2 shape: window-MIN replaces the correlated min-cost subquery
    "tpch_q2_shape": """
        WITH ps AS (
            SELECT l_partkey, l_suppkey,
                   MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS ps_cost
            FROM lineitem GROUP BY 1, 2
        ), eu AS (
            SELECT s_suppkey, s_name, s_acctbal, n_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        ), c AS (
            SELECT ps.l_partkey, ps.ps_cost, eu.s_name, eu.s_acctbal,
                   eu.n_name,
                   MIN(ps_cost) OVER (PARTITION BY l_partkey) AS mc
            FROM ps JOIN eu ON ps.l_suppkey = eu.s_suppkey
        )
        SELECT p_partkey, p_type, s_name, n_name, s_acctbal,
               CAST(ps_cost AS DOUBLE) AS supply_cost
        FROM c JOIN part ON c.l_partkey = p_partkey
        WHERE ps_cost = mc AND p_type = 'LARGE' AND p_size <= 10
    """,
    # Q11 shape: exact-decimal per-part value vs 0.001 of the total
    "tpch_q11_shape": """
        WITH nat AS (
            SELECT s_suppkey FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_7'
        ), per_part AS (
            SELECT l_partkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                       * CAST(l_quantity AS DECIMAL(18,2))) AS v
            FROM lineitem JOIN nat ON l_suppkey = s_suppkey
            GROUP BY 1
        )
        SELECT l_partkey, CAST(v AS DOUBLE) AS part_value
        FROM per_part
        WHERE v > (SELECT SUM(v) * CAST('0.001' AS DECIMAL(10,4))
                   FROM per_part)
    """,
    # Q12 shape: priority split per shipping class; SUMs cast to BIGINT
    "tpch_q12_shape": """
        SELECT l_returnflag,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT)
                   AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag IN ('R', 'A')
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_returnflag
    """,
    # Q21 shape: EXISTS/NOT-EXISTS re-expressed as two-level aggregates
    "tpch_q21_shape": """
        WITH per_os AS (
            SELECT l_orderkey, l_suppkey,
                   MAX(CASE WHEN l_shipdate >
                            o_orderdate + INTERVAL 60 DAY
                            THEN 1 ELSE 0 END) AS late
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'
            GROUP BY 1, 2
        ), per_o AS (
            SELECT l_orderkey, COUNT(*) AS n_supp,
                   SUM(late) AS n_late
            FROM per_os GROUP BY 1
        )
        SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM per_os
        JOIN per_o USING (l_orderkey)
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE late = 1 AND n_supp > 1 AND n_late = 1
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
    """,
    # changelog compaction: latest row per key, deletes drop the key
    "cdc_latest_state": """
        SELECT user_id, seq, op, event_type, value FROM (
            SELECT user_id, event_id AS seq,
                   CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                   event_type, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1 AND op <> 'D'
    """,
    # incremental apply over a sequence-interleaved split must equal
    # the full-feed compaction — same oracle text by construction
    "cdc_apply_incremental": """
        SELECT user_id, seq, op, event_type, value FROM (
            SELECT user_id, event_id AS seq,
                   CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                   event_type, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1 AND op <> 'D'
    """,
    # substring-level dedup: duplicate 8-gram occurrences (corpus-first
    # kept) merged into maximal spans — gaps-and-islands over the
    # duplicate positions, identical formulation to the Spark windows
    "dedup_passage_spans": """
        WITH toks AS (
            SELECT doc_id,
                   CASE WHEN text IS NULL OR trim(lower(text)) = '' THEN []::VARCHAR[]
                        ELSE string_split_regex(trim(lower(text)), '\\s+')
                   END AS t
            FROM documents
        ), grams AS (
            SELECT doc_id, u.pos AS pos, sha256(u.g) AS gh
            FROM (SELECT doc_id,
                       unnest([{'pos': i - 1,
                                'g': array_to_string(t[i:i+7], ' ')}
                               FOR i IN range(1, len(t) - 8 + 2)]) AS u
                  FROM toks WHERE len(t) >= 8)
        ), dup AS (
            SELECT doc_id, pos FROM (
                SELECT doc_id, pos,
                       ROW_NUMBER() OVER (PARTITION BY gh
                                          ORDER BY doc_id, pos) AS rn
                FROM grams) WHERE rn > 1
        ), grp AS (
            SELECT doc_id, pos,
                   SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
            FROM (SELECT doc_id, pos,
                       CASE WHEN MAX(pos + 8) OVER (PARTITION BY doc_id
                                 ORDER BY pos ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND 1 PRECEDING) IS NULL
                              OR pos > MAX(pos + 8) OVER (PARTITION BY doc_id
                                 ORDER BY pos ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND 1 PRECEDING)
                            THEN 1 ELSE 0 END AS new_span
                  FROM dup)
        )
        SELECT doc_id, CAST(MIN(pos) AS INT) AS span_start,
               CAST(MAX(pos) + 8 AS INT) AS span_end
        FROM grp GROUP BY doc_id, g
    """,
    # duplicate-passage removal: tokens surviving span coverage,
    # re-joined in order; untouched docs pass through normalized
    "pipeline_remove_passages": """
        WITH toks AS (
            SELECT doc_id,
                   CASE WHEN text IS NULL OR trim(lower(text)) = '' THEN []::VARCHAR[]
                        ELSE string_split_regex(trim(lower(text)), '\\s+')
                   END AS t
            FROM documents
        ), grams AS (
            SELECT doc_id, u.pos AS pos, sha256(u.g) AS gh
            FROM (SELECT doc_id,
                       unnest([{'pos': i - 1,
                                'g': array_to_string(t[i:i+7], ' ')}
                               FOR i IN range(1, len(t) - 8 + 2)]) AS u
                  FROM toks WHERE len(t) >= 8)
        ), dup AS (
            SELECT doc_id, pos FROM (
                SELECT doc_id, pos,
                       ROW_NUMBER() OVER (PARTITION BY gh
                                          ORDER BY doc_id, pos) AS rn
                FROM grams) WHERE rn > 1
        ), spans AS (
            SELECT doc_id, MIN(pos) AS s, MAX(pos) + 8 AS e
            FROM (SELECT doc_id, pos,
                       SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS g
                  FROM (SELECT doc_id, pos,
                       CASE WHEN MAX(pos + 8) OVER (PARTITION BY doc_id
                                 ORDER BY pos ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND 1 PRECEDING) IS NULL
                              OR pos > MAX(pos + 8) OVER (PARTITION BY doc_id
                                 ORDER BY pos ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND 1 PRECEDING)
                            THEN 1 ELSE 0 END AS new_span
                  FROM dup))
            GROUP BY doc_id, g
        ), tok_idx AS (
            SELECT doc_id, u.i AS i, u.tok AS tok
            FROM (SELECT doc_id,
                       unnest([{'i': i - 1, 'tok': t[i]}
                               FOR i IN range(1, len(t) + 1)]) AS u
                  FROM toks)
        ), kept AS (
            SELECT ti.doc_id, ti.i, ti.tok
            FROM tok_idx ti
            WHERE NOT EXISTS (SELECT 1 FROM spans s
                              WHERE s.doc_id = ti.doc_id
                                AND s.s <= ti.i AND ti.i < s.e)
        )
        SELECT d.doc_id,
               coalesce(k.ct, '') AS clean_text,
               CAST(coalesce(k.n, 0) AS INT) AS n_tokens_kept,
               CAST(t_all.n - coalesce(k.n, 0) AS INT) AS n_tokens_removed
        FROM documents d
        LEFT JOIN (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS ct,
                          COUNT(*) AS n
                   FROM kept GROUP BY doc_id) k USING (doc_id)
        JOIN (SELECT doc_id, len(t) AS n FROM toks) t_all USING (doc_id)
    """,
    # KMV overlap: replay the 60-bit md5 hash, the two k=64 sketches,
    # the union sketch, and the Beyer et al. intersection count —
    # integers plus one double division, bit-identical to Spark.
    "sketch_kmv_overlap": """
        WITH ha AS (SELECT DISTINCT CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
                    FROM documents WHERE doc_id % 3 <> 0 AND text IS NOT NULL),
             hb AS (SELECT DISTINCT CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
                    FROM documents WHERE doc_id % 3 <> 1 AND text IS NOT NULL),
             ska AS (SELECT h FROM ha ORDER BY h LIMIT 64),
             skb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
             su AS (SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb) u
                    ORDER BY h LIMIT 64),
             hits AS (SELECT COUNT(*) AS c FROM su
                      WHERE h IN (SELECT h FROM ska)
                        AND h IN (SELECT h FROM skb)),
             uk AS (SELECT COUNT(*) AS c FROM su)
        SELECT CAST(hits.c AS INT) AS overlap_hits,
               CAST(uk.c AS INT) AS union_k,
               CAST(hits.c AS DOUBLE) / CAST(uk.c AS DOUBLE) AS jaccard_est
        FROM hits, uk
    """,
    # KMV distinct estimate: (k-1)*H as an exact double literal product
    # (63 has 6 mantissa bits, 2^60 is a power of two -> the product is
    # exactly representable, matching Spark's folded Python float);
    # int64 -> double casts are correctly rounded on both engines.
    "sketch_kmv_distinct": """
        WITH h AS (SELECT DISTINCT lang,
                          CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
                   FROM documents WHERE text IS NOT NULL),
             rk AS (SELECT lang, h,
                           row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
                    FROM h),
             sk AS (SELECT lang, COUNT(*) AS sz,
                           MAX(CASE WHEN rn = 64 THEN h END) AS hk
                    FROM rk WHERE rn <= 64 GROUP BY lang)
        SELECT lang,
               CASE WHEN sz >= 64
                    THEN (63.0 * 1152921504606846976.0) / CAST(hk AS DOUBLE)
                    ELSE CAST(sz AS DOUBLE) END AS n_distinct_est
        FROM sk
    """,
    # PPS systematic sampling: single-window replay of the distributed
    # two-level prefix sum (same (md5, id) line order), HUGEINT-safe
    # cumulative sums with `//` floor division, CAST to BIGINT at the
    # emit boundary (the r3 HUGEINT lesson).
    "sample_pps": """
        WITH w AS (
            SELECT doc_id,
                   CAST(CASE WHEN trim(text) = '' THEN 0
                             ELSE len(string_split_regex(trim(text), '\\s+'))
                        END AS BIGINT) AS wt,
                   md5('pps' || CAST(doc_id AS VARCHAR)) AS hx
            FROM documents
            WHERE text IS NOT NULL
        ),
        wp AS (SELECT * FROM w WHERE wt > 0),
        c AS (SELECT doc_id, wt,
                     SUM(wt) OVER (ORDER BY hx, doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cum,
                     SUM(wt) OVER () AS tot
              FROM wp)
        SELECT doc_id,
               wt AS weight,
               CAST((cum * 100) // tot - ((cum - wt) * 100) // tot AS BIGINT) AS mult
        FROM c
        WHERE (cum * 100) // tot - ((cum - wt) * 100) // tot >= 1
    """,
}


def _bm25_oracle_sql(terms: list[str], k1: float = 1.2, b: float = 0.75) -> str:
    """Mirror of retrieval.bm25_scores: identical expression tree, with
    every folded Python float (k1+1.0, 1.0-b) emitted via repr() so the
    DuckDB literal parses to the same IEEE double Spark computed."""
    terms = sorted(set(terms))
    terms = [t.replace("'", "''") for t in terms]
    stats_cols = ", ".join(
        "CAST(SUM(CASE WHEN list_contains(t, '%s') THEN 1 ELSE 0 END) "
        "AS DOUBLE) AS df_%d" % (t, i)
        for i, t in enumerate(terms)
    )
    parts = []
    for i, t in enumerate(terms):
        idf = f"((n - df_{i} + 0.5) / (df_{i} + 0.5))"
        tf = f"CAST(len(list_filter(t, x -> x = '{t}')) AS DOUBLE)"
        denom = (
            f"({tf} + {k1!r} * ({(1.0 - b)!r} + "
            f"{b!r} * CAST(len(t) AS DOUBLE) / (total_dl / n)))"
        )
        parts.append(f"({idf} * (({tf} * {(k1 + 1.0)!r}) / {denom}))")
    score = parts[0]
    for p in parts[1:]:
        score = f"({score} + {p})"
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   CASE WHEN text IS NULL OR trim(lower(text)) = '' THEN []::VARCHAR[]
                        ELSE string_split_regex(trim(lower(text)), '\\s+')
                   END AS t
            FROM documents
        ), stats AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(len(t)) AS DOUBLE) AS total_dl,
                   {stats_cols}
            FROM toks
        )
        SELECT doc_id, {score} AS score, CAST(len(t) AS INT) AS dl
        FROM toks, stats
        ORDER BY score DESC, doc_id
        LIMIT 20
    """


def oracle_sql() -> dict[str, str]:
    out = dict(ORACLES)
    out["text_lang"] = _lang_pred_sql()
    out["ann_lsh_portable"] = _ann_lsh_portable_sql()
    out["ann_filtered_banded"] = _ann_lsh_portable_sql(filter_col="label")
    out["sketch_quantile_grouped"] = quant_ops.quantile_grouped_oracle_sql(
        "SELECT lang, text FROM documents",
        "CASE WHEN trim(text) = '' THEN 0 "
        f"ELSE CAST({_WS_TOKENS} AS BIGINT) END",
        "lang",
        "lang",
        8,
    )
    out["sketch_quantile_mergeable"] = quant_ops.quantile_oracle_sql(
        "SELECT l_extendedprice, l_orderkey FROM lineitem",
        "floor(l_extendedprice * 128.0)",
        "l_orderkey % 4",
        4,
        32,
    )
    out["text_bm25"] = _bm25_oracle_sql(_BM25_TERMS)
    # text_quality mirrors quality_features exactly (per-row IEEE math)
    d2 = "regexp_replace(concat(' ', trim(lower(text)), ' '), '\\s+', '  ', 'g')"
    stop_terms = " + ".join(
        f"CAST((length({d2}) - length(replace({d2}, ' {w} ', ''))) / {len(w) + 2} AS INT)"
        for w in LANG_MARKERS["en"]
    )
    out["text_quality"] = f"""
        SELECT doc_id,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CASE WHEN n_chars = 0 THEN 0.0
                    ELSE CAST(n_punct AS DOUBLE) / n_chars END AS punct_ratio,
               CASE WHEN n_tokens = 0 THEN 0.0
                    ELSE CAST(n_stop AS DOUBLE) / n_tokens END AS stopword_ratio,
               CASE WHEN n_tokens = 0 THEN 0.0
                    ELSE CAST(n_chars_nows AS DOUBLE) / n_tokens END AS mean_token_len
        FROM (
            SELECT doc_id,
                   LENGTH(text) AS n_chars,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
                   LENGTH(text) - LENGTH(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
                   LENGTH(regexp_replace(text, '\\s+', '', 'g')) AS n_chars_nows,
                   {stop_terms} AS n_stop
            FROM documents
        )
    """
    return out
