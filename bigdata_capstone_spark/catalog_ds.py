"""Decision-support catalog extension: scalar subqueries, correlated
predicates, HAVING over aggregates, NOT-IN anti-joins, conditional
aggregation, and multi-hop star joins (classic warehouse Q6/Q7/Q11/Q14/
Q15/Q16/Q17/Q18/Q22 shapes adapted to the driver schema).

The reference exercises plain filter/join/aggregate chains
(splitting_data.py:16-21, popularity_model.py:28-42 — SURVEY §2.2-2.4);
this module generalizes the same primitives into the composite shapes any
user of a warehouse engine expects: a global-aggregate scalar feeding a
per-group predicate, per-key averages joined back as correlated filters,
and dimension-exclusion via anti-join. Every query here is
SQL-expressible and carries a DuckDB oracle.

Scale notes (100 TB posture) are on each builder; the common rules:
- dimension sides (part, supplier, customer, nation) get ``F.broadcast``;
  fact⋈fact joins shuffle on their natural key and rely on AQE for skew;
- one-row scalar aggregates are joined via ``crossJoin(broadcast(...))``
  — never ``.collect()`` into the driver plan;
- money sums go through DECIMAL (order-independent) before double, so
  hashes are partition-count-invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_capstone_spark.catalog import ORACLE_SQL, register
from bigdata_capstone_spark.functions.portable import (
    exact_sum,
    md5_long,
    md5_long_sql,
)
from bigdata_capstone_spark.operators import relational as rel
from bigdata_capstone_spark.session import ensure_utc
from bigdata_capstone_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# Q6 shape: tight scan-filter-aggregate. The whole query is one parquet
# scan with every predicate pushed down and a two-column projection — at
# 100 TB this is I/O-bound and embarrassingly parallel (no shuffle at all
# before the single-row final aggregate).
# --------------------------------------------------------------------------

@register(
    "discounted_revenue",
    oracle="""
    SELECT sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))::DOUBLE
             AS revenue_effect,
           count(*)::BIGINT AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.04 AND 0.08
      AND l_quantity < 24
    """,
)
def discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: predicate-only scan aggregate of discounted revenue."""
    ensure_utc(spark)
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.04, 0.08)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            exact_sum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias(
                "revenue_effect"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# --------------------------------------------------------------------------
# Q14 shape: conditional aggregation over a fact⋈dimension join — the
# promo share of revenue in a shipping window. part is broadcast (its
# 2-column projection stays small at any SF relative to lineitem).
# --------------------------------------------------------------------------

@register(
    "promo_revenue_share",
    oracle="""
    SELECT round(
             100.0 * sum(CAST(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END AS DECIMAL(18,4)))::DOUBLE
             / sum(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(18,4)))::DOUBLE,
             6) AS promo_revenue_pct,
           count(*)::BIGINT AS n_rows
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      AND l_shipdate <  TIMESTAMP '1996-07-01'
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate share of promo-part revenue."""
    ensure_utc(spark)
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    ).join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0))
    return joined.agg(
        F.round(100.0 * exact_sum(promo, 4) / exact_sum(disc_price, 4), 6).alias(
            "promo_revenue_pct"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --------------------------------------------------------------------------
# Q15 shape: per-supplier revenue in a quarter, then a scalar-max subquery
# selects the top supplier(s) — equality against the max keeps ties, the
# classic "create view revenue…" formulation. The one-row max is joined
# by broadcast cross-join, never collected.
# --------------------------------------------------------------------------

@register(
    "top_supplier_by_revenue",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             sum(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(18,4)))::DOUBLE AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def top_supplier_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) matching the scalar max of per-supplier revenue."""
    ensure_utc(spark)
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "total_revenue"
            )
        )
    )
    max_rev = rev.agg(F.max("total_revenue").alias("_max_rev"))
    return (
        rev.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("_max_rev"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --------------------------------------------------------------------------
# Q11 shape: per-part value vs a global-total scalar — HAVING against a
# fraction of the whole. Both aggregates come from ONE scan lineage; the
# global total is a one-row broadcast. value_share is a ratio of two
# deterministic decimal-sums, rounded for cross-engine float safety.
# --------------------------------------------------------------------------

@register(
    "important_parts_by_value",
    oracle="""
    WITH pv AS (
      SELECT l_partkey,
             sum(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE AS part_value
      FROM lineitem GROUP BY l_partkey
    ), tot AS (
      SELECT sum(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE AS total_value
      FROM lineitem
    )
    SELECT l_partkey AS partkey, part_value,
           round(part_value / total_value, 9) AS value_share
    FROM pv, tot
    WHERE part_value > 0.0007 * total_value
    """,
)
def important_parts_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose inventory value exceeds a global-share scalar threshold."""
    ensure_utc(spark)
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    pv = li.groupBy("l_partkey").agg(
        exact_sum(F.col("l_extendedprice"), 2).alias("part_value")
    )
    tot = li.agg(exact_sum(F.col("l_extendedprice"), 2).alias("total_value"))
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("part_value") > 0.0007 * F.col("total_value"))
        .select(
            F.col("l_partkey").alias("partkey"),
            "part_value",
            F.round(F.col("part_value") / F.col("total_value"), 9).alias(
                "value_share"
            ),
        )
    )


# --------------------------------------------------------------------------
# Q17 shape: correlated per-key average — lineitems whose quantity is
# below half their part's own average quantity, for one brand. The
# correlated subquery decorrelates to a per-part aggregate joined back;
# part and the 1-row-per-part averages both broadcast.
# --------------------------------------------------------------------------

@register(
    "small_quantity_part_revenue",
    oracle="""
    WITH pa AS (
      SELECT l_partkey,
             sum(CAST(l_quantity AS DECIMAL(18,2)))::DOUBLE / count(*) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT sum(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE / 7.0
             AS avg_yearly_revenue,
           count(*)::BIGINT AS n_rows
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pa USING (l_partkey)
    WHERE p_brand = 'Brand#4' AND l_quantity < 0.5 * avg_qty
    """,
)
def small_quantity_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue of below-avg-quantity orders via correlated per-part average."""
    ensure_utc(spark)
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pa = li.groupBy("l_partkey").agg(
        (
            exact_sum(F.col("l_quantity"), 2) / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    return (
        li.join(
            F.broadcast(part.filter(F.col("p_brand") == "Brand#4")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(F.broadcast(pa), on="l_partkey")
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            (exact_sum(F.col("l_extendedprice"), 2) / 7.0).alias(
                "avg_yearly_revenue"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# --------------------------------------------------------------------------
# Q18 shape: HAVING on a grouped fact, joined back up the star. The
# lineitem groupBy and the orders join both shuffle on l_orderkey /
# o_orderkey — the same key, so AQE can reuse the exchange; customer
# broadcasts. Top-100 with a unique tie-break.
# --------------------------------------------------------------------------

@register(
    "large_volume_customers",
    oracle="""
    WITH big AS (
      SELECT l_orderkey,
             sum(CAST(l_quantity AS DECIMAL(18,2)))::DOUBLE AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(18,2)))::DOUBLE > 150.0
    )
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING on grouped fact quantity with star join-back to customers."""
    ensure_utc(spark)
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(exact_sum(F.col("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 150.0)
    )
    joined = (
        big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
    )
    return rel.top_k(
        joined, [F.desc("o_totalprice"), F.col("o_orderkey")], 100
    )


# --------------------------------------------------------------------------
# Q22 shape: global-average scalar + left-join order counts + HAVING-style
# filter, grouped by segment. The scalar threshold is a one-row broadcast;
# order counts shuffle on o_custkey only (two-column rows).
# --------------------------------------------------------------------------

@register(
    "rich_low_activity_customers",
    oracle="""
    WITH thresh AS (
      SELECT sum(CAST(c_acctbal AS DECIMAL(18,2)))::DOUBLE / count(*) AS avg_bal
      FROM customer WHERE c_acctbal > 0
    ), cnt AS (
      SELECT o_custkey, count(*)::BIGINT AS n_orders FROM orders GROUP BY o_custkey
    )
    SELECT c_mktsegment,
           count(*)::BIGINT AS n_customers,
           sum(CAST(c_acctbal AS DECIMAL(18,2)))::DOUBLE AS total_acctbal
    FROM customer LEFT JOIN cnt ON o_custkey = c_custkey, thresh
    WHERE c_acctbal > avg_bal AND coalesce(n_orders, 0) < 6
    GROUP BY c_mktsegment
    """,
)
def rich_low_activity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no orders (anti-join + scalar avg)."""
    ensure_utc(spark)
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    thresh = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            exact_sum(F.col("c_acctbal"), 2) / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    cnt = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        cust.join(cnt, F.col("o_custkey") == F.col("c_custkey"), "left")
        .crossJoin(F.broadcast(thresh))
        .filter(
            (F.col("c_acctbal") > F.col("avg_bal"))
            & (F.coalesce(F.col("n_orders"), F.lit(0)) < 6)
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            exact_sum(F.col("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


# --------------------------------------------------------------------------
# Thin-supply parts: count(DISTINCT) per group + HAVING — parts carried by
# few distinct suppliers. The distinct-agg shuffles (partkey, suppkey)
# pairs with map-side partial dedup; part broadcasts onto the survivors.
# --------------------------------------------------------------------------

@register(
    "thin_supply_parts",
    oracle="""
    WITH s AS (
      SELECT l_partkey,
             count(DISTINCT l_suppkey)::BIGINT AS n_suppliers,
             count(*)::BIGINT AS n_lineitems
      FROM lineitem GROUP BY l_partkey
      HAVING count(DISTINCT l_suppkey) <= 18
    )
    SELECT p_partkey, p_name, p_brand, n_suppliers, n_lineitems
    FROM part JOIN s ON l_partkey = p_partkey
    """,
)
def thin_supply_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts supplied by fewer than 3 suppliers (grouped distinct-count HAVING filter)."""
    ensure_utc(spark)
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    s = (
        li.groupBy("l_partkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .filter(F.col("n_suppliers") <= 18)
    )
    return (
        F.broadcast(part)
        .join(s, F.col("l_partkey") == F.col("p_partkey"))
        .select("p_partkey", "p_name", "p_brand", "n_suppliers", "n_lineitems")
    )


# --------------------------------------------------------------------------
# Q16 shape: supplier diversity per (brand, type) with a NOT-IN exclusion
# — the exclusion list (suppliers in deficit) is a broadcast anti-join,
# the canonical way NOT IN decorrelates when nulls are impossible.
# --------------------------------------------------------------------------

@register(
    "brand_type_supplier_counts",
    oracle="""
    SELECT p_brand, p_type,
           count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt,
           count(*)::BIGINT AS n_lineitems
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type
    """,
)
def brand_type_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type, size) with NOT-IN exclusion."""
    ensure_utc(spark)
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type")
    bad_supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    kept = li.join(F.broadcast(bad_supp), on="l_suppkey", how="left_anti")
    return (
        kept.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(
            F.countDistinct("l_suppkey").alias("supplier_cnt"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# --------------------------------------------------------------------------
# Q7 shape: cross-border trade flows — a five-way star walk
# (lineitem→orders→customer→nation, lineitem→supplier→nation) grouped by
# (supplier nation, customer nation, ship year). Only the lineitem⋈orders
# hop shuffles; customer/supplier/nation all broadcast. This is the
# widest join tree in the catalog and the canonical "does Catalyst order
# the star correctly" probe for plan audits.
# --------------------------------------------------------------------------

@register(
    "nation_trade_flows",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           sum(CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(18,4)))::DOUBLE AS revenue,
           count(*)::BIGINT AS n_items
    FROM lineitem
    JOIN orders    ON o_orderkey = l_orderkey
    JOIN customer  ON c_custkey = o_custkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    JOIN supplier  ON s_suppkey = l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    WHERE n1.n_name <> n2.n_name
    GROUP BY 1, 2, 3
    """,
)
def nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: five-way star walk of cross-border supplier->customer revenue flows."""
    ensure_utc(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("c_nationkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("s_nationkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Semi-structured: the events.props column is a JSON document. Schema'd
# ``from_json`` keeps the parse inside whole-stage codegen (one pass, no
# Python); the extracted field then behaves like any other column —
# filters on it push down to the scan only as far as the parse allows,
# which is why at 100 TB frequently-queried JSON fields get materialized
# into real columns at ingest (this query is that materialization's shape).
# --------------------------------------------------------------------------

@register(
    "event_props_json_stats",
    oracle="""
    SELECT event_type,
           count(*)::BIGINT AS n_events,
           sum(CAST(json_extract(props, '$.k') AS INTEGER))::BIGINT AS sum_k,
           min(CAST(json_extract(props, '$.k') AS INTEGER)) AS min_k,
           max(CAST(json_extract(props, '$.k') AS INTEGER)) AS max_k,
           count(CAST(json_extract(props, '$.k') AS INTEGER))::BIGINT
             AS n_with_k
    FROM events
    GROUP BY event_type
    """,
)
def event_props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: from_json over the props column, grouped stats per parsed field."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events").select("event_type", "props")
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        ev.select("event_type", k.alias("k_val"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k_val").alias("sum_k"),
            F.min("k_val").alias("min_k"),
            F.max("k_val").alias("max_k"),
            F.count("k_val").alias("n_with_k"),
        )
    )


# --------------------------------------------------------------------------
# Linear-regression aggregates: per-user trend of event values over time
# (regr_slope/intercept/r2 — the OLS family both engines implement as
# single-pass mergeable moment sketches, so the grouping shape is the same
# one-shuffle hash-agg as any avg). Time is converted to whole days since
# a fixed anchor in BOTH engines so the regressor is identical and the
# rounded coefficients are engine-stable.
# --------------------------------------------------------------------------

@register(
    "user_value_trend",
    oracle="""
    SELECT user_id,
           count(*)::BIGINT AS n_events,
           round(regr_slope(value, (epoch(date_trunc('second', ts)) - 820454400)
                                    / 86400.0), 6) AS value_slope,
           round(regr_intercept(value, (epoch(date_trunc('second', ts)) - 820454400)
                                        / 86400.0), 6) AS value_intercept,
           round(regr_r2(value, (epoch(date_trunc('second', ts)) - 820454400)
                                 / 86400.0), 6) AS value_r2
    FROM events
    GROUP BY user_id
    HAVING count(*) >= 20
    """,
)
def user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression aggregates per user: regr_slope/intercept/r2 of value against event time."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    x = (F.unix_timestamp("ts") - F.lit(820454400)) / 86400.0
    ev = ev.select("user_id", F.col("value"), x.alias("x_days"))
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.expr("regr_slope(value, x_days)"), 6).alias("value_slope"),
            F.round(F.expr("regr_intercept(value, x_days)"), 6).alias(
                "value_intercept"
            ),
            F.round(F.expr("regr_r2(value, x_days)"), 6).alias("value_r2"),
        )
        .filter(F.col("n_events") >= 20)
    )


# --------------------------------------------------------------------------
# Rolling-hash document fingerprint (north star: "document fingerprinting
# (rolling hash)") — a Rabin-Karp-style polynomial fold over the character
# stream, h = fold(h*31 + code) mod p. Pure JVM ``aggregate`` over the
# split char array — no shuffle, pipelines into the scan; the k-min-hash
# fingerprint in textops is the order-insensitive complement.
# --------------------------------------------------------------------------

@register(
    "doc_rolling_hash",
    oracle="""
    SELECT doc_id,
           list_reduce(
             list_prepend(0::BIGINT, list_transform(split(text, ''),
                                                    c -> ascii(c)::BIGINT)),
             (acc, x) -> (acc * 31 + x) % 2147483647
           )::BIGINT AS rolling_hash,
           length(text)::BIGINT AS n_chars_exact
    FROM documents
    """,
)
def doc_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp rolling-hash document fingerprint (base-256 polynomial fold, md5-free)."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    chars = F.split(F.col("text"), "")
    h = F.aggregate(
        F.transform(chars, lambda c: F.ascii(c).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c) % 2147483647,
    )
    return docs.select(
        "doc_id",
        h.alias("rolling_hash"),
        F.length("text").cast("long").alias("n_chars_exact"),
    )


# --------------------------------------------------------------------------
# EWMA — a sequential recurrence SQL windows can't express, folded
# JVM-side over a per-key sorted array (see operators.temporal.ewma_by_key
# for the scale contract and the applyInPandas twin).
# --------------------------------------------------------------------------

@register(
    "user_value_ewma",
    oracle="""
    SELECT user_id,
           count(*)::BIGINT AS n_points,
           round(list_reduce(
             list_prepend(CAST(NULL AS DOUBLE), list(value ORDER BY ts, value)),
             (acc, x) -> CASE WHEN acc IS NULL THEN x ELSE 0.3*x + 0.7*acc END
           ), 6) AS ewma
    FROM events
    GROUP BY user_id
    """,
)
def user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average of event values (sequential recurrence as a JVM window fold)."""
    from bigdata_capstone_spark.operators.temporal import ewma_by_key

    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    return ewma_by_key(ev, "user_id", "ts", "value", alpha=0.3)


# --------------------------------------------------------------------------
# UNPIVOT (wide → long via ``stack``): the inverse of the fixed-list pivot.
# stack is a generator expression evaluated row-local — no shuffle beyond
# the upstream pivot's own aggregation; the wide row fans out to exactly
# n_types rows regardless of data size.
# --------------------------------------------------------------------------

@register(
    "event_type_user_unpivot",
    oracle="""
    WITH wide AS (
      SELECT user_id,
             count(*) FILTER (event_type = 'click')::BIGINT    AS n_click,
             count(*) FILTER (event_type = 'error')::BIGINT    AS n_error,
             count(*) FILTER (event_type = 'purchase')::BIGINT AS n_purchase,
             count(*) FILTER (event_type = 'signup')::BIGINT   AS n_signup,
             count(*) FILTER (event_type = 'view')::BIGINT     AS n_view
      FROM events GROUP BY user_id
    )
    SELECT user_id, event_type, n FROM (
      SELECT user_id, 'click' AS event_type, n_click AS n FROM wide
      UNION ALL SELECT user_id, 'error', n_error FROM wide
      UNION ALL SELECT user_id, 'purchase', n_purchase FROM wide
      UNION ALL SELECT user_id, 'signup', n_signup FROM wide
      UNION ALL SELECT user_id, 'view', n_view FROM wide
    ) WHERE n > 0
    """,
)
def event_type_user_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT via stack: per-user per-type counts back to long form (inverse of the fixed-list pivot)."""
    from bigdata_capstone_spark.catalog import QUERIES

    ensure_utc(spark)
    wide = QUERIES["event_type_user_pivot"](spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    stack_expr = "stack({}, {}) AS (event_type, n)".format(
        len(types), ", ".join(f"'{t}', n_{t}" for t in types)
    )
    return wide.select("user_id", F.expr(stack_expr)).filter(F.col("n") > 0)


# --------------------------------------------------------------------------
# End-to-end pretraining-data curation: language-ID → quality filter →
# exact dedup → minhash near-dup removal, composed from the already-
# oracle-checked building blocks (each stage's SQL fragment is reused
# verbatim from its standalone query, so the composite oracle can't drift
# from the parts). This is the composition a 100 TB document pipeline
# actually runs: every stage is one narrow map or one short-key shuffle,
# and the near-dup drop set is bucket-local LSH, never all-pairs.
# --------------------------------------------------------------------------

def _curation_oracle() -> str:
    return f"""
    WITH keep_exact AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    near AS (
      SELECT DISTINCT idB AS doc_id
      FROM ({ORACLE_SQL["dedup_minhash_lsh_pairs"]})
      WHERE jaccard_r >= 0.6
    ),
    lang AS ({ORACLE_SQL["doc_lang_id"]}),
    qual AS ({ORACLE_SQL["doc_quality"]})
    SELECT d.doc_id, d.source, lang.lang_guess, qual.quality
    FROM documents d
    JOIN keep_exact ON keep_exact.doc_id = d.doc_id
    LEFT JOIN near ON near.doc_id = d.doc_id
    JOIN lang ON lang.doc_id = d.doc_id
    JOIN qual ON qual.doc_id = d.doc_id
    WHERE near.doc_id IS NULL AND qual.quality >= 0.42
      AND lang.lang_guess <> 'und'
    """


@register("docs_curation_pipeline", oracle=_curation_oracle())
def docs_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation: language-ID -> quality filter -> exact dedup -> near-dup drop, composed from checked fragments."""
    from bigdata_capstone_spark.operators.dedup import (
        exact_dedup,
        minhash_near_dup_pairs,
    )
    from bigdata_capstone_spark.operators.textops import (
        lang_id_heuristic,
        quality_score,
    )

    ensure_utc(spark)
    # cached once for the four stages (exact dedup, near-dup, lang-ID,
    # quality) — uncached, each composed fragment re-scans the corpus
    docs = load_table(spark, sf_dir, "documents").cache()
    keep_exact = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    pairs = minhash_near_dup_pairs(
        docs, n_perm=8, bands=4, min_jaccard=0.35, max_bucket_size=100
    )
    drop_near = (
        pairs.filter(F.round("jaccard", 6) >= 0.6)
        .select(F.col("idB").alias("doc_id"))
        .distinct()
    )
    lang = lang_id_heuristic(docs)
    qual = quality_score(docs)
    return (
        docs.select("doc_id", "source")
        .join(keep_exact, on="doc_id", how="left_semi")
        .join(drop_near, on="doc_id", how="left_anti")
        .join(lang, on="doc_id")
        .join(qual, on="doc_id")
        .filter((F.col("quality") >= 0.42) & (F.col("lang_guess") != "und"))
        .select("doc_id", "source", "lang_guess", "quality")
    )


# --------------------------------------------------------------------------
# Time-series gap filling: zero-filled hourly grid + forward-filled carry
# (`last IGNORE NULLS` over an ordered window). The grid is |types|·|hours|
# — bounded by the time span, not the event volume — and the fill is one
# window pass per type. The canonical missing-bucket repair every
# monitoring/feature pipeline needs; Spark and DuckDB agree on IGNORE
# NULLS semantics.
# --------------------------------------------------------------------------

@register(
    "events_hourly_gapfill",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             count(*)::BIGINT AS n_events,
             sum(CAST(value AS DECIMAL(18,2)))::DOUBLE AS sum_value
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT min(h) AS h0, max(h) AS h1 FROM hourly),
    grid AS (
      SELECT t.event_type, g.h
      FROM (SELECT DISTINCT event_type FROM hourly) t
      CROSS JOIN (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
                  FROM span) g
    ),
    filled AS (
      SELECT grid.event_type, grid.h AS window_start,
             coalesce(hourly.n_events, 0)::BIGINT AS n_events,
             hourly.sum_value AS raw_sum
      FROM grid LEFT JOIN hourly
        ON hourly.event_type = grid.event_type AND hourly.h = grid.h
    )
    SELECT event_type, window_start, n_events,
           round(coalesce(last_value(raw_sum IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY window_start
             ROWS UNBOUNDED PRECEDING), 0.0), 6) AS ffill_sum_value
    FROM filled
    """,
)
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: zero-filled hourly grid plus ignore-nulls forward carry of the last observed value."""
    from pyspark.sql.window import Window

    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "sum_value"
            ),
        )
    ).cache()  # |types|x|hours| rows; span, grid, and carry all reuse it
    span = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    hours = span.select(
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.expr("interval 1 hour"))
        ).alias("window_start")
    )
    types = hourly.select("event_type").distinct()
    grid = F.broadcast(types).crossJoin(hours)
    filled = grid.join(
        hourly.withColumnRenamed("h", "window_start"),
        on=["event_type", "window_start"],
        how="left",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("window_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "event_type",
        "window_start",
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        F.round(
            F.coalesce(F.last("sum_value", ignorenulls=True).over(w), F.lit(0.0)),
            6,
        ).alias("ffill_sum_value"),
    )


# --------------------------------------------------------------------------
# Event attribution: view→purchase pairs within 30 minutes per user — the
# batch twin of streaming.joins.followed_within (same expression runs as a
# watermarked stream-stream join; SCALE.md). Bucketized variants
# (error_events_near_purchases) bound candidates at extreme volume; this
# direct range theta-join is the reference semantics.
# --------------------------------------------------------------------------

@register(
    "view_purchase_attribution",
    oracle="""
    SELECT a.user_id AS key, a.event_id AS a_id, b.event_id AS b_id,
           a.ts AS a_ts, b.ts AS b_ts
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 30 MINUTE
    WHERE a.event_type = 'view' AND b.event_type = 'purchase'
    """,
)
def view_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream-shaped attribution: views joined to later purchases within a time bound (batch twin)."""
    from bigdata_capstone_spark.streaming.joins import followed_within

    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view")
    purchases = ev.filter(F.col("event_type") == "purchase")
    return followed_within(views, purchases, gap="30 minutes")


# --------------------------------------------------------------------------
# Deterministic argmax WITHOUT a window: max over a (value, tiebreak-key)
# struct — one hash aggregate with map-side partial combines, versus the
# window top-1's full shuffle+sort per partition key. At extreme group
# counts this is the plan you want for per-group top-1 (the window form,
# top_lineitems_per_order_rank, stays the general top-k path). Both
# engines order structs lexicographically, and the embedded key makes
# ties deterministic.
# --------------------------------------------------------------------------

@register(
    "top_part_per_order_argmax",
    oracle="""
    WITH m AS (
      SELECT l_orderkey,
             max({'price': l_extendedprice, 'pk': l_partkey}) AS s,
             count(*)::BIGINT AS n_items
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_orderkey, s.price AS top_price, s.pk AS top_partkey, n_items
    FROM m
    """,
)
def top_part_per_order_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-free deterministic argmax: max_by struct per order (map-side combinable)."""
    ensure_utc(spark)
    li = load_table(spark, sf_dir, "lineitem")
    m = li.groupBy("l_orderkey").agg(
        F.max(
            F.struct(
                F.col("l_extendedprice").alias("price"),
                F.col("l_partkey").alias("pk"),
            )
        ).alias("s"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return m.select(
        "l_orderkey",
        F.col("s.price").alias("top_price"),
        F.col("s.pk").alias("top_partkey"),
        "n_items",
    )


# --------------------------------------------------------------------------
# Tokenize → chunk into overlapping training windows (size 64, stride 32)
# — the step between curation and training-example emission. One explode,
# no shuffle; chunk md5 ids let chunk-level exact dedup reuse the
# document machinery unchanged.
# --------------------------------------------------------------------------

@register(
    "doc_token_chunks",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS t
      FROM documents
    ),
    st AS (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(len(t), 1), 32)) AS s
      FROM toks
    ),
    ch AS (
      SELECT doc_id, ((s - 1) // 32)::INT AS chunk_idx,
             array_to_string(t[s:s+63], ' ') AS chunk_text
      FROM st
    )
    SELECT doc_id, chunk_idx,
           len(string_split(chunk_text, ' '))::BIGINT AS n_chunk_tokens,
           md5(chunk_text) AS chunk_hash
    FROM ch WHERE chunk_text <> ''
    """,
)
def doc_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize->chunk: overlapping token windows per document with per-chunk hashes (training-example prep)."""
    from bigdata_capstone_spark.operators.textops import chunk_tokens

    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    return chunk_tokens(docs, chunk_size=64, stride=32)


# --------------------------------------------------------------------------
# Q4 shape: EXISTS → left-semi join. The semi join never materializes
# lineitem payloads and stops probing a key after the first match; the
# date comparison is col-vs-col so it rides the join, not the scan.
# --------------------------------------------------------------------------

@register(
    "late_shipment_priority_counts",
    oracle="""
    SELECT o_orderpriority, count(*)::BIGINT AS n_orders
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey
        AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    """,
)
def late_shipment_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority counts where a late-shipment line EXISTS."""
    ensure_utc(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("interval 60 days")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# --------------------------------------------------------------------------
# Q12 shape: two-bucket conditional counts after a fact⋈fact join —
# high-priority vs other orders per returnflag. CASE aggregation keeps it
# one pass; the join shuffles on the shared orderkey.
# --------------------------------------------------------------------------

@register(
    "returnflag_priority_split",
    oracle="""
    SELECT l_returnflag,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS high_priority_count,
           sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS low_priority_count
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    GROUP BY l_returnflag
    """,
)
def returnflag_priority_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: CASE-split priority counts per return flag."""
    ensure_utc(spark)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_priority_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_priority_count"),
        )
    )


# --------------------------------------------------------------------------
# Q13 shape: distribution histogram — how many customers placed k orders,
# INCLUDING k=0 (the left join's null bucket). Two cascaded aggregations:
# per-customer counts, then counts-of-counts; both shuffle short keys.
# --------------------------------------------------------------------------

@register(
    "customer_order_count_histogram",
    oracle="""
    WITH per_cust AS (
      SELECT c_custkey, count(o_orderkey)::BIGINT AS n_orders
      FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      GROUP BY c_custkey
    )
    SELECT n_orders, count(*)::BIGINT AS n_customers
    FROM per_cust
    GROUP BY n_orders
    """,
)
def customer_order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: histogram of customers by order count (left join + double grouping)."""
    ensure_utc(spark)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


# --------------------------------------------------------------------------
# Q19 shape: disjunctive (OR-of-ANDs) predicates across the join — the
# classic test of whether an engine pushes what it can (per-side
# conjuncts common to every branch) and evaluates the residual OR after
# the join. part broadcasts; Catalyst extracts the common p_brand/p_size
# bounds into the scan.
# --------------------------------------------------------------------------

@register(
    "brand_size_quantity_revenue",
    oracle="""
    SELECT count(*)::BIGINT AS n_items,
           sum(CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(18,4)))::DOUBLE AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#4'  AND p_size BETWEEN 1  AND 15
           AND l_quantity BETWEEN 1  AND 20)
       OR (p_brand = 'Brand#19' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 35)
       OR (p_brand = 'Brand#8'  AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 50)
    """,
)
def brand_size_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicate revenue (pushdown-friendly disjunction)."""
    ensure_utc(spark)
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    def branch(brand, s_lo, s_hi, q_lo, q_hi):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(s_lo, s_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )
    cond = (
        branch("Brand#4", 1, 15, 1, 20)
        | branch("Brand#19", 10, 30, 10, 35)
        | branch("Brand#8", 20, 50, 20, 50)
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            ),
        )
    )


# --------------------------------------------------------------------------
# Repetition signals (Gopher/C4-style curation filters): top-token
# dominance and distinct-bigram ratio. The bigram ratio is pure per-row
# JVM array math; the top-token count is one explode + two short-key
# aggregations. Highly repetitive documents (boilerplate, generation
# loops) score low distinct ratios and high dominance.
# --------------------------------------------------------------------------

@register(
    "doc_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS t
      FROM documents
    ),
    tok_counts AS (
      SELECT doc_id, count(*) AS c
      FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
      GROUP BY doc_id, tok
    ),
    top AS (SELECT doc_id, max(c)::BIGINT AS top_c FROM tok_counts GROUP BY doc_id),
    bi AS (
      SELECT doc_id, len(t) AS n,
             list_distinct([array_to_string(t[i:i+1], ' ')
                            for i in range(1, len(t))]) AS dbigrams
      FROM toks WHERE len(t) >= 2
    )
    SELECT bi.doc_id,
           round(top.top_c * 1.0 / bi.n, 6) AS top_token_ratio,
           round(len(bi.dbigrams) * 1.0 / (bi.n - 1), 6) AS distinct_bigram_ratio
    FROM bi JOIN top ON top.doc_id = bi.doc_id
    """,
)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filters: top-token dominance and distinct-bigram ratio per document (Gopher/C4-style)."""
    from bigdata_capstone_spark.operators.dedup import shingles_col, tokenized

    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    base = (
        tokenized(docs, "text", "doc_id", "t")
        .select(
            "doc_id",
            F.size("t").alias("n"),
            F.size(shingles_col("t", 2)).alias("n_distinct_bigrams"),
            F.col("t"),
        )
        .filter(F.col("n") >= 2)
    )
    top = (
        base.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    return base.join(top, on="doc_id").select(
        "doc_id",
        F.round(F.col("top_c") / F.col("n"), 6).alias("top_token_ratio"),
        F.round(F.col("n_distinct_bigrams") / (F.col("n") - 1), 6).alias(
            "distinct_bigram_ratio"
        ),
    )


# --------------------------------------------------------------------------
# Edit-distance near-match within blocking keys: fuzzy string matching
# done the scalable way — never all-pairs; candidates are generated
# inside blocks (same brand), then levenshtein runs JVM-side on the
# block-local pairs only. The blocking key is the recall/cost dial, the
# same pattern as every entity-resolution pipeline.
# --------------------------------------------------------------------------

@register(
    "similar_part_names",
    oracle="""
    SELECT a.p_partkey AS pkA, b.p_partkey AS pkB,
           a.p_name AS nameA, b.p_name AS nameB,
           levenshtein(a.p_name, b.p_name)::INTEGER AS edit_distance
    FROM part a
    JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def similar_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-match within brand blocks: block-local levenshtein <= 2 candidate pairs."""
    ensure_utc(spark)
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    a = part.select(
        F.col("p_brand"),
        F.col("p_partkey").alias("pkA"),
        F.col("p_name").alias("nameA"),
    )
    b = part.select(
        F.col("p_brand"),
        F.col("p_partkey").alias("pkB"),
        F.col("p_name").alias("nameB"),
    )
    return (
        a.join(b, on="p_brand")
        .filter(F.col("pkA") < F.col("pkB"))
        .withColumn("edit_distance", F.levenshtein(F.col("nameA"), F.col("nameB")))
        .filter(F.col("edit_distance") <= 2)
        .select("pkA", "pkB", "nameA", "nameB", "edit_distance")
    )


# --------------------------------------------------------------------------
# Prefix-filtered exact near-dup pairs: IDENTICAL results to the naive
# shingle co-occurrence join (the oracle below is the naive formulation),
# but the candidate join touches only each document's rarest
# ⌊(1-t)·n⌋+1 shingles — the ppjoin-family optimization that keeps exact
# set-similarity joins viable at high thresholds when shingle frequency
# is skewed (boilerplate). Verification still uses full sets.
# --------------------------------------------------------------------------

@register(
    "dedup_ngram_prefix_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                                   for i in range(1, len(t) - 1)])) AS sh
      FROM toks WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS idA, b.doc_id AS idB,
             max(sa.n) AS nA, max(sb.n) AS nB, count(*) AS common
      FROM sh a
      JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      JOIN sizes sa ON sa.doc_id = a.doc_id
      JOIN sizes sb ON sb.doc_id = b.doc_id
      GROUP BY 1, 2
    )
    SELECT idA, idB,
           round(common * 1.0 / (nA + nB - common), 6) AS jaccard_r
    FROM common
    WHERE common * 1.0 / (nA + nB - common) >= 0.5
    """,
)
def dedup_ngram_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact set-similarity join (ppjoin-style): rarest-shingle candidates, full-set verify."""
    from bigdata_capstone_spark.operators.dedup import exploded_shingles
    from bigdata_capstone_spark.operators.similarity import (
        exact_jaccard_pairs_prefix,
    )

    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    sh = exploded_shingles(docs, "text", "doc_id", 3)
    pairs = exact_jaccard_pairs_prefix(
        sh, min_similarity=0.5, min_items=1, user_col="doc_id", item_col="sh"
    )
    return pairs.select(
        F.col("userA").alias("idA"),
        F.col("userB").alias("idB"),
        F.round("similarity", 6).alias("jaccard_r"),
    )


# --------------------------------------------------------------------------
# SimHash near-dup pairs within Hamming radius 3 via pigeonhole banding
# (4 bands of 15 bits: distance ≤ 3 ⇒ at least one band identical).
# Candidates from band equi-joins; popcount verify only on candidates.
# The oracle replays the banding bit-for-bit on the simhash signatures.
# --------------------------------------------------------------------------

@register(
    "dedup_simhash_near_pairs",
    oracle=f"""
    WITH sigs AS ({ORACLE_SQL["dedup_simhash_docs"]}),
    bands AS (
      SELECT doc_id, b, (simhash >> (b * 15)) & 32767 AS key
      FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS b)
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS idA, b.doc_id AS idB
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT c.idA, c.idB,
           bit_count(xor(sa.simhash, sb.simhash))::INTEGER AS hamming
    FROM cands c
    JOIN sigs sa ON sa.doc_id = c.idA
    JOIN sigs sb ON sb.doc_id = c.idB
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
    """,
)
def dedup_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming radius 3: pigeonhole banding + popcount verify."""
    from bigdata_capstone_spark.operators.dedup import simhash_near_dup_pairs

    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(docs, n_bits=60, max_hamming=3)


# --------------------------------------------------------------------------
# Rolling distinct counts: COUNT(DISTINCT) OVER a sliding event-time
# range — Spark has no distinct aggregate over windows, so the engine
# formulation is per-day user SETS flattened+deduped over a 7-day RANGE
# frame. Memory bounds at (distinct users/day × 7) per partition — the
# exact-set path; beyond that the HLL-sketch-per-day variant keeps the
# same frame shape with fixed-size state. DuckDB's native windowed
# DISTINCT checks the workaround.
# --------------------------------------------------------------------------

@register(
    "rolling_weekly_active_users",
    oracle="""
    WITH du AS (
      SELECT DISTINCT event_type, date_trunc('day', ts) AS day, user_id
      FROM events
    ),
    r AS (
      SELECT event_type, day,
             count(DISTINCT user_id) OVER (
               PARTITION BY event_type ORDER BY day
               RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
             )::BIGINT AS weekly_active_users
      FROM du
    )
    SELECT DISTINCT event_type, day, weekly_active_users FROM r
    """,
)
def rolling_weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active-user counts per day (windowed distinct via day-grid range join)."""
    from pyspark.sql.window import Window

    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).alias("day")
        ).agg(F.collect_set("user_id").alias("users"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("day").cast("long"))
        .rangeBetween(-6 * 86400, 0)
    )
    return daily.select(
        "event_type",
        "day",
        F.size(F.array_distinct(F.flatten(F.collect_list("users").over(w))))
        .cast("long")
        .alias("weekly_active_users"),
    )


# --------------------------------------------------------------------------
# Z-score anomaly flags: per-type standardization against the type's own
# mean/stddev (population variant for portability), computed with
# deterministic decimal moments. Two passes over short keys — the
# aggregate is a 5-row broadcast back onto the fact.
# --------------------------------------------------------------------------

@register(
    "event_value_anomalies",
    oracle="""
    WITH stats AS (
      SELECT event_type,
             sum(CAST(value AS DECIMAL(18,2)))::DOUBLE / count(*) AS mu,
             sqrt(
               sum(CAST(value * value AS DECIMAL(24,4)))::DOUBLE / count(*)
               - pow(sum(CAST(value AS DECIMAL(18,2)))::DOUBLE / count(*), 2)
             ) AS sigma
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           round((e.value - s.mu) / s.sigma, 6) AS z_score
    FROM events e JOIN stats s ON s.event_type = e.event_type
    WHERE abs((e.value - s.mu) / s.sigma) > 3.0
    """,
)
def event_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly flags: events beyond 3 sigma of their (user, type) moment estimates."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    n = F.count(F.lit(1))
    mu = exact_sum(F.col("value"), 2) / n
    ex2 = F.sum((F.col("value") * F.col("value")).cast("decimal(24,4)")).cast(
        "double"
    ) / n
    stats = ev.groupBy("event_type").agg(
        mu.alias("mu"), F.sqrt(ex2 - mu * mu).alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), on="event_type")
        .filter(F.abs(z) > 3.0)
        .select("event_id", "event_type", F.round(z, 6).alias("z_score"))
    )


# --------------------------------------------------------------------------
# Pareto / ABC classification: parts ranked by revenue, cumulative share
# thresholds 80%/95% → A/B/C. One aggregate + a DISTRIBUTED prefix sum
# (range-partitioned slices + broadcast slice offsets — see
# relational.partitioned_prefix_sum): no single-partition WindowExec, so
# the ranking scales to a billion-row part dimension. The running sum
# accumulates in DECIMAL (exact, order-independent) so the regrouped
# distributed sum is bit-identical to the oracle's sequential window.
# --------------------------------------------------------------------------

@register(
    "part_revenue_abc",
    oracle="""
    WITH pr AS (
      SELECT l_partkey,
             sum(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(18,4))) AS rev_dec
      FROM lineitem GROUP BY l_partkey
    ), tot AS (
      SELECT sum(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(18,4)))::DOUBLE AS total FROM lineitem
    ), ranked AS (
      SELECT l_partkey, rev_dec::DOUBLE AS revenue,
             (sum(rev_dec) OVER (ORDER BY rev_dec DESC, l_partkey
                                 ROWS UNBOUNDED PRECEDING))::DOUBLE / total
               AS cum_share
      FROM pr, tot
    )
    SELECT l_partkey, revenue, round(cum_share, 9) AS cum_share,
           CASE WHEN cum_share <= 0.80 THEN 'A'
                WHEN cum_share <= 0.95 THEN 'B' ELSE 'C' END AS abc_class
    FROM ranked
    """,
)
def part_revenue_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC classification of parts by cumulative revenue share (A/B/C bands)."""
    ensure_utc(spark)
    li = load_table(spark, sf_dir, "lineitem")
    rev_dec = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    # pr is cached and the grand total derives from it (exact decimal →
    # identical value), so lineitem is scanned ONCE — the oracle keeps
    # computing total from the raw table; decimal addition makes the two
    # formulations bit-equal
    pr = li.groupBy("l_partkey").agg(F.sum(rev_dec).alias("rev_dec")).cache()
    tot = pr.agg(F.sum("rev_dec").cast("double").alias("total"))
    cum = rel.partitioned_prefix_sum(
        pr,
        [F.desc("rev_dec"), F.col("l_partkey")],
        F.col("rev_dec"),
        "cum_dec",
    )
    ranked = cum.crossJoin(F.broadcast(tot)).withColumn(
        "cum_share", F.col("cum_dec").cast("double") / F.col("total")
    )
    return ranked.select(
        "l_partkey",
        F.col("rev_dec").cast("double").alias("revenue"),
        F.round("cum_share", 9).alias("cum_share"),
        F.when(F.col("cum_share") <= 0.80, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


# --------------------------------------------------------------------------
# Cohort retention: users grouped by first-activity week × weeks-since —
# the product-analytics staple. Three short-key aggregations; the cohort
# assignment is a broadcast of |users| first-seen rows onto the fact.
# --------------------------------------------------------------------------

@register(
    "user_cohort_retention",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(floor(date_diff('day', f.cohort_week,
                                  date_trunc('week', e.ts)) / 7.0) AS INTEGER)
               AS weeks_since
      FROM events e JOIN first_seen f ON f.user_id = e.user_id
    )
    SELECT cohort_week, weeks_since, count(*)::BIGINT AS n_active_users
    FROM activity
    GROUP BY cohort_week, weeks_since
    """,
)
def user_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention grid: first-seen week cohorts x weeks-since-first activity."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(F.broadcast(first_seen), on="user_id")
        .select(
            "user_id",
            "cohort_week",
            F.floor(
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7.0
            )
            .cast("int")
            .alias("weeks_since"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "weeks_since").agg(
        F.count(F.lit(1)).alias("n_active_users")
    )


# --------------------------------------------------------------------------
# Ordered funnel: view → click → purchase, each step's timestamp strictly
# after the previous step's FIRST occurrence per user. min-per-step
# conditional aggregation (one pass) + step predicates — no joins at all,
# the funnel is a 5-column reduction per user.
# --------------------------------------------------------------------------

@register(
    "event_funnel_conversion",
    oracle="""
    WITH steps AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(*)::BIGINT AS n_users,
           count(t_view)::BIGINT AS n_viewed,
           count(CASE WHEN t_click > t_view THEN 1 END)::BIGINT
             AS n_clicked_after_view,
           count(CASE WHEN t_purchase > t_click AND t_click > t_view
                      THEN 1 END)::BIGINT AS n_purchased_after_click
    FROM steps
    """,
)
def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joinless funnel: per-user conditional min timestamps for view->click->purchase, one-pass conversion counts."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def first_ts(t):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    steps = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    return steps.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias(
            "n_clicked_after_view"
        ),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        ).alias("n_purchased_after_click"),
    )


# --------------------------------------------------------------------------
# Market-basket lift: part pairs co-purchased by the same customer, with
# support and lift = P(A∩B)/(P(A)P(B)). The same bounded co-occurrence
# join as the twins query (quadratic only within a part's buyer set);
# per-part marginals broadcast onto the pair aggregate.
# --------------------------------------------------------------------------

@register(
    "part_pair_lift",
    oracle="""
    WITH ui AS (
      SELECT DISTINCT o_custkey AS cust, l_partkey AS part
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    n_cust AS (SELECT count(DISTINCT cust) AS n FROM ui),
    marg AS (SELECT part, count(*) AS m FROM ui GROUP BY part),
    pairs AS (
      SELECT a.part AS partA, b.part AS partB, count(*) AS both_cnt
      FROM ui a JOIN ui b ON a.cust = b.cust AND a.part < b.part
      GROUP BY 1, 2
      HAVING count(*) >= 20
    )
    SELECT partA, partB, both_cnt,
           round((both_cnt * 1.0 / n.n)
                 / ((ma.m * 1.0 / n.n) * (mb.m * 1.0 / n.n)), 6) AS lift
    FROM pairs
    JOIN marg ma ON ma.part = partA
    JOIN marg mb ON mb.part = partB, n_cust n
    ORDER BY lift DESC, partA, partB
    LIMIT 50
    """,
)
def part_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift for co-purchased part pairs (support-pruned co-occurrence join, broadcast marginals)."""
    ensure_utc(spark)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    ui = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
        .cache()
    )
    n_cust = ui.agg(F.countDistinct("cust").alias("n"))
    marg = ui.groupBy("part").agg(F.count(F.lit(1)).alias("m"))
    a = ui.select(F.col("cust"), F.col("part").alias("partA"))
    b = ui.select(F.col("cust"), F.col("part").alias("partB"))
    pairs = (
        a.join(b, on="cust")
        .filter(F.col("partA") < F.col("partB"))
        .groupBy("partA", "partB")
        .agg(F.count(F.lit(1)).alias("both_cnt"))
        .filter(F.col("both_cnt") >= 20)
    )
    ma = marg.select(F.col("part").alias("partA"), F.col("m").alias("mA"))
    mb = marg.select(F.col("part").alias("partB"), F.col("m").alias("mB"))
    scored = (
        pairs.join(F.broadcast(ma), on="partA")
        .join(F.broadcast(mb), on="partB")
        .crossJoin(F.broadcast(n_cust))
        .select(
            "partA",
            "partB",
            "both_cnt",
            F.round(
                (F.col("both_cnt") / F.col("n"))
                / ((F.col("mA") / F.col("n")) * (F.col("mB") / F.col("n"))),
                6,
            ).alias("lift"),
        )
    )
    return rel.top_k(
        scored, [F.desc("lift"), F.col("partA"), F.col("partB")], 50
    )


# --------------------------------------------------------------------------
# Q8 shape: market share — one supplier-nation's fraction of a customer
# REGION's yearly revenue. The widest conditional-share walk in the
# catalog: fact⋈orders shuffles once; customer/supplier/nation/region all
# broadcast; the share is conditional-sum / sum within (year) groups.
# --------------------------------------------------------------------------

@register(
    "nation_market_share",
    oracle="""
    SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           round(
             sum(CAST(CASE WHEN n1.n_name = 'NATION_7'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END
                      AS DECIMAL(18,4)))::DOUBLE
             / sum(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(18,4)))::DOUBLE,
             9) AS mkt_share,
           count(*)::BIGINT AS n_items
    FROM lineitem
    JOIN orders    ON o_orderkey = l_orderkey
    JOIN customer  ON c_custkey = o_custkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    JOIN region    ON r_regionkey = n2.n_regionkey
    JOIN supplier  ON s_suppkey = l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    WHERE r_name = (SELECT min(r_name) FROM region)
    GROUP BY 1
    """,
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of regional revenue per year."""
    ensure_utc(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    target_region = region.agg(F.min("r_name").alias("r_target"))
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    reg = region.select(
        F.col("r_regionkey").alias("r_key"), F.col("r_name")
    ).crossJoin(F.broadcast(target_region)).filter(
        F.col("r_name") == F.col("r_target")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nation_rev = F.when(F.col("supp_nation") == "NATION_7", rev).otherwise(F.lit(0))
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("c_nationkey"))
        .join(F.broadcast(reg), F.col("r_key") == F.col("n2_region"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("s_nationkey"))
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.round(exact_sum(nation_rev, 4) / exact_sum(rev, 4), 9).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Q9 shape: product-type profit by nation and year. Five-way join where
# the two fact tables (lineitem, orders) meet in a shuffle join on
# orderkey while every dimension side is either pre-filtered (part LIKE)
# or tiny (supplier→nation broadcast). The schema has no partsupp, so
# supply cost is modeled as 60% of p_retailprice — same join/agg shape as
# TPC-H Q9 (profit = revenue − cost·qty). At 100 TB the only large
# exchange is lineitem⋈orders; AQE can flip the filtered-part join to
# broadcast when the LIKE is selective.
# --------------------------------------------------------------------------

@register(
    "nation_profit_by_year",
    oracle="""
    SELECT n_name AS nation, year(o_orderdate) AS o_year,
           sum(CAST(l_extendedprice * (1 - l_discount)
                    - 0.6 * p_retailprice * l_quantity
                    AS DECIMAL(18,4)))::DOUBLE AS sum_profit,
           count(*)::BIGINT AS n_items
    FROM lineitem
    JOIN part     ON p_partkey  = l_partkey
    JOIN supplier ON s_suppkey  = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def nation_profit_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 analog (reference has no multi-way join this wide; this
    generalizes SURVEY §2.3 J1-J3 to a star join over both fact tables)."""
    ensure_utc(spark)
    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(
            exact_sum(profit, 4).alias("sum_profit"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Q10 shape: returned-item revenue ranking. Quarter-filtered orders join
# the returnflag-filtered fact, then a customer rollup. Both filters
# reach the parquet scans (date range + returnflag pushdown); the
# customer/nation joins happen AFTER the group-by collapses lineitem to
# at-most-|customer| rows — joining dimensions onto the aggregate, not
# the fact, is the order that survives a 100× scale-up.
# --------------------------------------------------------------------------

@register(
    "returned_item_top_customers",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))::DOUBLE
               AS revenue,
             count(*)::BIGINT AS n_returned
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1996-04-01'
      GROUP BY o_custkey
    )
    SELECT c_custkey, c_name, revenue, n_returned, c_acctbal, n_name AS nation
    FROM per_cust
    JOIN customer ON c_custkey = o_custkey
    JOIN nation   ON n_nationkey = c_nationkey
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def returned_item_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 analog: who returned the most revenue last quarter."""
    ensure_utc(spark)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    per_cust = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_custkey")
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_returned"),
        )
    )
    return (
        per_cust.join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .select("c_custkey", "c_name", "revenue", "n_returned", "c_acctbal", "nation")
        .orderBy(F.desc("revenue"), F.col("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q21 shape: suppliers who single-handedly held up a multi-supplier
# order. Canonical TPC-H phrasing is EXISTS + NOT EXISTS — two extra
# self-joins of the fact table. This engine instead aggregates to
# (order, supplier) grain once, then answers both quantifiers with
# window counts over the order: n_supp > 1 ⇔ EXISTS(other supplier),
# n_late = 1 ∧ is_late ⇔ NOT EXISTS(other late supplier). One shuffle
# (repartition by orderkey feeds the group-by AND both windows — Spark
# reuses the partitioning) replaces two fact-fact joins; at 100 TB
# that is the difference between one pass and three.
# --------------------------------------------------------------------------

@register(
    "waiting_sole_late_supplier",
    oracle="""
    WITH per_os AS (
      SELECT l_orderkey, l_suppkey,
             max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                      THEN 1 ELSE 0 END) AS is_late
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
      GROUP BY l_orderkey, l_suppkey
    ),
    scoped AS (
      SELECT l_suppkey, is_late,
             count(*)    OVER (PARTITION BY l_orderkey) AS n_supp,
             sum(is_late) OVER (PARTITION BY l_orderkey) AS n_late
      FROM per_os
    )
    SELECT s_name, count(*)::BIGINT AS numwait
    FROM scoped
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE is_late = 1 AND n_supp > 1 AND n_late = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 15
    """,
)
def waiting_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 analog with lateness = shipped >90 days after order date
    (the schema has no commit/receipt dates). EXISTS/NOT EXISTS rewritten
    as one aggregation + windows — see the block comment above."""
    from pyspark.sql.window import Window

    ensure_utc(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
        F.lit(1),
    ).otherwise(F.lit(0))
    per_os = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("is_late"))
    )
    w = Window.partitionBy("l_orderkey")
    scoped = per_os.withColumn("n_supp", F.count(F.lit(1)).over(w)).withColumn(
        "n_late", F.sum("is_late").over(w)
    )
    return (
        scoped.filter(
            (F.col("is_late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late") == 1)
        )
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.col("s_name"))
        .limit(15)
    )


# --------------------------------------------------------------------------
# Q2 shape: cheapest qualified supplier per part — the correlated-
# subquery (MIN per part) pattern, expressed as a window row_number so
# both engines compute the same deterministic pick (tie-break s_suppkey).
# The fact table contributes only DISTINCT (part, supplier) pairs —
# dedup'd BEFORE the dimension joins, so the expensive side collapses
# first; dimension filters (size, type, region) cut the join inputs at
# the scan.
# --------------------------------------------------------------------------

@register(
    "cheapest_supplier_per_part",
    oracle="""
    WITH shipped AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ),
    cand AS (
      SELECT p_partkey, s_suppkey, s_name, s_acctbal, n_name AS nation,
             row_number() OVER (PARTITION BY p_partkey
                                ORDER BY s_acctbal ASC, s_suppkey) AS rn
      FROM shipped
      JOIN part     ON p_partkey  = l_partkey
      JOIN supplier ON s_suppkey  = l_suppkey
      JOIN nation   ON n_nationkey = s_nationkey
      JOIN region   ON r_regionkey = n_regionkey
      WHERE p_size <= 10 AND p_type = 'ECONOMY' AND r_name = 'EUROPE'
    )
    SELECT p_partkey, s_suppkey, s_name, s_acctbal, nation
    FROM cand WHERE rn = 1
    ORDER BY s_acctbal, p_partkey
    LIMIT 100
    """,
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 analog: min-cost supplier per part via deterministic
    per-group argmin (SURVEY §2.12 Q2/Q3 tie-break discipline)."""
    ensure_utc(spark)
    shipped = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_size") <= 10) & (F.col("p_type") == "ECONOMY"))
        .select("p_partkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", F.col("n_name").alias("nation")
    )
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    euro_supp = (
        supp.join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "nation")
    )
    cand = shipped.join(
        F.broadcast(part), F.col("p_partkey") == F.col("l_partkey")
    ).join(F.broadcast(euro_supp), F.col("s_suppkey") == F.col("l_suppkey"))
    best = rel.grouped_top_k(
        cand, ["p_partkey"], [F.asc("s_acctbal"), F.col("s_suppkey")], 1
    )
    return (
        best.select("p_partkey", "s_suppkey", "s_name", "s_acctbal", "nation")
        .orderBy(F.col("s_acctbal"), F.col("p_partkey"))
        .limit(100)
    )


# --------------------------------------------------------------------------
# Deterministic hash sampling — the scale-pipeline primitive behind
# "run it on 1% first". rand()-based sampling is irreproducible across
# engines and re-runs; hashing the key mod 100 gives a stable,
# engine-portable 10% sample that is a pure pushdown-able filter: no
# shuffle, no state, and the SAME rows come back at any parallelism.
# Stratum counts + exact sums verify the sample end-to-end.
# --------------------------------------------------------------------------

@register(
    "hash_sampled_orders",
    oracle=f"""
    SELECT o_orderpriority,
           count(*)::BIGINT AS n_sampled,
           sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS sampled_value
    FROM orders
    WHERE {md5_long_sql("o_orderkey::VARCHAR")} % 100 < 10
    GROUP BY o_orderpriority
    """,
)
def hash_sampled_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed 10% sample via md5(key) mod 100 (functions/portable.py) —
    deterministic twin of M5 randomSplit (SURVEY §2.12 Q4: seeded,
    reproducible sampling instead of unseeded driver randomness)."""
    ensure_utc(spark)
    orders = load_table(spark, sf_dir, "orders")
    sampled = orders.filter(
        md5_long(F.col("o_orderkey").cast("string")) % 100 < 10
    )
    return sampled.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        exact_sum(F.col("o_totalprice"), 2).alias("sampled_value"),
    )


# --------------------------------------------------------------------------
# Portable HyperLogLog — distinct users per event type estimated from 64
# md5-derived registers (operators/sketches.py). Spark's own
# approx_count_distinct is HLL++ over an engine-private hash, so its
# numbers are not checkable; this sketch derives every register from the
# portable md5 family and the oracle recomputes the ENTIRE sketch —
# registers, harmonic fold, estimate — in DuckDB. Exact distinct count
# rides along to show the estimate lands near truth. At 100 TB the
# shuffle carries ≤ |event_types|·64 register rows.
# --------------------------------------------------------------------------


def _hll_oracle() -> str:
    from bigdata_capstone_spark.operators.sketches import hll_estimate_sql

    inner = hll_estimate_sql("events", "event_type", "user_id::VARCHAR")
    return f"""
    WITH est AS ({inner}),
    ex AS (
      SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_distinct
      FROM events GROUP BY event_type
    )
    SELECT est.event_type, est.hll_estimate, est.n_registers, ex.exact_distinct
    FROM est JOIN ex ON ex.event_type = est.event_type
    """


@register("distinct_users_hll", oracle=_hll_oracle())
def distinct_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Register-exact portable HLL (north-star 'novel sketch' extension;
    no reference counterpart — the reference never estimates, SURVEY
    §2.4 is exact-only)."""
    from bigdata_capstone_spark.operators.sketches import hll_estimate

    ensure_utc(spark)
    events = load_table(spark, sf_dir, "events")
    est = hll_estimate(
        events, ["event_type"], F.col("user_id").cast("string")
    )
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type")


# --------------------------------------------------------------------------
# Portable Count-Min sketch — part frequencies estimated from a 4×256
# md5-salted counter grid. The grid is a fixed-size (1024-row) summary
# of an arbitrarily large fact table, built with one map-side-combinable
# aggregate; the top-20 heavy hitters are then point-queried by
# broadcast-joining the grid. cms_estimate ≥ exact_cnt always (CMS only
# overestimates) — the oracle recomputes grid and probes exactly.
# --------------------------------------------------------------------------

_CMS_D = 4


@register(
    "heavy_hitter_parts_cms",
    oracle=f"""
    WITH salts AS (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS r),
    counters AS (
      SELECT r,
             ('0x' || substr(md5(l_partkey::VARCHAR), 1 + 2 * r, 2))::INT AS slot,
             count(*) AS cnt
      FROM lineitem CROSS JOIN salts
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT l_partkey, count(*)::BIGINT AS exact_cnt
      FROM lineitem GROUP BY 1
      ORDER BY exact_cnt DESC, l_partkey LIMIT 20
    ),
    probes AS (
      SELECT c.l_partkey, c.exact_cnt, s.r,
             ('0x' || substr(md5(c.l_partkey::VARCHAR), 1 + 2 * s.r, 2))::INT
               AS slot
      FROM cand c CROSS JOIN salts s
    )
    SELECT p.l_partkey, p.exact_cnt, min(ct.cnt)::BIGINT AS cms_estimate
    FROM probes p
    JOIN counters ct ON ct.r = p.r AND ct.slot = p.slot
    GROUP BY 1, 2
    """,
)
def heavy_hitter_parts_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters (north-star sketch extension): estimate
    the top-20 parts' lineitem frequencies from a fixed 4x256 grid.
    One md5 per row serves all 4 grid rows (byte slices of the digest)."""
    from bigdata_capstone_spark.operators.sketches import (
        cms_counters,
        cms_point_estimates,
    )

    ensure_utc(spark)
    from bigdata_capstone_spark.operators.relational import fan_out

    # fan out the narrow single-column projection BEFORE the d-way md5
    # explode: the sf0.1 lineitem scan is 3 partitions, which serialized
    # the 4x-md5 map onto 3 cores (measured 3.9s -> 1.65s fanned out)
    li = fan_out(load_table(spark, sf_dir, "lineitem").select("l_partkey"))
    counters = cms_counters(li, F.col("l_partkey").cast("string"), _CMS_D)
    cand = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.col("l_partkey"))
        .limit(20)
    )
    return cms_point_estimates(counters, cand, "l_partkey", _CMS_D)


# --------------------------------------------------------------------------
# PageRank over the bipartite customer↔supplier purchase graph — the
# second ITERATIVE operator (besides connected components) with a real
# value oracle: 3 rounds, loop unrolled into chained CTEs on the DuckDB
# side (operators/graph.py). Per-round determinism comes from summing
# neighbor contributions as DECIMAL(28,14) — the exact_sum discipline
# extended to iterative state. Each round is one shuffle (groupBy dst);
# the edge list and degrees are computed once and cached.
# --------------------------------------------------------------------------


def _pagerank_oracle() -> str:
    from bigdata_capstone_spark.operators.graph import pagerank_unrolled_sql

    edges_cte = """
      WITH pairs AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      )
      SELECT 'c' || c::VARCHAR AS src, 's' || s::VARCHAR AS dst FROM pairs
      UNION ALL
      SELECT 's' || s::VARCHAR, 'c' || c::VARCHAR FROM pairs
    """
    pr = pagerank_unrolled_sql(edges_cte, iterations=3, damping=0.85)
    return f"""
    SELECT node, round(rank, 12) AS pagerank
    FROM ({pr})
    ORDER BY pagerank DESC, node
    LIMIT 25
    """


@register("purchase_graph_pagerank", oracle=_pagerank_oracle())
def purchase_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round PageRank on who-buys-from-whom; top-25 hubs. No reference
    counterpart (north-star iterative-algorithm extension)."""
    from bigdata_capstone_spark.operators.graph import pagerank

    ensure_utc(spark)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    c_node = F.concat(F.lit("c"), F.col("c").cast("string"))
    s_node = F.concat(F.lit("s"), F.col("s").cast("string"))
    # Both directions in ONE pass (a union of two selects would recompute
    # the join+distinct once per branch).
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(c_node.alias("src"), s_node.alias("dst")),
                F.struct(s_node.alias("src"), c_node.alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    ranks = pagerank(edges, iterations=3, damping=0.85)
    return (
        ranks.select("node", F.round("rank", 12).alias("pagerank"))
        .orderBy(F.desc("pagerank"), F.col("node"))
        .limit(25)
    )


def _lpa_oracle() -> str:
    from bigdata_capstone_spark.operators.graph import (
        label_propagation_unrolled_sql,
    )

    edges_cte = """
      SELECT a.i AS src, b.i AS dst
      FROM range(120) a(i) CROSS JOIN range(120) b(i)
      WHERE a.i < b.i AND a.i // 20 = b.i // 20
      UNION ALL
      SELECT q * 20 + 19 AS src, ((q + 1) % 6) * 20 AS dst
      FROM range(6) t(q)
    """
    return label_propagation_unrolled_sql(edges_cte, rounds=3)


@register("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round deterministic label propagation on the ring-of-cliques
    fixture (6 cliques of 20, single bridge edges): every clique must
    settle on its minimum node id as the community label — frequency
    outvotes the bridges, which is exactly what separates COMMUNITIES
    from the connected COMPONENTS that dedup's closure would produce
    (one blob). The oracle rebuilds the identical graph from the
    generative formula and unrolls all three rounds
    (operators/graph.py:label_propagation_unrolled_sql), so every
    round's closed-neighborhood vote and min-label tie-break is
    value-checked. Composes directly with embedding_mutual_knn_edges
    for semantic-community curation at corpus scale."""
    from bigdata_capstone_spark.operators.graph import (
        label_propagation,
        ring_of_cliques,
    )

    ensure_utc(spark)
    edges = ring_of_cliques(spark, n_cliques=6, size=20)
    return label_propagation(edges, rounds=3)


# --------------------------------------------------------------------------
# Bloom-pruned semi-join: the sketch family used as a JOIN OPTIMIZATION.
# Build the filter over the SMALL side's keys (one map-side-combinable
# bit_or aggregate), broadcast the ~8 KB bitmap, drop big-side
# non-members BEFORE the exact semi-join's shuffle. False positives
# survive the probe and die in the exact join, so the result is
# row-identical to the plain semi-join — which is exactly what the
# oracle checks. At 100 TB the probe converts the big side's semi-join
# shuffle from |orders| rows to |probable members| rows at the cost of a
# broadcast no bigger than a dimension table.
# --------------------------------------------------------------------------

@register(
    "bloom_pruned_segment_orders",
    oracle="""
    SELECT date_trunc('month', o_orderdate) AS order_month,
           count(*)::BIGINT AS n_orders,
           sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS revenue
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM customer
      WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING'
    )
    GROUP BY 1
    """,
)
def bloom_pruned_segment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order volume for BUILDING-segment customers, with the
    fact side pre-filtered through a portable Bloom filter of the
    segment's custkeys before the exact semi-join. The oracle is the
    PLAIN semi-join — proving the bloom probe changes cost, never
    results (no false negatives; false positives removed by the exact
    join)."""
    from bigdata_capstone_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    ensure_utc(spark)
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders")
    bitmap = bloom_build(cust, F.col("c_custkey").cast("string"), m_bits=14, k=4)
    probable = bloom_probe(
        orders, bitmap, F.col("o_custkey").cast("string"), m_bits=14, k=4
    )
    exact = rel.semi_join(
        probable,
        cust.select(F.col("c_custkey").alias("o_custkey")),
        on="o_custkey",
    )
    return exact.groupBy(
        F.date_trunc("month", "o_orderdate").alias("order_month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        exact_sum("o_totalprice", 2).alias("revenue"),
    )


def _psi_events_oracle() -> str:
    """Shared by event_drift_psi and its streaming maintenance twin
    (streaming_drift_psi, catalog_etl) — the drained contingency
    snapshot must reproduce the one-pass batch PSI bit-for-bit.
    Lives in shared_sql (leaf module) so either catalog can be the
    first package import."""
    from bigdata_capstone_spark.shared_sql import PSI_EVENTS_ORACLE

    return PSI_EVENTS_ORACLE


@register("event_drift_psi", oracle=_psi_events_oracle())
def event_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset drift monitoring: Population Stability Index of the event
    value distribution (10 fixed-width bins over [0, 500)) between the
    first and second half of the month, per event type — the between-
    epoch check a 100 TB ingest runs before admitting a new crawl
    snapshot into the training mix (PSI > 0.25 = distribution shifted).

    Scale shape (operators/drift.py): ONE scan tags (group, bin,
    period); one map-side-combined groupBy yields the |groups|x|bins|x2
    contingency table (mergeable across shards — counts add); the PSI
    fold runs on that bounded frame. Fixed bin edges keep binning a
    pure map. Add-1 smoothing makes every per-bin term finite and
    bit-identical across engines (6 dp + micro-unit sums)."""
    from bigdata_capstone_spark.operators.drift import psi_by_group

    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return psi_by_group(
        ev,
        period_col=F.col("ts") >= F.to_timestamp(F.lit("2024-01-16")),
        value_col="value",
        group_cols=("event_type",),
        width=50.0,
        n_bins=10,
    )


@register(
    "user_value_acf",
    oracle="""
    WITH o AS (
      SELECT user_id, value,
             lag(value, 1) OVER w AS l1,
             lag(value, 2) OVER w AS l2,
             lag(value, 3) OVER w AS l3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, 1 AS lag, value, l1 AS lv FROM o WHERE l1 IS NOT NULL
      UNION ALL
      SELECT user_id, 2 AS lag, value, l2 AS lv FROM o WHERE l2 IS NOT NULL
      UNION ALL
      SELECT user_id, 3 AS lag, value, l3 AS lv FROM o WHERE l3 IS NOT NULL
    )
    SELECT user_id, lag,
           round(corr(value, lv), 6) AS acf_r,
           count(*)::BIGINT AS n_points
    FROM s GROUP BY user_id, lag
    HAVING corr(value, lv) IS NOT NULL AND NOT isnan(corr(value, lv))
       AND count(*) >= 2
    """,
)
def user_value_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k autocorrelation (k = 1..3) of each user's event-value series
    — the stationarity probe of the time-series family (EWMA smooths,
    trend fits a slope, ACF asks "does the next value remember the
    last"). High lag-1 ACF flags sticky/sessionized behavior; flat ACF
    across lags means the per-user stream is white noise and EWMA
    forecasting adds nothing.

    Scale shape: ONE window pass partitioned BY USER (bounded by the
    per-user series, never global) produces all three lag columns;
    ``stack`` unpivots them to (lag, lagged_value) rows map-side (no
    extra shuffle — the unpivot is a generator over the windowed frame);
    one hash aggregate per (user, lag) computes the Pearson co-moments.
    Determinism: same covar_samp/stddev recipe as event_user_type_corr
    (aggregates.pearson_by_group), rounded to 6 dp for the oracle.
    Core in operators/temporal.acf_by_key."""
    from bigdata_capstone_spark.operators.temporal import acf_by_key

    ensure_utc(spark)
    events = load_table(spark, sf_dir, "events")
    return acf_by_key(
        events, ["user_id"], ["ts", "event_id"], "value", max_lag=3
    )


@register(
    "join_key_skew_report",
    oracle="""
    WITH counts AS (
      SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY l_partkey
    )
    SELECT length(bin(n))::INT AS bit_bucket,
           count(*)::BIGINT AS n_keys,
           sum(n)::BIGINT AS n_rows,
           max(n)::BIGINT AS max_key_rows
    FROM counts GROUP BY 1
    """,
)
def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key SKEW pre-flight: the per-key row-count distribution
    of a prospective join key (lineitem.l_partkey) collapsed to exact
    bit-length buckets — the report that decides, BEFORE a 100 TB join
    runs, whether to salt (relational.salted_join), cap, or broadcast.
    AQE handles skew reactively; choosing the key and strategy is a
    planning decision that needs this histogram up front. Two map-side-
    combinable aggregates; the bucket uses integer bit length (binary
    string length), immune to the 1-ulp float-log2 disagreements
    engines have at power-of-two boundaries."""
    ensure_utc(spark)
    li = load_table(spark, sf_dir, "lineitem")
    return rel.key_skew_report(li, ["l_partkey"])


def _hll_overlap_oracle() -> str:
    from bigdata_capstone_spark.functions.portable import md5_long_sql
    from bigdata_capstone_spark.operators.sketches import (
        HLL_ALPHA_64,
        HLL_M,
        HLL_M_BITS,
        _VALUE_BITS,
    )

    h = md5_long_sql("user_id::VARCHAR")
    reg = (
        f"SELECT ({h}) % {HLL_M} AS bucket, "
        f"max({_VALUE_BITS + 1} - length(bin(({h}) >> {HLL_M_BITS}))) "
        "AS rho_max FROM events WHERE event_type = '{et}' GROUP BY 1"
    )
    fold = (
        f"round({HLL_ALPHA_64} * {HLL_M * HLL_M} / "
        "(list_reduce(list(power(2.0, -rho_max) ORDER BY bucket), "
        f"(a, x) -> a + x)::DOUBLE + ({HLL_M} - count(*))::DOUBLE), 4)"
    )
    return f"""
    WITH ra AS ({reg.format(et="view")}),
    rb AS ({reg.format(et="purchase")}),
    ru AS (
      SELECT bucket, max(rho_max) AS rho_max
      FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb)
      GROUP BY bucket
    ),
    ea AS (SELECT {fold} AS est_a FROM ra),
    eb AS (SELECT {fold} AS est_b FROM rb),
    eu AS (SELECT {fold} AS est_union FROM ru)
    SELECT est_a, est_b, est_union,
           round(est_a + est_b - est_union, 4) AS est_overlap
    FROM ea CROSS JOIN eb CROSS JOIN eu
    """


@register("audience_overlap_hll", oracle=_hll_overlap_oracle())
def audience_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set algebra: estimated overlap between the VIEW audience and
    the PURCHASE audience by inclusion-exclusion over merged registers
    (est_a + est_b − est(A∪B), union registers = element-wise max — the
    streaming merge law applied as set intersection, which HLL lacks
    natively). The oracle recomputes all three register tables, all
    three harmonic folds, and the subtraction.

    Scale shape (operators/sketches.py:hll_set_overlap): each side
    collapses map-side to ≤ 64 register rows; the union is a 128-row
    groupBy; overlap across two 100 TB streams costs two scans and
    bytes of shuffle."""
    from bigdata_capstone_spark.operators.sketches import hll_set_overlap

    ensure_utc(spark)
    events = load_table(spark, sf_dir, "events")
    return hll_set_overlap(
        events.filter(F.col("event_type") == "view"),
        events.filter(F.col("event_type") == "purchase"),
        F.col("user_id").cast("string"),
    )


@register(
    "join_size_estimate_cms",
    oracle=f"""
    WITH salts AS (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS r),
    ca AS (
      SELECT r,
             ('0x' || substr(md5(user_id::VARCHAR), 1 + 2 * r, 2))::INT
               AS slot,
             count(*) AS cnt
      FROM events CROSS JOIN salts
      GROUP BY 1, 2
    ),
    cb AS (
      SELECT r,
             ('0x' || substr(md5(o_custkey::VARCHAR), 1 + 2 * r, 2))::INT
               AS slot,
             count(*) AS cnt
      FROM orders CROSS JOIN salts
      GROUP BY 1, 2
    ),
    dots AS (
      SELECT ca.r, sum(ca.cnt * cb.cnt) AS dot
      FROM ca JOIN cb ON cb.r = ca.r AND cb.slot = ca.slot
      GROUP BY ca.r
    ),
    est AS (
      -- rows with no slot overlap dot to 0 and must win the min
      SELECT min(coalesce(d.dot, 0))::BIGINT AS est_join_size
      FROM salts s LEFT JOIN dots d ON d.r = s.r
    ),
    ex AS (
      SELECT sum(e.n * o.n)::BIGINT AS exact_join_size
      FROM (SELECT user_id AS k, count(*) AS n FROM events GROUP BY 1) e
      JOIN (SELECT o_custkey AS k, count(*) AS n FROM orders GROUP BY 1) o
        ON o.k = e.k
    )
    SELECT est_join_size, exact_join_size,
           round((est_join_size - exact_join_size)
                 * 1.0 / exact_join_size, 6) AS rel_overestimate_r
    FROM est CROSS JOIN ex
    """,
)
def join_size_estimate_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation BEFORE running the join — the AMS/CMS
    inner product (sketch algebra, like the HLL overlap): |events ⋈
    orders ON user_id = o_custkey| estimated as the min over CMS rows
    of the row-wise dot product of the two sides' counter grids, an
    upper bound computable from two ≤ 4×256-row sketches without
    touching either table again. The cost-based-optimizer statistic,
    mergeable per ingest shard (counters add). Exact join size rides
    along (computed from per-key counts, never materializing the
    join) with the relative overestimate.

    Scale shape (operators/sketches.py:cms_join_size_estimate): two
    map-side-combined passes collapse both tables to ≤ d×256 counters;
    the dot product and min are sketch-sized; all-integer arithmetic."""
    from bigdata_capstone_spark.operators.sketches import (
        cms_join_size_estimate,
    )

    ensure_utc(spark)
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    est = cms_join_size_estimate(
        events, F.col("user_id").cast("string"),
        orders, F.col("o_custkey").cast("string"),
        d=_CMS_D,
    )
    ex = (
        events.groupBy(F.col("user_id").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_e"))
        .join(
            orders.groupBy(F.col("o_custkey").alias("k")).agg(
                F.count(F.lit(1)).alias("n_o")
            ),
            "k",
        )
        .agg(
            F.sum(F.col("n_e") * F.col("n_o"))
            .cast("long")
            .alias("exact_join_size")
        )
    )
    return est.crossJoin(ex).select(
        "est_join_size",
        "exact_join_size",
        F.round(
            (F.col("est_join_size") - F.col("exact_join_size"))
            * 1.0
            / F.col("exact_join_size"),
            6,
        ).alias("rel_overestimate_r"),
    )


@register(
    "event_drift_ks",
    oracle="""
    WITH cont AS (
      SELECT floor(value / 2.0)::BIGINT AS bin,
             sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END)
               AS ca,
             sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
               AS cb
      FROM events GROUP BY 1
    ),
    cum AS (
      SELECT bin,
             sum(ca) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
             sum(cb) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
             sum(ca) OVER () AS n_a, sum(cb) OVER () AS n_b
      FROM cont
    ),
    diff AS (
      SELECT bin, n_a, n_b,
             abs(cum_a * n_b - cum_b * n_a) AS d
      FROM cum
    )
    SELECT n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
           CASE WHEN n_a > 0 AND n_b > 0
                THEN round(d * 1.0 / (n_a * n_b), 6)
                ELSE 0.0 END AS ks_d_r,
           round((bin + 1) * 2.0, 6) AS at_upper_r
    FROM (SELECT *, row_number() OVER (ORDER BY d DESC, bin) AS rn
          FROM diff)
    WHERE rn = 1
    """,
)
def event_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift of the event value
    distribution between the month's two halves — the third drift lens
    beside PSI (per-bin mass ratios) and the embedding centroid cosine
    (semantic direction): KS reports the WORST single point of
    cumulative divergence, the alarm that fires on a shifted tail even
    when most bins' ratios stay calm. Exact integer decision throughout
    (BIGINT cross-multiplied CDFs, integer argmax with the smallest-bin
    tie-break, one final division), so the oracle replays the
    contingency, both cumulative sums, and the supremum bit-for-bit.

    Scale shape (operators/drift.py:ks_statistic): one scan tags
    (period, bin); the |bins|x2 contingency merges across shards
    (counts add — a streaming ingest maintains it like the PSI state);
    the cumulative window runs over the bin-sized frame under a
    constant partition key."""
    from bigdata_capstone_spark.operators.drift import ks_statistic

    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return ks_statistic(
        ev,
        period_col=F.col("ts") >= F.to_timestamp(F.lit("2024-01-16")),
        value_col=F.col("value"),
        bin_width=2.0,
    )
