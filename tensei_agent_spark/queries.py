"""Named query registry — the driver-facing surface.

Each entry pairs a Spark DataFrame builder with an equivalent ANSI-SQL
oracle string (run by DuckDB on the same parquet tables). Column names
are aliased identically on both sides; every floating-point aggregate is
computed in exact DECIMAL arithmetic and cast to DOUBLE at the end so
the two engines produce bit-identical values.

Query groups:
- ``q*``        analytical benchmarks (TPC-H-shaped) — also the bench set
- ``copy_* / filter_* / row_align_* / mapping_key_* / union_* /
  dedup_unique_* / fk_*``  — reference-parity operators (SURVEY.md §2)
- ``t_*``       transformer-registry parity (SURVEY.md §2.7)
- ``stats_*``   profiling (SURVEY.md §2.5)
- ``dedup_* / ann_* / text_* / lang_* / tok_*`` — training-data pipeline
  operators (beyond-reference surface)
- ``*_skyline / k_anonymity_* / doc_sentiment / user_path_similarity``
  — analytics extensions (Pareto fronts, governance audits, lexicon
  sentiment, behavior-path similarity)
"""

from __future__ import annotations

from dataclasses import dataclass
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import cache
from .catalog import load
from .operators import dedup as D
from .operators import graph as G
from .operators import joins as J
from .operators import stats as S
from .operators.windows import (
    ntile_from_rank,
    row_index,
    with_bounded_rank,
    with_global_prefix_sum,
)

MONEY = "decimal(12,2)"


def _m(c: str):
    """Money column → exact decimal (both engines cast identically)."""
    return F.col(c).cast(MONEY)


@dataclass(frozen=True)
class Query:
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    bench: bool = False  # include in bench.py headline set


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None, bench: bool = False):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def build(spark: SparkSession, sf: str) -> DataFrame:
            # Release the previous query's tracked caches so a sweep over
            # the whole registry never accumulates cached blocks
            # (operators/cache.track). Safe: unpersist only drops blocks,
            # results of an already-built plan are recomputed if re-used.
            cache.release_all()
            return fn(spark, sf)

        build.__name__ = fn.__name__
        build.__doc__ = fn.__doc__
        build.__wrapped__ = fn
        REGISTRY[name] = Query(build, oracle, bench)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Analytical benchmarks (TPC-H-shaped on the driver tables)
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    bench=True,
)
def q1(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 — flagship scan+agg. One map-side-combined shuffle on two
    low-cardinality keys; filter and 7-column projection push to parquet."""
    li = load(spark, sf, "lineitem")
    disc_price = _m("l_extendedprice") * (F.lit(1) - _m("l_discount"))
    charge = disc_price * (F.lit(1) + _m("l_tax"))
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_m("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_m("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(_m("l_quantity")).cast("double") / n).alias("avg_qty"),
            (F.sum(_m("l_extendedprice")).cast("double") / n).alias("avg_price"),
            (F.sum(_m("l_discount")).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    bench=True,
)
def q3(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 — join chain + agg + top-N. No broadcast hints: customer
    scales with the data, so AQE converts to broadcast at runtime only
    when the filtered side is actually small; top-10 is a TakeOrdered."""
    cust = load(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = load(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    revenue = _m("l_extendedprice") * (F.lit(1) - _m("l_discount"))
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_revenue",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
    bench=True,
)
def q5(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 — 6-way join. Only the constant-size dims (nation 25
    rows, region 5) carry broadcast hints; customer/supplier/orders all
    scale with the data, so their join strategy is left to AQE (which
    broadcasts them at small SF and shuffles at 100 TB). The ASIA filter
    is applied to nation BEFORE the supplier join so the fixed-size
    filtered dim prunes suppliers early."""
    cust = load(spark, sf, "customer")
    orders = load(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf, "lineitem")
    region = load(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = F.broadcast(
        load(spark, sf, "nation").join(
            F.broadcast(region), F.col("n_regionkey") == region.r_regionkey
        )
    )
    supp = load(spark, sf, "supplier").join(
        asia_nations, F.col("s_nationkey") == F.col("n_nationkey")
    )
    revenue = _m("l_extendedprice") * (F.lit(1) - _m("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, (li.l_suppkey == supp.s_suppkey) & (F.col("c_nationkey") == supp.s_nationkey))
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


@register(
    "topk_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders) WHERE rk <= 3
    """,
    bench=True,
)
def topk_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """Top-K per group — hash-partitioned window, no global sort."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        load(spark, sf, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
    )


@register(
    "events_hourly_rollup",
    """
    SELECT date_trunc('hour', ts) AS bucket_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    bench=True,
)
def events_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling-window rollup: epoch-aligned 1h windows ≡
    date_trunc('hour')."""
    ev = load(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape — EXISTS ≡ left-semi join; lineitem is pre-projected
    to its two join columns so the semi join shuffles a minimal payload."""
    orders = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q6_revenue_forecast",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    bench=True,
)
def q6(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 — pure scan+filter+agg, no shuffle at all: all three
    predicates push to the parquet scan, the agg is a single partial→
    final reduction."""
    li = load(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(_m("l_extendedprice") * _m("l_discount")).cast("double").alias("revenue"))
    )


@register(
    "q7_volume_shipping",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(year FROM l_shipdate) AS l_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
    FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE n1.n_name <> n2.n_name
    GROUP BY 1, 2, 3
    """,
)
def q7(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape — cross-nation trade volume by year. supplier,
    customer and both nation copies broadcast; orders↔lineitem is the
    only shuffle join."""
    li = load(spark, sf, "lineitem")
    supp = load(spark, sf, "supplier")
    orders = load(spark, sf, "orders")
    cust = load(spark, sf, "customer")
    n1 = load(spark, sf, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    revenue = _m("l_extendedprice") * (F.lit(1) - _m("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


@register(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 — revenue lost to returns, top 20 customers."""
    cust = load(spark, sf, "customer")
    orders = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load(spark, sf, "nation")
    revenue = _m("l_extendedprice") * (F.lit(1) - _m("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q12_priority_by_status",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate
    GROUP BY l_linestatus
    """,
)
def q12(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 shape (no shipmode column in this schema → grouped by
    linestatus): conditional counting after a fact-fact join."""
    orders = load(spark, sf, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_shipdate", "l_linestatus")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q14_promo_revenue",
    """
    SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))
             ELSE 0 END) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
           AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
)
def q14(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 — promo revenue share. part scales with data: AQE picks
    broadcast at small SF, shuffle-hash at 100 TB."""
    li = load(spark, sf, "lineitem")
    part = load(spark, sf, "part").select("p_partkey", "p_type")
    disc_price = _m("l_extendedprice") * (F.lit(1) - _m("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(
        F.lit(0).cast(MONEY)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0) * F.sum(promo).cast("double")
                / F.sum(disc_price).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "q18_large_volume_customer",
    """
    SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
    FROM (SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 150) big
      JOIN orders ON o_orderkey = big.l_orderkey
      JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    bench=True,
)
def q18(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 — large-volume orders: aggregate-then-join (the HAVING
    prunes before the joins, so only qualifying orders shuffle)."""
    li = load(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_m("l_quantity")).alias("_q"))
        .filter(F.col("_q") > 150)
        .select("l_orderkey", F.col("_q").cast("double").alias("sum_qty"))
    )
    orders = load(spark, sf, "orders")
    cust = load(spark, sf, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "sum_qty")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "q19_brand_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q19(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 — disjunctive predicate over a broadcast join; the
    brand/size arm pushes into the part scan before the join."""
    li = load(spark, sf, "lineitem")
    part = load(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & q.between(qlo, qhi)
    )
    revenue = _m("l_extendedprice") * (F.lit(1) - _m("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(arm("Brand#12", 15, 1, 21) | arm("Brand#23", 25, 10, 30) | arm("Brand#34", 35, 20, 40))
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


@register(
    "q8_market_share",
    """
    WITH all_rev AS (
      SELECT EXTRACT(year FROM o_orderdate) AS o_year,
             CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA')
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN volume ELSE 0 END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM all_rev GROUP BY o_year
    """,
)
def q8(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape — national market share inside a region per year.
    Fixed dims (nation×2, region) broadcast; facts shuffle once each."""
    li = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders")
    cust = load(spark, sf, "customer")
    supp = load(spark, sf, "supplier")
    n1 = load(spark, sf, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    n2 = load(spark, sf, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    region = load(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    volume = _m("l_extendedprice") * (F.lit(1) - _m("l_discount"))
    focal = F.when(F.col("supp_nation") == "NATION_7", volume).otherwise(
        F.lit(0).cast(MONEY)
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (F.sum(focal).cast("double") / F.sum(volume).cast("double")).alias(
                "mkt_share"
            )
        )
    )


@register(
    "q13_customer_order_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey)
    GROUP BY c_count
    """,
)
def q13(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 — customers-per-order-count histogram: left outer join
    (zero-order customers included) + two-level aggregation."""
    cust = load(spark, sf, "customer").select("c_custkey")
    orders = load(spark, sf, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 — top supplier by quarterly revenue: aggregate view +
    scalar-max semi filter (the max is a 1-row broadcast cross join)."""
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(_m("l_extendedprice") * (F.lit(1) - _m("l_discount"))).alias("_rev")
        )
    )
    mx = revenue.agg(F.max("_rev").alias("_mx"))
    supp = load(spark, sf, "supplier")
    return (
        revenue.join(F.broadcast(mx), revenue._rev == mx._mx)
        .join(supp, F.col("supplier_no") == supp.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.col("_rev").cast("double").alias("total_revenue")
        )
    )


@register(
    "q17_small_quantity_revenue",
    """
    SELECT CAST(SUM(CAST(l1.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem l1 JOIN part ON p_partkey = l1.l_partkey
    WHERE p_brand = 'Brand#3'
      AND l1.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                           FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
    """,
)
def q17(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 — small-quantity orders: the correlated AVG subquery
    decorrelates to an aggregate-then-join (per-part thresholds joined
    back to lineitem; the threshold side is part-count-sized)."""
    li = load(spark, sf, "lineitem")
    part = load(spark, sf, "part").filter(F.col("p_brand") == "Brand#3").select(
        "p_partkey"
    )
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.avg("l_quantity") * 0.2).alias("threshold")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(thresholds, li.l_partkey == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("threshold"))
        .agg(
            (F.sum(_m("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


@register(
    "semi_anti_customers",
    """
    SELECT 'with_orders' AS bucket, COUNT(*) AS n FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    UNION ALL
    SELECT 'without_orders', COUNT(*) FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def semi_anti(spark: SparkSession, sf: str) -> DataFrame:
    """Left-semi + left-anti joins (the reference's unique-filter is a
    degenerate anti join — SURVEY §2.4); one scan each side."""
    cust = load(spark, sf, "customer")
    orders = load(spark, sf, "orders").select("o_custkey")
    on = cust.c_custkey == orders.o_custkey
    semi = cust.join(orders, on, "left_semi").agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("with_orders").alias("bucket"), "n")
    anti = cust.join(orders, on, "left_anti").agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("without_orders").alias("bucket"), "n")
    return semi.unionByName(anti)


@register(
    "intersect_except_segments",
    """
    SELECT 'both' AS bucket, COUNT(*) AS n FROM (
      SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY')
    UNION ALL
    SELECT 'building_only', COUNT(*) FROM (
      SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
      EXCEPT
      SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY')
    """,
)
def intersect_except(spark: SparkSession, sf: str) -> DataFrame:
    """INTERSECT / EXCEPT set ops (absent in the reference — SURVEY
    §2.6; Spark provides them as hash-based set operators)."""
    c = load(spark, sf, "customer")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    machinery = c.filter(F.col("c_mktsegment") == "MACHINERY").select("c_nationkey")
    both = building.intersect(machinery).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("both").alias("bucket"), "n"
    )
    only = building.subtract(machinery).agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("building_only").alias("bucket"), "n")
    return both.unionByName(only)


@register(
    "rollup_order_totals",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_totals(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP aggregation (beyond-reference: the reference has no
    group-by at all — SURVEY §2.5; Spark gives hierarchies free)."""
    return (
        load(spark, sf, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(14,2)")).cast("double").alias("total"),
        )
    )


@register(
    "distinct_users_daily",
    """
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
           COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
def distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """COUNT(DISTINCT) per group — Spark expands to a two-phase partial
    distinct aggregate; at 100 TB swap in approx_count_distinct (HLL)
    via the `approx` variants below."""
    ev = load(spark, sf, "events")
    return (
        ev.groupBy(
            F.col("ts").cast("date").cast("string").alias("day"), "event_type"
        )
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register("approx_distinct_users", None)  # sketch-based → rows-only check
def approx_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB twin of distinct_users_daily: HyperLogLog++ sketch,
    one pass, no per-key distinct expansion. rsd=1.6% default."""
    ev = load(spark, sf, "events")
    return (
        ev.groupBy(F.col("ts").cast("date").cast("string").alias("day"))
        .agg(F.approx_count_distinct("user_id").alias("approx_users"))
    )


@register(
    "asof_purchase_last_view",
    """
    WITH purchases AS (SELECT event_id, user_id, ts, value FROM events
                       WHERE event_type = 'purchase'),
         views AS (SELECT event_id, ts, user_id, value FROM events
                   WHERE event_type = 'view'),
         ranked AS (
           SELECT p.event_id, p.user_id, p.value,
                  v.value AS v_value, v.event_id AS v_id,
                  row_number() OVER (PARTITION BY p.event_id
                                     ORDER BY v.ts DESC, v.event_id DESC) AS rk
           FROM purchases p JOIN views v
             ON v.user_id = p.user_id AND v.ts <= p.ts)
    SELECT p.event_id, p.user_id, p.value,
           r.v_value AS right_value, r.v_id AS right_event_id
    FROM purchases p LEFT JOIN (SELECT * FROM ranked WHERE rk = 1) r
      ON p.event_id = r.event_id
    """,
)
def asof_purchase_last_view(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: each purchase paired with the user's latest view at
    or before it. Spark side is the union+forward-fill operator (ONE
    key shuffle — see operators/joins.as_of_join); the oracle is the
    O(n²)-per-user window formulation, feasible only at test scale."""
    ev = load(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    out = J.as_of_join(
        purchases, views, key="user_id", left_ts="ts", right_ts="ts",
        right_cols=["value", "event_id"], tie_col="event_id",
    )
    return out.select(
        "event_id", "user_id", "value", "right_value", "right_event_id"
    )


@register(
    "range_join_event_sessions",
    """
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
      SELECT user_id, event_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM flagged),
    sessions AS (
      SELECT user_id, session_idx,
             MIN(ts) AS session_start, MAX(ts) AS session_end
      FROM numbered GROUP BY user_id, session_idx),
    purchases AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, CAST(s.session_idx AS BIGINT) AS session_idx
    FROM purchases p JOIN sessions s
      ON p.user_id = s.user_id
     AND p.ts BETWEEN s.session_start AND s.session_end
    """,
)
def range_join_event_sessions(spark: SparkSession, sf: str) -> DataFrame:
    """Range (interval-containment) join: map each purchase event to the
    session interval containing it. Spark side = bucketed range_join
    (equi-join on (key, time-bucket) + exact filter — no theta-join
    explosion); oracle = the BETWEEN formulation, feasible at test
    scale. Sessions come from the oracle-checked batch sessionizer."""
    sessions = sessionize_batch(spark, sf).select(
        "user_id", "session_idx",
        F.col("session_start").alias("start"),
        F.col("session_end").alias("end"),
    )
    purchases = (
        load(spark, sf, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
    )
    out = J.range_join(purchases, sessions, key="user_id", bucket="30 minutes")
    return out.select("event_id", "user_id", "session_idx")


@register(
    "events_props_json",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def events_props_json(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured extraction: JSON props column → typed values,
    aggregated. get_json_object stays in codegen; at scale prefer
    from_json with an explicit schema once the shape is known."""
    ev = load(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


@register(
    "sessionize_events_batch",
    """
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
      SELECT user_id, event_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM flagged)
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
    FROM numbered GROUP BY user_id, session_idx
    """,
    bench=True,
)
def sessionize_batch(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (30 min), batch form: lag + cumulative
    flag sum per user. Hash-partitioned window (per-user), no global
    sort."""
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ms = 30 * 60 * 1000
    new_s = F.when(
        (F.unix_millis(F.col("ts")) - F.unix_millis(F.lag("ts").over(w)) > gap_ms)
        | F.lag("ts").over(w).isNull(),
        1,
    ).otherwise(0)
    wcum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        ev.withColumn("new_s", new_s)
        .withColumn("session_idx", F.sum("new_s").over(wcum))
        .groupBy("user_id", "session_idx")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias("total_value"),
        )
    )


@register(
    "session_window_native",
    """
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= 1800000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
      SELECT user_id, event_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM flagged)
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
    FROM numbered GROUP BY user_id, session_idx
    """,
    bench=True,
)
def session_window_native(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization via Spark's NATIVE session_window
    aggregate — one hash aggregate with in-operator session merging
    (MergingSessionsExec), no lag/cumsum window passes.
    Boundary semantics differ from the islands twin: an event at
    EXACTLY gap distance starts a new session (session extension needs
    next_start < current_end, strictly), and session_end = last_ts +
    gap — the oracle mirrors both. Otherwise matches
    sessionize_events_batch."""
    ev = load(spark, sf, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(14,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@register(
    "cumulative_customer_revenue",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
    FROM orders
    """,
)
def cumulative_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Running per-customer order total — explicit ROWS frame, decimal-
    exact accumulation; partitions by customer (no global sort)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load(spark, sf, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


@register(
    "pivot_event_counts",
    """
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
           COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
           COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
    FROM events GROUP BY 1
    """,
)
def pivot_events(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot (long → wide) with an explicit value list — the explicit
    list keeps the schema static, so no extra distinct-values pass and
    the plan is a single partial-aggregated shuffle."""
    ev = load(spark, sf, "events")
    return (
        ev.groupBy(F.col("ts").cast("date").cast("string").alias("day"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


# ---------------------------------------------------------------------------
# Reference-parity operators (SURVEY.md §2.3/2.4/2.6)
# ---------------------------------------------------------------------------


@register(
    "copy_projection",
    """
    SELECT c_custkey AS id,
           upper(c_name) AS name_upper,
           concat(upper(substr(c_name, 1, 1)), substr(c_name, 2)) AS name_firstupper,
           lower(c_mktsegment) AS segment,
           coalesce(nullif(c_mktsegment, ''), 'NONE') AS segment_or_default,
           CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal
    FROM customer
    """,
)
def copy_projection(spark: SparkSession, sf: str) -> DataFrame:
    """CopyCSV parity: 1:1 column mapping + transformer chain
    (LowerOrUpper upper/firstupper/lower, default-value substitution —
    reference ``usecases/copy/CopyCSVTest.scala``; defaults per
    ``helpers/ProcessorHelpers.scala:124-139``)."""
    c = load(spark, sf, "customer")
    return c.select(
        F.col("c_custkey").alias("id"),
        F.upper("c_name").alias("name_upper"),
        F.concat(
            F.upper(F.substring("c_name", 1, 1)), F.expr("substring(c_name, 2)")
        ).alias("name_firstupper"),
        F.lower("c_mktsegment").alias("segment"),
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("")), F.lit("NONE")
        ).alias("segment_or_default"),
        _m("c_acctbal").cast("double").alias("acctbal"),
    )


@register(
    "filter_limit",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity < 10 AND l_discount > 0.03
    ORDER BY l_orderkey, l_linenumber
    LIMIT 100
    """,
)
def filter_limit(spark: SparkSession, sf: str) -> DataFrame:
    """`filter` attribute + `seq max` row cap (SURVEY §2.3). The ORDER BY
    makes the LIMIT set deterministic; both predicates push to parquet."""
    return (
        load(spark, sf, "lineitem")
        .filter((F.col("l_quantity") < 10) & (F.col("l_discount") > 0.03))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(100)
    )


@register(
    "row_align_merge",
    """
    WITH a AS (SELECT c_custkey, c_name,
                      row_number() OVER (ORDER BY c_custkey) - 1 AS rn FROM customer),
         b AS (SELECT s_suppkey, s_name,
                      row_number() OVER (ORDER BY s_suppkey) - 1 AS rn FROM supplier)
    SELECT a.rn AS rn, a.c_custkey AS c_custkey, a.c_name AS c_name,
           b.s_suppkey AS s_suppkey, b.s_name AS s_name
    FROM a JOIN b USING (rn)
    """,
)
def row_align(spark: SparkSession, sf: str) -> DataFrame:
    """Positional merge of two sources (reference RecipeWorker row loop,
    ``RecipeWorker.scala:332-394``): zip row i with row i, stop at the
    shorter side. Distributed row indexing — see windows.row_index."""
    cust = load(spark, sf, "customer").select("c_custkey", "c_name")
    supp = load(spark, sf, "supplier").select("s_suppkey", "s_name")
    out = J.row_aligned_merge(cust, supp, ["c_custkey"], ["s_suppkey"], "rn")
    return out.select("rn", "c_custkey", "c_name", "s_suppkey", "s_name")


@register(
    "mapping_key_join",
    """
    SELECT o_orderkey, o_totalprice, c_name,
           coalesce(c_mktsegment, 'UNKNOWN') AS segment
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    """,
)
def key_join(spark: SparkSession, sf: str) -> DataFrame:
    """Mapping-key lookup ≡ equi left-join (reference
    ``MappingOneToOneWorker.scala:232-287``); join strategy left to AQE
    (the lookup side scales with the data)."""
    orders = load(spark, sf, "orders")
    cust = load(spark, sf, "customer").withColumnRenamed("c_custkey", "o_custkey")
    return J.mapping_key_join(orders, cust, "o_custkey").select(
        "o_orderkey",
        "o_totalprice",
        "c_name",
        F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"),
    )


@register(
    "union_concat",
    """
    SELECT c_name AS name, 'customer' AS src FROM customer
    UNION ALL
    SELECT s_name AS name, 'supplier' AS src FROM supplier
    """,
)
def union_concat(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-source concat into one target (reference multi-source
    recipes, e.g. ``usecases/merge/MergeTwoCSV.scala``)."""
    c = load(spark, sf, "customer").select(
        F.col("c_name").alias("name"), F.lit("customer").alias("src")
    )
    s = load(spark, sf, "supplier").select(
        F.col("s_name").alias("name"), F.lit("supplier").alias("src")
    )
    return c.unionByName(s)


@register(
    "dedup_unique_write",
    """
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS _rk
      FROM orders) WHERE _rk = 1
    """,
)
def dedup_unique(spark: SparkSession, sf: str) -> DataFrame:
    """Write-side unique-column dedup (reference
    ``BaseWriterFilterWorker.removeDuplicateRows``): first row per unique
    key survives, under an explicit deterministic order."""
    return D.dedup_exact(
        load(spark, sf, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
        unique_cols=["o_custkey"],
        keep_order=["o_orderkey"],
    )


@register(
    "fk_key_remap",
    """
    WITH km AS (SELECT n_nationkey AS old_key,
                       1000 + row_number() OVER (ORDER BY n_nationkey) AS new_key
                FROM nation)
    SELECT c_custkey, c_name, km.new_key AS c_nationkey_new
    FROM customer LEFT JOIN km ON c_nationkey = km.old_key
    """,
)
def fk_remap(spark: SparkSession, sf: str) -> DataFrame:
    """Auto-increment FK remap (reference FetchForeignKeyValue +
    AutoIncrementValueBuffer): parent writes generate new keys; the
    (old→new) map is joined against the child's FK column. Here the
    'generated' key is 1000 + write-order row number."""
    nation = load(spark, sf, "nation").select("n_nationkey")
    km = row_index(nation, ["n_nationkey"], "new_key", start=1001).select(
        F.col("n_nationkey").alias("old_key"), "new_key"
    )
    child = load(spark, sf, "customer").select("c_custkey", "c_name", "c_nationkey")
    out = J.remap_foreign_keys(child, km, "c_nationkey")
    return out.select(
        "c_custkey", "c_name", F.col("c_nationkey").alias("c_nationkey_new")
    )


# ---------------------------------------------------------------------------
# Profiling (SURVEY.md §2.5)
# ---------------------------------------------------------------------------


@register(
    "stats_numeric_profile",
    """
    SELECT 'l_quantity' AS col_name, COUNT(l_quantity) AS n,
           COUNT(CASE WHEN l_quantity IS NULL THEN 1 END) AS n_null,
           CAST(MIN(l_quantity) AS DOUBLE) AS min_v,
           CAST(MAX(l_quantity) AS DOUBLE) AS max_v,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) / COUNT(l_quantity) AS mean_v
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', COUNT(l_extendedprice),
           COUNT(CASE WHEN l_extendedprice IS NULL THEN 1 END),
           CAST(MIN(l_extendedprice) AS DOUBLE),
           CAST(MAX(l_extendedprice) AS DOUBLE),
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) / COUNT(l_extendedprice)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', COUNT(l_discount),
           COUNT(CASE WHEN l_discount IS NULL THEN 1 END),
           CAST(MIN(l_discount) AS DOUBLE),
           CAST(MAX(l_discount) AS DOUBLE),
           CAST(SUM(CAST(l_discount AS DECIMAL(38,4))) AS DOUBLE) / COUNT(l_discount)
    FROM lineitem
    """,
)
def stats_numeric(spark: SparkSession, sf: str) -> DataFrame:
    """NumericAnalyzer parity (``analyzer/NumericAnalyzer.scala:48-103``):
    count/min/max/mean + null counter per column."""
    return S.numeric_profile(
        load(spark, sf, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount"],
    )


@register(
    "stats_string_profile",
    """
    SELECT 'c_name' AS col_name, COUNT(c_name) AS n,
           COUNT(CASE WHEN c_name IS NULL THEN 1 END) AS n_null,
           MIN(length(c_name)) AS min_len, MAX(length(c_name)) AS max_len,
           CAST(SUM(CAST(length(c_name) AS DECIMAL(20,0))) AS DOUBLE) / COUNT(c_name) AS mean_len
    FROM customer
    UNION ALL
    SELECT 'c_mktsegment', COUNT(c_mktsegment),
           COUNT(CASE WHEN c_mktsegment IS NULL THEN 1 END),
           MIN(length(c_mktsegment)), MAX(length(c_mktsegment)),
           CAST(SUM(CAST(length(c_mktsegment) AS DECIMAL(20,0))) AS DOUBLE) / COUNT(c_mktsegment)
    FROM customer
    """,
)
def stats_string(spark: SparkSession, sf: str) -> DataFrame:
    """StringAnalyzer parity (``analyzer/StringAnalyzer.scala:44-100``):
    the numeric stats over string length."""
    return S.string_profile(load(spark, sf, "customer"), ["c_name", "c_mktsegment"])


# ---------------------------------------------------------------------------
# Training-data pipeline: dedup on documents
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_groups",
    """
    SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_hash,
           COUNT(*) AS n_dups, MIN(doc_id) AS canonical_id
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_groups(spark: SparkSession, sf: str) -> DataFrame:
    """Exact content dedup: md5 over normalized text, one group per
    distinct content, canonical = min doc_id. Cheapest 100 TB dedup pass."""
    docs = load(spark, sf, "documents")
    text = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return (
        docs.select(F.md5(text).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("canonical_id"))
    )


@register(
    "dedup_ngram_jaccard",
    """
    WITH sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 8) AS shingle
                FROM documents,
                     UNNEST(range(1, greatest(length(text) - 6, 2))) AS t(i)),
         sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS nc
                   FROM sh a JOIN sh b USING (shingle)
                   WHERE a.doc_id < b.doc_id
                   GROUP BY 1, 2)
    SELECT id_a, id_b,
           round(CAST(nc AS DOUBLE) / (sa.n + sb.n - nc), 6) AS jaccard
    FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
    WHERE CAST(nc AS DOUBLE) / (sa.n + sb.n - nc) >= 0.6
    """,
)
def dedup_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup pairs by exact 8-char-shingle Jaccard ≥ 0.6 (inverted-
    index self-join; see operators/dedup.ngram_jaccard_pairs). Every
    stage is exact — bit-identical to the DuckDB oracle."""
    return D.ngram_jaccard_pairs(
        load(spark, sf, "documents"), "text", "doc_id", k=8, threshold=0.6
    )


@register("dedup_ngram_jaccard_fast", None, bench=True)  # OPH screen → rows-only
def dedup_jaccard_fast(spark: SparkSession, sf: str) -> DataFrame:
    """Production n-gram Jaccard: identical plan to dedup_ngram_jaccard
    plus the OPH bit-signature pre-screen (operators/dedup.py), which
    prunes 1.97 M candidates to 74 k with 8 longs a side before any
    token array moves (the adaptive est ≥ t − 3.3/√both cutoff; a
    fixed t−0.30 cutoff passed 320 k) — measured 8.9 s → 5.4 s
    warm at sf0.1 on the low-entropy corpus that defeats prefix
    filtering. The screen is probabilistic (≤2e-5 drop risk at the
    exact threshold for t=0.6, quantified inline), so
    this twin is rows-only; the exact variant above carries the oracle
    and an on/off parity test pins their agreement on the driver
    corpus. The rarity order comes from a SAMPLED df rank
    (operators/dedup.py): a 50%-floor deterministic sample + capped
    broadcast table instead of a shuffled rank join over every
    posting - exact under any consistent order, pinned against brute
    force in tests/test_dedup_fast.py; floor calibrated on the x8
    near-dup smoke leg (SCALE.md).
    The production path also engages the df-2000 candidate cap
    (a shingle shared by d docs expands to O(d²) pairs; max prefix df
    measured at sf0.1 is 304, so the cap is inert here and bites only
    on boilerplate-heavy shards at scale — with logged truncation,
    never silently)."""
    return D.ngram_jaccard_pairs(
        load(spark, sf, "documents"), "text", "doc_id",
        k=8, threshold=0.6, bit_screen=True, max_shingle_df=2000,
    )


_SPANS_ORACLE = r"""
    WITH words AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      FROM documents
    ), eligible AS (
      SELECT doc_id, ws, len(ws) AS nw FROM words WHERE len(ws) >= 10
    ), spans AS (
      SELECT doc_id,
             md5(array_to_string(ws[CAST(i AS INT):CAST(i + 9 AS INT)], ' ')) AS win_hash
      FROM eligible, UNNEST(range(1, nw - 10 + 2{step})) AS t(i)
    )
    SELECT win_hash, COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS canonical_id
    FROM spans GROUP BY win_hash HAVING COUNT(*) > 1
"""


@register("repeated_ngram_spans", _SPANS_ORACLE.format(step=""))
def repeated_ngram_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-substring dedup signal (Lee et al. 2022 reduced to fixed
    windows): every overlapping 10-word window whose content repeats
    anywhere in the corpus, with occurrence/document counts. Map-side
    window hashing + ONE partial-aggregated hash shuffle — the exchange
    carries distinct hashes, not the corpus word stream
    (operators/dedup.repeated_spans)."""
    return D.repeated_spans(
        load(spark, sf, "documents"), "text", "doc_id", w=10, step=1
    )


@register("dedup_word_blocks", _SPANS_ORACLE.format(step=", 10"))
def dedup_word_blocks(spark: SparkSession, sf: str) -> DataFrame:
    """Non-overlapping 10-word block dedup — the CCNet paragraph-dedup
    analogue for text without paragraph structure (same plan as
    repeated_ngram_spans at 1/10th the span volume)."""
    return D.repeated_spans(
        load(spark, sf, "documents"), "text", "doc_id", w=10, step=10
    )


# ---------------------------------------------------------------------------
# Transformer-registry parity (SURVEY.md §2.7) — built via functions.build
# ---------------------------------------------------------------------------

from .functions import build as T  # noqa: E402
from .functions.transformers import drupal_vancode, sequential_id  # noqa: E402


@register(
    "t_string_chain",
    """
    SELECT p_partkey,
           concat('[', concat_ws('~', p_brand, p_type), ']') AS branded,
           trim(split_part(p_type, ' ', 1)) AS type_head,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_devoweled,
           lower(p_brand) AS brand_lower,
           upper(p_name) AS name_upper,
           concat(upper(substr(p_name, 1, 1)), substr(p_name, 2)) AS name_firstupper,
           '' AS empty_marker,
           CAST(NULL AS VARCHAR) AS nullified
    FROM part
    """,
)
def t_string_chain(spark: SparkSession, sf: str) -> DataFrame:
    """Concat / Split / Replace / LowerOrUpper / EmptyString / Nullify
    transformer parity over `part`."""
    p = load(spark, sf, "part")
    branded = T("concat", [F.col("p_brand"), F.col("p_type")],
                separator="~", prefix="[", suffix="]")[0]
    type_head = T("split", [F.col("p_type")], pattern=" ", selected=[0])[0]
    devoweled = T("replace", [F.col("p_name")], search=["[aeiou]"], replace="_")[0]
    return p.select(
        "p_partkey",
        branded.alias("branded"),
        type_head.alias("type_head"),
        devoweled.alias("name_devoweled"),
        T("lower_or_upper", [F.col("p_brand")], perform="lower")[0].alias("brand_lower"),
        T("lower_or_upper", [F.col("p_name")], perform="upper")[0].alias("name_upper"),
        T("lower_or_upper", [F.col("p_name")], perform="firstupper")[0].alias("name_firstupper"),
        T("empty_string", [])[0].alias("empty_marker"),
        T("nullify", [])[0].cast("string").alias("nullified"),
    )


@register(
    "t_overwrite_cast",
    """
    SELECT n_nationkey,
           'fixed' AS fixed_str,
           CAST(42 AS BIGINT) AS fixed_long,
           CAST(DATE '2020-01-02' AS VARCHAR) AS fixed_date,
           CAST(n_nationkey AS VARCHAR) AS key_str,
           CAST(concat(CAST(n_nationkey AS VARCHAR), '7') AS BIGINT) AS key7_long,
           CAST(0 AS BIGINT) AS default_long,
           '1970-01-01 00:00:00' AS default_datetime,
           '1970-01-01' AS default_date,
           '00:00:00' AS default_time
    FROM nation
    """,
)
def t_overwrite_cast(spark: SparkSession, sf: str) -> DataFrame:
    """Overwrite (typed constants + the reference's PER-TYPE defaults
    when value is missing, Overwrite.scala:44-52) + CastStringToLong
    parity."""
    n = load(spark, sf, "nation")
    key_str = F.col("n_nationkey").cast("string")
    return n.select(
        "n_nationkey",
        T("overwrite", [], type="string", value="fixed")[0].alias("fixed_str"),
        T("overwrite", [], type="long", value="42")[0].alias("fixed_long"),
        # date → string for the compare: DuckDB's pandas bridge renders
        # DATE as midnight datetime, so raw DATE columns never hash-match.
        T("overwrite", [], type="date", value="2020-01-02")[0]
        .cast("string")
        .alias("fixed_date"),
        key_str.alias("key_str"),
        T("cast_string_to_long", [F.concat(key_str, F.lit("7"))])[0].alias("key7_long"),
        # no value → typed defaults (epoch datetime/date, zero, midnight)
        T("overwrite", [], type="long")[0].alias("default_long"),
        F.date_format(T("overwrite", [], type="datetime")[0],
                      "yyyy-MM-dd HH:mm:ss").alias("default_datetime"),
        T("overwrite", [], type="date")[0].cast("string").alias("default_date"),
        T("overwrite", [], type="time")[0].alias("default_time"),
    )


@register(
    "t_datetime_chain",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS dt_str,
           epoch_ms(o_orderdate) AS epoch_millis,
           epoch_ms(o_orderdate) // 1000 AS epoch_secs,
           (epoch_ms(o_orderdate) // 1000) * 1000 AS epoch_millis_again,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
           strftime(o_orderdate, '%H:%M:%S') AS order_time
    FROM orders
    """,
)
def t_datetime_chain(spark: SparkSession, sf: str) -> DataFrame:
    """DateValueToString / DateConverter / TimestampCalibrate /
    DateTypeConverter parity over orders.o_orderdate."""
    o = load(spark, sf, "orders")
    # Parquet ms-timestamps surface as TIMESTAMP_NTZ; relabel as LTZ
    # (session TZ is UTC, so the instant is unchanged) for epoch math.
    ts = F.col("o_orderdate").cast("timestamp")
    millis = F.unix_millis(ts)
    secs = T("timestamp_calibrate", [millis], perform="reduce")[0]
    return o.select(
        "o_orderkey",
        T("date_value_to_string", [ts], format="yyyy-MM-dd HH:mm:ss")[0].alias("dt_str"),
        millis.alias("epoch_millis"),
        secs.alias("epoch_secs"),
        T("timestamp_calibrate", [secs], perform="add")[0].alias("epoch_millis_again"),
        T("date_type_converter", [ts], target="date")[0]
        .cast("string")
        .alias("order_date"),
        T("date_type_converter", [ts], target="time")[0].alias("order_time"),
    )


@register(
    "t_ifthenelse_numeric",
    """
    SELECT l_orderkey, l_linenumber, l_quantity,
           CASE WHEN l_quantity > 25 THEN l_quantity * 2 ELSE l_quantity + 1 END AS adjusted_dec,
           CAST(round(CASE WHEN l_quantity > 25 THEN l_quantity * 2 ELSE l_quantity + 1 END, 0) AS BIGINT) AS adjusted_num,
           greatest(l_quantity, l_extendedprice / 1000, 10.0) AS biggest
    FROM lineitem
    """,
)
def t_ifthenelse(spark: SparkSession, sf: str) -> DataFrame:
    """IfThenElseNumeric (micro-DSL 'x>25' / 'x=x*2' / 'x=x+1') +
    ExtractBiggestValue parity over lineitem."""
    li = load(spark, sf, "lineitem")
    q = F.col("l_quantity")
    dec = T("if_then_else_numeric", [q], condition="x>25",
            then="x=x*2", otherwise="x=x+1", format="dec")[0]
    num = T("if_then_else_numeric", [q], condition="x>25",
            then="x=x*2", otherwise="x=x+1", format="num")[0]
    biggest = T("extract_biggest_value",
                [q, F.col("l_extendedprice") / 1000, F.lit(10.0)])[0]
    return li.select(
        "l_orderkey", "l_linenumber", "l_quantity",
        dec.alias("adjusted_dec"), num.alias("adjusted_num"),
        biggest.alias("biggest"),
    )


@register(
    "t_regex_json",
    """
    SELECT p_partkey,
           concat_ws('-', regexp_extract(p_name, 'PART_([0-9]+)', 1),
                          regexp_extract(p_name, '(PART)_', 1)) AS extracted,
           to_json(struct_pack(key := p_partkey, brand := p_brand)) AS merged_json,
           to_json(struct_pack(value := p_size)) AS single_json
    FROM part
    """,
)
def t_regex_json(spark: SparkSession, sf: str) -> DataFrame:
    """MergeAndExtractByRegEx / MergeToJson / ToJson parity over part."""
    p = load(spark, sf, "part")
    extracted = T("merge_and_extract_by_regex", [F.col("p_name")],
                  regexp=r"PART_([0-9]+)|(PART)_", groups=[1, 2], filler="-")[0]
    merged = T("merge_to_json", [F.col("p_partkey"), F.col("p_brand")],
               labels=["key", "brand"])[0]
    single = T("to_json", [F.col("p_size")], label="value")[0]
    return p.select(
        "p_partkey",
        extracted.alias("extracted"),
        merged.alias("merged_json"),
        single.alias("single_json"),
    )


@register(
    "t_sequential_id",
    """
    SELECT s_suppkey, s_name,
           99 + row_number() OVER (ORDER BY s_suppkey) AS seq_id
    FROM supplier
    """,
)
def t_sequential_id(spark: SparkSession, sf: str) -> DataFrame:
    """IDTransformer(type=long) parity: sequential id over an explicit
    total order, start=100 (reference: central counter actor,
    ``generators/IDGenerator.scala:40-100``)."""
    s = load(spark, sf, "supplier").select("s_suppkey", "s_name")
    return sequential_id(s, ["s_suppkey"], start=100, out_col="seq_id")


@register(
    "t_drupal_vancode",
    """
    SELECT o_orderkey AS comment_id, o_custkey AS article,
           concat('0', substr('0123456789abcdefghijklmnopqrstuvwxyz',
                  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS INT) + 1, 1),
                  '/') AS vancode
    FROM orders
    WHERE o_custkey < 1000
    QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) <= 30
    """,
)
def t_vancode(spark: SparkSession, sf: str) -> DataFrame:
    """DrupalVanCodeTransformer parity (top-level comments): base-36
    sibling numbering per article, zero-padded to 2, '/'-terminated.
    Threaded (parented) numbering is covered by unit tests. The input
    caps to a customer subset: the op exists to prove the sequential
    generator's semantics (an inherently Python applyInPandas path),
    not to push the whole orders table through per-group pandas."""
    o = load(spark, sf, "orders").filter(F.col("o_custkey") < 1000)
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    comments = (
        o.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 30)  # stay in single-b36-digit range
        .select(
            F.col("o_orderkey").alias("comment_id"),
            F.col("o_custkey").alias("article"),
            F.lit(0).cast("long").alias("parent"),
        )
    )
    out = drupal_vancode(comments, "comment_id", "article", "parent")
    return out.select("comment_id", "article", "vancode")


# ---------------------------------------------------------------------------
# Training-data pipeline: MinHash-LSH, text analysis, similarity search
# ---------------------------------------------------------------------------

from .operators import similarity as SIM  # noqa: E402
from .operators import text as TXT  # noqa: E402


from .operators.dedup import MINHASH_P, minhash_coefficients  # noqa: E402

_MINHASH_COEF_VALUES = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_coefficients(16))
)


@register(
    "dedup_minhash_lsh",
    f"""
    WITH sh AS (SELECT doc_id, substr(text, CAST(i AS INT), 8) AS shingle
                FROM documents,
                     UNNEST(range(1, greatest(length(text) - 6, 2))) AS t(i)),
         hsh AS (SELECT doc_id,
                        CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT)
                          % {MINHASH_P} AS h
                 FROM sh),
         coef(seed, a, b) AS (VALUES {_MINHASH_COEF_VALUES}),
         mh AS (SELECT doc_id, seed,
                       MIN((a * h + b) % {MINHASH_P}) AS minhash
                FROM hsh CROSS JOIN coef GROUP BY doc_id, seed),
         bands AS (SELECT doc_id, CAST(seed // 4 AS INT) AS band,
                          md5(string_agg(CAST(minhash AS VARCHAR), ','
                                         ORDER BY seed)) AS band_key
                   FROM mh GROUP BY doc_id, seed // 4)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b USING (band, band_key)
    WHERE a.doc_id < b.doc_id
    """,
)
def dedup_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash(16 permutations)+LSH(4 bands) candidate near-dup pairs —
    one md5 per shingle, universal-hash permutations, map-side partial
    min, bounded band join. md5 keeps the signature bit-identical to the
    DuckDB oracle; the benched production path is the xxhash64 variant
    below (same plan, cheaper base hash)."""
    return D.minhash_lsh_pairs(
        load(spark, sf, "documents"), "text", "doc_id", k=8, num_hashes=16, bands=4
    )


@register("dedup_minhash_lsh_fast", None, bench=True)  # hash not portable → rows-only
def dedup_minhash_fast(spark: SparkSession, sf: str) -> DataFrame:
    """Production MinHash+LSH: identical plan to dedup_minhash_lsh but
    the per-shingle base hash is JVM-native xxhash64 (no md5 hex-string
    round-trip — ~2× cheaper on the corpus scan, measured at sf0.1).
    xxhash64 has no DuckDB twin, so correctness is covered by (a) the
    md5 variant's oracle match on the same plan and (b) the recall test
    in tests/test_dedup_fast.py. The production path also engages the
    max_bucket_df valve (256): a boilerplate band key at corpus scale
    expands O(d²) pairs; at the test SFs every bucket is far below the
    cap, so the output is bit-identical to the uncapped twin (pinned by
    tests/test_dedup_fast.py::test_bucket_cap_parity_below_cap)."""
    return D.minhash_lsh_pairs(
        load(spark, sf, "documents"), "text", "doc_id",
        k=8, num_hashes=16, bands=4, hash_fn="xxhash64",
        max_bucket_df=256,
    )


@register(
    "dedup_simhash",
    """
    WITH tok AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(t.tok), 1, 15)) AS BIGINT) AS h
      FROM documents,
           UNNEST(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t(tok)),
    sums AS (
      SELECT doc_id,
             {sums}
      FROM tok GROUP BY doc_id)
    SELECT doc_id,
           CAST({fp} AS BIGINT) AS simhash
    FROM sums
    """.format(
        sums=",\n             ".join(
            f"SUM(((h >> {b}) & 1) * 2 - 1) AS s{b}" for b in range(16)
        ),
        fp=" + ".join(
            f"(CASE WHEN s{b} >= 0 THEN {1 << b} ELSE 0 END)" for b in range(16)
        ),
    ),
)
def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash fingerprint per document (16-bit, token-frequency
    weighted) — see operators/dedup.simhash_fingerprints."""
    return D.simhash_fingerprints(load(spark, sf, "documents"), "text", "doc_id")


@register(
    "dedup_simhash_pairs",
    """
    WITH tok AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(t.tok), 1, 15)) AS BIGINT) AS h
      FROM documents,
           UNNEST(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t(tok)),
    sums AS (SELECT doc_id, {sums} FROM tok GROUP BY doc_id),
    sig AS (SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM sums),
    banded AS (
      SELECT doc_id, simhash, b.band,
             (simhash >> (CAST(b.band AS INT) * 4)) & 15 AS band_key
      FROM sig, UNNEST(range(0, 4)) AS b(band))
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM banded a JOIN banded b USING (band, band_key)
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.simhash, b.simhash)) <= 3
    """.format(
        sums=", ".join(
            f"SUM(((h >> {b}) & 1) * 2 - 1) AS s{b}" for b in range(16)
        ),
        fp=" + ".join(
            f"(CASE WHEN s{b} >= 0 THEN {1 << b} ELSE 0 END)" for b in range(16)
        ),
    ),
    bench=True,
)
def dedup_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup pairs: 4-bit LSH bands → candidate join →
    hamming ≤ 3 via bit_count(xor) (operators/dedup.simhash_near_dup_pairs)."""
    return D.simhash_near_dup_pairs(load(spark, sf, "documents"), "text", "doc_id")


def _clean_html_oracle() -> str:
    """Build the DuckDB twin of operators/text.clean_text over the same
    wrapped input (DuckDB regexp_replace needs the 'g' flag; Spark's is
    global by default)."""
    from .operators.text import HTML_ENTITIES

    c = "concat('<p class=\"x\">', text, '</p> &amp; <b>bold</b>', chr(7))"
    c = f"regexp_replace({c}, '<[^>]+>', ' ', 'g')"
    for ent, ch in HTML_ENTITIES:
        sql_ch = ch.replace("'", "''")
        c = f"regexp_replace({c}, '{ent}', '{sql_ch}', 'g')"
    c = f"regexp_replace({c}, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g')"
    c = f"trim(regexp_replace({c}, '\\s+', ' ', 'g'))"
    return f"""
    SELECT doc_id, {c} AS cleaned, length({c}) AS clean_len
    FROM documents
    """


@register("text_clean_html", _clean_html_oracle())
def text_clean_html(spark: SparkSession, sf: str) -> DataFrame:
    """Markup-stripping cleaner (operators/text.clean_text) over the
    corpus wrapped in synthetic HTML + entities + a control char: tags
    out, entities decoded in fixed order (&amp; last), control chars
    dropped, whitespace collapsed. Pure map pass, bit-exact vs the SQL
    twin."""
    docs = load(spark, sf, "documents")
    wrapped = F.concat(
        F.lit('<p class="x">'),
        F.col("text"),
        F.lit("</p> &amp; <b>bold</b>\x07"),
    )
    cleaned = TXT.clean_text(wrapped)
    return docs.select(
        "doc_id",
        cleaned.alias("cleaned"),
        F.length(cleaned).alias("clean_len"),
    )


@register(
    "text_quality",
    """
    SELECT doc_id,
           length(text) AS n_chars,
           len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
           len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_bpe_tokens,
           list_sum(list_transform(regexp_split_to_array(trim(text), '\\s+'),
                                   x -> CAST(length(x) AS DOUBLE)))
             / len(regexp_split_to_array(trim(text), '\\s+')) AS avg_token_len,
           round(CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x IN ('the','and','of','to','in','a','is','it','for','on'))) AS DOUBLE)
             / len(regexp_split_to_array(lower(trim(text)), '\\s+')), 6) AS stopword_ratio,
           round(CAST(len(regexp_extract_all(text, '[.,;:!?''"()\\[\\]{}-]')) AS DOUBLE)
             / length(text), 6) AS punct_ratio
    FROM documents
    """,
    bench=True,
)
def text_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Quality features per document (length / tokens / BPE-ish tokens /
    stopword & punctuation ratios) — pure map, no shuffle."""
    return TXT.quality_features(load(spark, sf, "documents"))


@register(
    "lang_id",
    """
    WITH scored AS (
      SELECT doc_id,
             len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist|nicht)\\b')) AS score_de,
             len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|it)\\b')) AS score_en,
             len(regexp_extract_all(lower(text), '\\b(el|la|los|de|que|y|en)\\b')) AS score_es,
             len(regexp_extract_all(lower(text), '\\b(le|la|les|et|est|dans)\\b')) AS score_fr
      FROM documents)
    SELECT doc_id, score_de, score_en, score_es, score_fr,
           CASE WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
                WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
                WHEN score_es >= score_fr THEN 'es'
                ELSE 'fr' END AS predicted_lang
    FROM scored
    """,
    bench=True,
)
def lang_id(spark: SparkSession, sf: str) -> DataFrame:
    """Marker-word language ID with deterministic alphabetical tiebreak."""
    return TXT.predict_language(load(spark, sf, "documents"))


@register(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
           substr(md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))), 1, 4) AS shard_key
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Normalized md5 fingerprint + shard key per document."""
    return TXT.fingerprint(load(spark, sf, "documents"))


@register(
    "pipeline_clean_corpus",
    """
    WITH quality AS (
      SELECT doc_id, text,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
      FROM documents
      WHERE lang = 'en'),
    kept AS (SELECT * FROM quality WHERE n_tokens >= 5),
    canonical AS (
      SELECT MIN(doc_id) AS doc_id
      FROM kept
      GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))
    SELECT k.doc_id, k.n_tokens
    FROM kept k JOIN canonical c ON k.doc_id = c.doc_id
    """,
)
def pipeline_clean_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """Composite training-data pipeline: language filter → quality gate
    (token count) → exact-dedup keeping the canonical (min-id) doc.
    Each stage is one of the registry's operators chained — the shape a
    100 TB pre-training cleanup run takes (filters push to the scan;
    dedup is one hash shuffle on the content digest)."""
    docs = load(spark, sf, "documents").filter(F.col("lang") == "en")
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    kept = docs.select("doc_id", "text", toks.alias("n_tokens")).filter(
        F.col("n_tokens") >= 5
    )
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    canonical = (
        kept.select(F.md5(norm).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return kept.join(canonical, "doc_id", "left_semi").select("doc_id", "n_tokens")


@register(
    "ann_cosine_topk",
    """
    WITH norms AS (
      SELECT vec_id,
             SUM(CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000000.0 + 0.5) AS DECIMAL(19,0))
               * CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000000.0 + 0.5) AS DECIMAL(19,0))) AS n2
      FROM embeddings, UNNEST(range(1, 65)) t(i) GROUP BY vec_id),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             SUM(CAST(floor(CAST(q.embedding[CAST(i AS INT)] AS DOUBLE) * 1000000000.0 + 0.5) AS DECIMAL(19,0))
               * CAST(floor(CAST(c.embedding[CAST(i AS INT)] AS DOUBLE) * 1000000000.0 + 0.5) AS DECIMAL(19,0))) AS dot
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id,
           UNNEST(range(1, 65)) t(i)
      WHERE q.vec_id < 5 GROUP BY 1, 2)
    SELECT query_id, cand_id, cosine, rank FROM (
      SELECT query_id, cand_id,
             round(CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))), 9) AS cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))), 9) DESC,
                                cand_id) AS rank
      FROM dots d JOIN norms nq ON d.query_id = nq.vec_id
                  JOIN norms nc ON d.cand_id = nc.vec_id)
    WHERE rank <= 10
    """,
)
def ann_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-10 for query vectors (vec_id < 5) —
    exactness baseline for the LSH path. Decimal-exact arithmetic for
    oracle bit-stability; the benched production twin below uses double
    arithmetic (same plan, half the scan cost)."""
    emb = load(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return SIM.brute_force_topk(emb, queries, k=10)


@register("ann_cosine_topk_fast", None, bench=True)  # FP ULP drift → rows-only
def ann_topk_fast(spark: SparkSession, sf: str) -> DataFrame:
    """Production brute-force cosine top-10: identical plan to
    ann_cosine_topk but double-arithmetic dot products (the decimal fold
    exists only for oracle bit-stability). Ranking agreement with the
    exact variant is asserted in tests/test_dedup_fast.py."""
    emb = load(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return SIM.brute_force_topk(emb, queries, k=10, arith="double")


@register(
    "multimodal_features",
    """
    SELECT doc_id AS asset_id,
           'image' AS modality,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS digest,
           16 + CAST(concat('0x', substr(md5(text), 1, 2)) AS INT) % 64 AS width,
           16 + CAST(concat('0x', substr(md5(text), 3, 2)) AS INT) % 64 AS height,
           0.0 AS duration_s,
           list_transform(range(0, 8),
             i -> round(CAST(concat('0x', substr(md5(text), CAST(2*i+1 AS INT), 2)) AS INT) / 255.0, 6)
           ) AS feature
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal plumbing end-to-end: documents.text as an opaque
    binary payload → Arrow-batched mapInPandas decode (deterministic
    fake — no codecs in this env; see operators/multimodal.decode_stub)
    → typed feature rows. The oracle reproduces the md5-derived fake,
    proving schema/batch/partition behavior, not codec output."""
    from .operators.multimodal import extract_features

    docs = load(spark, sf, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    return extract_features(
        docs, "payload", "doc_id", modality="image", deterministic_fake=True
    )


@register("embedding_kmeans", None)  # iterative, float-order-sensitive → rows-only
def embedding_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embeddings table: per-cluster
    (n, sse, mean_d2) after ≤5 deterministic iterations (k lowest-id
    init, first-wins ties). Assignment is a zero-shuffle map stage
    against broadcast-literal centroids; each iteration's only exchange
    is the partial-aggregated per-cluster mean (operators/clustering).
    No SQL oracle: an 8-iteration 64-dim unrolled recursive CTE is not
    expressible portably — determinism is asserted in pytest instead."""
    from .operators.clustering import cluster_profile, kmeans

    emb = load(spark, sf, "embeddings")
    assigned, _, _ = kmeans(emb, k=8, dim=64, max_iter=5)
    return cluster_profile(assigned)


@register("ann_ivf_topk", None)  # approximate (recall<1) → rows-only check
def ann_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF approximate top-k: KMeans coarse quantizer (trained on a
    sample), queries probe their 4 nearest of 8 cells. The inverted
    file IS the partitioning — see operators/similarity.ivf_topk."""
    emb = load(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return SIM.ivf_topk(emb, queries, k=10, n_cells=8, n_probe=4)


@register("ann_lsh_topk", None)  # approximate (recall<1) → rows-only check
def ann_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-table, multi-probe LSH approximate top-k (the 100 TB
    scale path; the brute-force query above is its exactness baseline).
    Deterministic hyperplanes from seed=42; 4 tables × 6 planes, and
    each query probes its exact bucket plus the 7 CHEAPEST flip sets
    per table (Lv et al. cost order — flip sets ranked by the summed
    |dot| of the flipped planes) — the probe lever multiplies only the
    broadcast query fan-out, never the corpus index, and lifted
    recall@10 from 0.14 (no probes) to 0.72/0.70 (sf0.01/sf0.1; the
    cost order beat a fixed bit-subset order's 0.66 at sf0.01 on the
    same budget). Floors pinned in
    tests/test_ann_recall.py + tools/verify_sweep.py."""
    emb = load(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return SIM.lsh_bucket_topk(
        emb, queries, k=10, n_planes=6, n_tables=4, n_probes=8
    )


@register("ann_pq_topk", None)  # approximate shortlist → rows-only
def ann_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ADC top-k with exact refine
    (operators/pq.py): 16 sub-codes of 4 bits replace each 64-dim
    vector (32× footprint cut — the lever that makes a 100 TB
    embedding corpus RAM-scannable), each query scores candidates
    through an m·ksub dot-product lookup table (no float vectors ride
    the scoring join), and the top refine·k ADC survivors re-rank by
    TRUE cosine (FAISS IndexRefineFlat pairing; a fixed refine·k-rows
    per-query join, corpus-size-independent). Deterministic codebooks
    (Lloyd's from lowest-id init); refine=20 lifted recall@10 from the
    pure-ADC 0.54/0.44 (sf0.01/sf0.1) to 1.00/0.98 at unchanged scan
    cost — floors pinned in tests/test_ann_recall.py +
    tools/verify_sweep.py; the refine=0 pure-ADC baseline stays
    distortion-pinned in test_pq_adc_score_matches_reconstruction."""
    from .operators import pq as PQ

    emb = load(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    codebooks = PQ.pq_train(emb, m=16, ksub=16, dim=64, max_iter=5)
    return PQ.pq_adc_topk(emb, queries, codebooks, k=10, refine=20)


@register("ann_ivf_pq_topk", None)  # approximate membership → rows-only
def ann_ivf_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ with exact refine — the full production ANN pipeline
    (FAISS-style): coarse k-means cells prune the corpus per query,
    ADC over PQ codes ranks in-cell candidates without touching float
    vectors, and the top refine·k survivors re-rank by TRUE cosine, so
    reported cosines are exact and only membership is approximate.

    refine=20 (measured): with refine=5 the 50-candidate ADC
    shortlist was the binding recall loss as cells grow with corpus
    size (recall 0.84/0.72 at sf0.01/sf0.1); refine=20 lifts it to
    0.88/0.92 at IDENTICAL probe cost — the refine stage is
    refine·k exact dot products per query regardless of corpus size,
    so it's the scale-free lever (probing more cells is not)."""
    from .operators import pq as PQ

    emb = load(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return PQ.ivf_pq_topk(emb, queries, k=10, n_cells=8, n_probe=4, refine=20)


@register(
    "embedding_near_dup",
    """
    WITH norms AS (
      SELECT vec_id, label,
             SUM(CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000000.0 + 0.5) AS DECIMAL(19,0))
               * CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000000.0 + 0.5) AS DECIMAL(19,0))) AS n2
      FROM embeddings, UNNEST(range(1, 65)) t(i) GROUP BY 1, 2),
    dots AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             SUM(CAST(floor(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) * 1000000000.0 + 0.5) AS DECIMAL(19,0))
               * CAST(floor(CAST(b.embedding[CAST(i AS INT)] AS DOUBLE) * 1000000000.0 + 0.5) AS DECIMAL(19,0))) AS dot
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id,
           UNNEST(range(1, 65)) t(i)
      GROUP BY 1, 2)
    SELECT id_a, id_b,
           round(CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 9) AS cosine
    FROM dots d JOIN norms na ON d.id_a = na.vec_id
                JOIN norms nb ON d.id_b = nb.vec_id
    WHERE round(CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 9) >= 0.3
    """,
)
def embedding_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked on `label` (the
    scalable all-pairs pattern: block key keeps the cross product
    partition-local)."""
    emb = load(spark, sf, "embeddings")
    return SIM.blocked_pairs_cosine(emb, "label", threshold=0.3)


# ---------------------------------------------------------------------------
# Additional TPC-H-shaped analytics (q9/q21/q22 adapted to this schema:
# no partsupp table, no receipt/commit dates, no phone column)
# ---------------------------------------------------------------------------


@register(
    "q9_profit_by_nation",
    """
    SELECT supp_nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS supp_nation,
             EXTRACT(year FROM o_orderdate) AS o_year,
             CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))
               - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(0.1 AS DECIMAL(12,2)) AS amount
      FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN part     ON l_partkey = p_partkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%a%')
    GROUP BY supp_nation, o_year
    """,
    bench=True,
)
def q9(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape — product-type profit by supplier nation and year.
    No partsupp table in this schema, so supply cost ≈ 10% of
    p_retailprice (exact decimal arithmetic on both sides). The p_name
    filter pushes into the part scan before the join; nation broadcasts
    (constant-size); the three fact joins are left to AQE."""
    li = load(spark, sf, "lineitem")
    supp = load(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    part = (
        load(spark, sf, "part")
        .filter(F.col("p_name").like("%a%"))
        .select("p_partkey", "p_retailprice")
    )
    orders = load(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    nation = load(spark, sf, "nation").select(
        "n_nationkey", F.col("n_name").alias("supp_nation")
    )
    amount = _m("l_extendedprice") * (F.lit(1) - _m("l_discount")) - _m(
        "p_retailprice"
    ) * _m("l_quantity") * F.lit(0.1).cast(MONEY)
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("supp_nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
    )


@register(
    "q21_sole_supplier_orders",
    """
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier
      JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders ON o_orderkey = l1.l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F' AND n_name = 'NATION_9'
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q21(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape (no receipt/commit dates in this schema, so the
    late-delivery predicate becomes sole-supplier): per NATION_9 supplier,
    count 'F'-order lineitems where that supplier is the ONLY supplier
    on the order. The correlated NOT EXISTS (inequality anti-join — a
    theta join at scale) is rewritten as a per-order distinct-supplier
    count aggregation + equi-join, which shuffles on the natural
    l_orderkey key instead. (Nation names in the driver tables are
    synthetic NATION_N.)"""
    li = load(spark, sf, "lineitem")
    sole = (
        li.groupBy("l_orderkey")
        .agg(F.count_distinct("l_suppkey").alias("_nsupp"))
        .filter(F.col("_nsupp") == 1)
        .select("l_orderkey")
    )
    supp = load(spark, sf, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nation = load(spark, sf, "nation").filter(F.col("n_name") == "NATION_9")
    orders = load(spark, sf, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    return (
        li.select("l_orderkey", "l_suppkey")
        .join(sole, "l_orderkey")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@register(
    "q22_idle_rich_customers",
    """
    WITH thr AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS v
      FROM customer WHERE c_acctbal > 0.0)
    SELECT n_name, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM customer, thr
      JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > thr.v
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY n_name
    """,
)
def q22(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape (no phone column → grouped by nation): customers
    with above-average positive balance and no urgent orders (every
    customer in the driver tables has at least one order, so the
    original no-orders predicate would be vacuous). The scalar subquery
    is a 1-row broadcast cross join; the NOT EXISTS is a left_anti
    equi-join on o_custkey (shuffle-hash, no theta)."""
    cust = load(spark, sf, "customer")
    thr = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (F.sum(_m("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("_thr")
        )
    )
    orders = (
        load(spark, sf, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    nation = load(spark, sf, "nation").select("n_nationkey", "n_name")
    return (
        cust.join(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("_thr"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_m("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


@register(
    "q2_min_cost_supplier",
    """
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS supplycost
      FROM lineitem GROUP BY l_partkey, l_suppkey)
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
           CAST(supplycost AS DOUBLE) AS supplycost
    FROM ps
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE p_type = 'LARGE' AND p_size <= 10 AND r_name = 'EUROPE'
      AND supplycost = (SELECT MIN(ps2.supplycost)
                        FROM ps ps2
                          JOIN supplier s2 ON s2.s_suppkey = ps2.l_suppkey
                          JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
                          JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
                        WHERE ps2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q2(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape adapted to the driver schema (no partsupp table:
    the (part, supplier) catalog is derived from lineitem with
    MIN(l_extendedprice) as the supply cost). The correlated min
    subquery decorrelates to a window MIN over p_partkey computed AFTER
    the region filter — one shuffle by partkey instead of a re-aggregate
    + self-join. Dims (nation/region) are broadcast; part and supplier
    scale with SF so their strategy is left to AQE."""
    ps = (
        load(spark, sf, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(_m("l_extendedprice")).alias("_cost"))
    )
    region = load(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    eu_nations = F.broadcast(
        load(spark, sf, "nation").join(
            F.broadcast(region), F.col("n_regionkey") == region.r_regionkey
        )
    )
    supp = load(spark, sf, "supplier").join(
        eu_nations, F.col("s_nationkey") == F.col("n_nationkey")
    )
    part = load(spark, sf, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 10)
    )
    w = Window.partitionBy("p_partkey")
    return (
        ps.join(supp, ps.l_suppkey == supp.s_suppkey)
        .join(part, ps.l_partkey == part.p_partkey)
        .withColumn("_min_cost", F.min("_cost").over(w))
        .filter(F.col("_cost") == F.col("_min_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.col("_cost").cast("double").alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q11_important_part_value",
    """
    WITH val AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS v
      FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_7'
      GROUP BY l_partkey)
    SELECT l_partkey AS ps_partkey, CAST(v AS DOUBLE) AS value
    FROM val
    WHERE CAST(v AS DOUBLE) > (SELECT CAST(SUM(v) AS DOUBLE) FROM val)
                              * CAST(0.002 AS DOUBLE)
    """,
)
def q11(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape adapted (no partsupp: part value = sum of
    extendedprice*quantity shipped by NATION_7 suppliers). The scalar
    total is a 1-row broadcast cross join over the same aggregate —
    Spark reuses the shuffle via AQE. Values are summed in exact
    DECIMAL, compared in the (identical) derived doubles; the 0.2%
    threshold replaces the SF-scaled original fraction."""
    nation = F.broadcast(
        load(spark, sf, "nation").filter(F.col("n_name") == "NATION_7")
    )
    supp = load(spark, sf, "supplier").join(
        nation, F.col("s_nationkey") == F.col("n_nationkey")
    )
    li = load(spark, sf, "lineitem")
    val = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(_m("l_extendedprice") * _m("l_quantity")).alias("_v"))
    )
    total = val.agg(F.sum("_v").cast("double").alias("_total"))
    return (
        val.join(F.broadcast(total))
        .filter(F.col("_v").cast("double") > F.col("_total") * F.lit(0.002))
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("_v").cast("double").alias("value"),
        )
    )


@register(
    "q16_supplier_count_by_part",
    """
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape adapted (no partsupp: supplier/part pairs come
    from lineitem; "complaint" suppliers ≙ negative account balance).
    The NOT IN is a left_anti join against a small filtered supplier
    set; COUNT(DISTINCT) is Spark's two-phase partial distinct."""
    part = load(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    bad_supp = (
        load(spark, sf, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    li = load(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(bad_supp, li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q20_dominant_suppliers",
    """
    WITH shipped AS (
      SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_partkey, l_suppkey)
    SELECT DISTINCT s_suppkey, s_name, n_name
    FROM shipped
      JOIN (SELECT l_partkey AS tp, SUM(qty) AS total_qty
            FROM shipped GROUP BY l_partkey) t ON tp = l_partkey
      JOIN part     ON p_partkey = l_partkey AND p_name LIKE '%red%'
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
    WHERE CAST(qty AS DOUBLE) > 0.5 * CAST(total_qty AS DOUBLE)
    """,
)
def q20(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape adapted (no partsupp availqty: a supplier is
    "dominant" when it shipped >50% of a red part's 1997 volume). The
    per-part total is a window SUM over the already-grouped (part,
    supplier) aggregate — one shuffle keyed by partkey, no re-aggregate
    self-join; the >50% predicate compares doubles derived from the
    same exact decimals in both engines."""
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(_m("l_quantity")).alias("_qty")
    )
    w = Window.partitionBy("l_partkey")
    dominant = (
        shipped.withColumn("_total", F.sum("_qty").over(w))
        .filter(F.col("_qty").cast("double") > F.lit(0.5) * F.col("_total").cast("double"))
    )
    part = load(spark, sf, "part").filter(F.col("p_name").like("%red%"))
    supp = load(spark, sf, "supplier")
    nation = F.broadcast(load(spark, sf, "nation"))
    return (
        dominant.join(part, dominant.l_partkey == part.p_partkey)
        .join(supp, dominant.l_suppkey == supp.s_suppkey)
        .join(nation, supp.s_nationkey == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
        .distinct()
    )


@register(
    "stats_quantiles",
    """
    SELECT l_returnflag,
           CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE) AS q25,
           CAST(quantile_cont(l_quantity, 0.50) AS DOUBLE) AS q50,
           CAST(quantile_cont(l_quantity, 0.75) AS DOUBLE) AS q75,
           CAST(quantile_cont(l_extendedprice, 0.50) AS DOUBLE) AS price_median
    FROM lineitem GROUP BY l_returnflag
    """,
)
def stats_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated percentiles per group (profiling surface
    beyond the reference's count/min/max/mean). Spark `percentile` and
    DuckDB `quantile_cont` share the lower+(upper-lower)*frac
    interpolation; quantity values are integral so the arithmetic is
    FP-exact on both sides. At 100 TB scale swap in
    `percentile_approx` (t-digest) — kept exact here for the oracle."""
    li = load(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.25)").alias("q25"),
        F.expr("percentile(l_quantity, 0.50)").alias("q50"),
        F.expr("percentile(l_quantity, 0.75)").alias("q75"),
        F.expr("percentile(l_extendedprice, 0.50)").alias("price_median"),
    )


@register(
    "cube_order_stats",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_stats(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE over (status, priority) — all four grouping-set combinations
    in one pass (partial aggregation map-side, single shuffle)."""
    orders = load(spark, sf, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_m("o_totalprice")).cast("double").alias("total_price"),
    )


# ---------------------------------------------------------------------------
# Training-data preparation: deterministic splits and chunking
# ---------------------------------------------------------------------------


@register(
    "train_split_counts",
    """
    SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM (
      SELECT source,
             CASE
               WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 < 8000 THEN 'train'
               WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 < 9000 THEN 'val'
               ELSE 'test'
             END AS split
      FROM documents)
    GROUP BY split, source
    """,
)
def train_split_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split keyed on doc_id
    content hash (engine-portable md5 bucket — stable across runs,
    engines, and partition layouts; a pure map, no shuffle). Counts per
    split × source prove the assignment."""
    from .operators import sampling as SA

    docs = load(spark, sf, "documents")
    split = SA.hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return split.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@register(
    "corpus_shuffle_shards",
    """
    WITH sharded AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 'epoch1#shard')), 1, 15)) AS BIGINT) % 8 AS shard,
             md5(concat(CAST(doc_id AS VARCHAR), ':', 'epoch1')) AS okey
      FROM documents)
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY okey, doc_id) AS INT) AS pos
    FROM sharded
    """,
)
def corpus_shuffle_shards(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic global corpus shuffle into 8 training shards:
    content-keyed shard assignment (pure map) + md5-ordered position
    within each shard (window partitioned BY SHARD — one uniform hash
    exchange, never a single-partition global sort). Reproducible across
    runs/engines/layouts; epoch reshuffle = new salt. See
    operators/sampling.shuffle_shards."""
    from .operators import sampling as SA

    docs = load(spark, sf, "documents").select("doc_id")
    return SA.shuffle_shards(docs, "doc_id", n_shards=8, salt="epoch1")


@register(
    "chunk_documents",
    """
    SELECT doc_id, CAST(t.i AS BIGINT) AS chunk_idx,
           substr(text, CAST(t.i * 450 + 1 AS BIGINT), 500) AS chunk,
           length(substr(text, CAST(t.i * 450 + 1 AS BIGINT), 500)) AS chunk_len
    FROM documents,
         UNNEST(range(0, CAST(greatest(0, ceil((length(text) - 500) / 450.0)) AS BIGINT) + 1)) t(i)
    WHERE length(text) > 0
    """,
)
def chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-size overlapping character chunks (size=500, overlap=50)
    per document — JVM-side sequence+explode fan-out, no shuffle."""
    from .operators import text as T

    docs = load(spark, sf, "documents").select("doc_id", "text")
    return T.chunk_text(docs, size=500, overlap=50)


@register(
    "pack_documents",
    r"""
    SELECT doc_id, source,
           CAST(toks AS BIGINT) AS n_tokens,
           CAST(FLOOR((cum - toks) / 8000.0) AS BIGINT) AS pack_id
    FROM (
      SELECT doc_id, source, toks,
             SUM(toks) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
      FROM (SELECT doc_id, source,
                   len(regexp_split_to_array(trim(text), '\s+')) AS toks
            FROM documents))
    """,
)
def pack_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence packing for training: assign docs to ~8000-token packs
    by cumulative token count, partitioned per source so the window
    never needs a global sort (each source packs independently — the
    scalable layout; a global pack order would serialize 100 TB through
    one partition)."""
    from .operators import text as T

    docs = load(spark, sf, "documents")
    toks = T.token_count(F.col("text"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.select("doc_id", "source", toks.alias("n_tokens"))
        .withColumn("cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(8000.0))
            .cast("long")
            .alias("pack_id"),
        )
    )


@register(
    "cap_per_source",
    """
    SELECT source, doc_id, n_chars FROM (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents)
    WHERE rn <= 50
    """,
)
def cap_per_source(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source document cap (keep the 50 longest docs per source) —
    the standard guard against one source dominating a training mix.
    Hash-partitioned window; no global sort."""
    docs = load(spark, sf, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.select("source", "doc_id", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .drop("rn")
    )


@register(
    "nation_supplier_names",
    """
    SELECT n_name,
           string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def nation_supplier_names(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered string aggregation per group. collect_list order is
    partition-dependent in Spark, so the list is array_sort-ed before
    joining — deterministic on both engines."""
    supp = load(spark, sf, "supplier").select("s_name", "s_nationkey")
    nation = load(spark, sf, "nation").select("n_nationkey", "n_name")
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("s_name")), ",").alias(
                "suppliers"
            ),
            F.count(F.lit(1)).alias("n_suppliers"),
        )
    )


@register(
    "customer_balance_quartiles",
    """
    SELECT q, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS min_bal,
           CAST(MAX(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS max_bal
    FROM (
      SELECT c_acctbal,
             ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS q
      FROM customer)
    GROUP BY q
    """,
)
def customer_balance_quartiles(spark: SparkSession, sf: str) -> DataFrame:
    """ntile + re-aggregation WITHOUT the single-partition global
    window: a distributed global rank (global sort + distributed
    sequence, ``operators/windows.py::row_index``) and the
    ntile bucket formula in pure integer arithmetic reproduce
    ``ntile(4) OVER (ORDER BY ...)`` bit-exactly while every stage
    stays parallel (tie-broken by custkey so both engines tile
    identically)."""
    cust = load(spark, sf, "customer").select("c_acctbal", "c_custkey")
    r = row_index(cust, ["c_acctbal", "c_custkey"], "_i", start=1)
    n1 = cust.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    q = ntile_from_rank(F.col("_i"), F.col("_n"), 4)
    return (
        r.join(F.broadcast(n1))
        .select("c_acctbal", q.cast("int").alias("q"))
        .groupBy("q")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(_m("c_acctbal")).cast("double").alias("min_bal"),
            F.max(_m("c_acctbal")).cast("double").alias("max_bal"),
        )
    )


@register(
    "orders_above_cust_avg",
    """
    WITH avgs AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               / COUNT(*) AS avg_price
      FROM orders GROUP BY o_custkey)
    SELECT o.o_orderkey, o.o_custkey,
           CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice
    FROM orders o JOIN avgs a ON o.o_custkey = a.o_custkey
    WHERE CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) AS DOUBLE) > 1.5 * a.avg_price
    """,
)
def orders_above_cust_avg(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated-subquery shape (orders 50% above their customer's
    average) decorrelated into aggregate + equi-join back on the same
    key — one shuffle on o_custkey serves both sides. Exact-decimal
    average so the > boundary agrees across engines."""
    orders = load(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    avgs = orders.groupBy("o_custkey").agg(
        (F.sum(_m("o_totalprice")).cast("double") / F.count(F.lit(1))).alias(
            "avg_price"
        )
    )
    price = _m("o_totalprice").cast("double")
    return (
        orders.join(avgs, "o_custkey")
        .filter(price > F.lit(1.5) * F.col("avg_price"))
        .select("o_orderkey", "o_custkey", price.alias("o_totalprice"))
    )


@register(
    "latest_event_per_user",
    """
    SELECT user_id, event_id, event_type, ts FROM (
      SELECT user_id, event_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    """,
)
def latest_event_per_user(spark: SparkSession, sf: str) -> DataFrame:
    """CDC-style compaction: keep each key's most recent record
    (event_id tie-break for identical timestamps). Hash-partitioned
    window on the key — the standard upsert-materialization shape."""
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.select("user_id", "event_id", "event_type", "ts")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "user_event_history_scd2",
    """
    SELECT user_id, event_id,
           CAST(CAST(value AS DECIMAL(14,2)) AS DOUBLE) AS value,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS valid_to
    FROM events
    WHERE event_type = 'purchase'
    """,
)
def user_event_history_scd2(spark: SparkSession, sf: str) -> DataFrame:
    """SCD-type-2 interval construction: each purchase is valid from its
    own timestamp until the user's next purchase (NULL = current). One
    per-key window, no self-join."""
    ev = load(spark, sf, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.col("value").cast("decimal(14,2)").cast("double").alias("value"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )


@register(
    "dq_lineitem_report",
    """
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(COUNT(*) FILTER (l_quantity IS NULL) AS BIGINT) AS null_qty,
      CAST(COUNT(*) FILTER (l_quantity < 1 OR l_quantity > 50) AS BIGINT) AS oob_qty,
      CAST(COUNT(*) FILTER (l_discount < 0 OR l_discount > 1) AS BIGINT) AS oob_discount,
      CAST(COUNT(*) FILTER (l_extendedprice <= 0) AS BIGINT) AS nonpos_price,
      CAST(COUNT(*) FILTER (l_returnflag NOT IN ('A', 'N', 'R')) AS BIGINT) AS bad_flag,
      CAST(COUNT(*) FILTER (l_shipdate < TIMESTAMP '1992-01-01 00:00:00') AS BIGINT) AS early_ship
    FROM lineitem
    """,
)
def dq_lineitem_report(spark: SparkSession, sf: str) -> DataFrame:
    """Data-quality report in ONE scan: null / out-of-range / domain
    violations as conditional aggregates (≙ the reference analyzers'
    format/null/unexpected error counters, NumericAnalyzer.scala:67-103,
    set-wise instead of per-cell messages)."""
    li = load(spark, sf, "lineitem")
    cnt = lambda c: F.count(F.when(c, 1))  # noqa: E731

    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        cnt(F.col("l_quantity").isNull()).alias("null_qty"),
        cnt((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).alias("oob_qty"),
        cnt((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).alias("oob_discount"),
        cnt(F.col("l_extendedprice") <= 0).alias("nonpos_price"),
        cnt(~F.col("l_returnflag").isin("A", "N", "R")).alias("bad_flag"),
        cnt(F.col("l_shipdate") < F.lit("1992-01-01 00:00:00").cast("timestamp")).alias(
            "early_ship"
        ),
    )


@register(
    "word_counts_top100",
    r"""
    SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS n
    FROM documents, UNNEST(regexp_split_to_array(lower(trim(text)), '\s+')) t(w)
    WHERE w <> ''
    GROUP BY w
    ORDER BY n DESC, word
    LIMIT 100
    """,
)
def word_counts_top100(spark: SparkSession, sf: str) -> DataFrame:
    """The canonical explode+count: top-100 words across the corpus.
    Map-side partial aggregation absorbs the explode fan-out before the
    shuffle; the top-k is a TakeOrdered, not a global sort."""
    docs = load(spark, sf, "documents")
    return (
        docs.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(100)
    )


@register(
    "bm25_topk",
    r"""
    WITH toks AS (
      SELECT doc_id, w
      FROM documents, UNNEST(regexp_split_to_array(lower(trim(text)), '\s+')) t(w)
      WHERE w <> ''),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl),
    tf AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks WHERE w IN ('vector', 'hash', 'stream')
      GROUP BY doc_id, w),
    df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
    contrib AS (
      SELECT tf.doc_id,
             tf.w,
             ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf * (CAST(1.2 AS DOUBLE) + 1.0))
               / (tf.tf + CAST(1.2 AS DOUBLE)
                  * (1.0 - CAST(0.75 AS DOUBLE)
                     + CAST(0.75 AS DOUBLE) * dl.dl / stats.avgdl)) AS c
      FROM tf JOIN df ON tf.w = df.w
              JOIN dl ON tf.doc_id = dl.doc_id
              CROSS JOIN stats),
    scored AS (
      SELECT doc_id,
             round(COALESCE(SUM(CASE WHEN w = 'vector' THEN c END), 0)
                   + COALESCE(SUM(CASE WHEN w = 'hash' THEN c END), 0)
                   + COALESCE(SUM(CASE WHEN w = 'stream' THEN c END), 0),
                   9) AS bm25
      FROM contrib GROUP BY doc_id)
    SELECT doc_id, bm25
    FROM scored
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
)
def bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 ranked retrieval (k1=1.2, b=0.75, Lucene's non-negative
    ln(1 + (N-df+0.5)/(df+0.5)) idf) for the query {vector, hash,
    stream}: top-20 documents.

    Scale shape: ONE pass over the token stream — a single
    map-side-partial groupBy(doc_id) carries the doc length and each
    query term's tf as conditional counts, so the (doc, term) tf
    aggregate, its df roll-up, and their joins all collapse into one
    |docs|-row frame plus one 1-row broadcast stats aggregate
    (N/avgdl/per-term df). Per-term contributions are summed as FIXED-
    ORDER per-term columns (not a float SUM across an unordered group)
    so the score is deterministic and engine-stable; the final top-20
    is a TakeOrdered on (rounded score, doc_id), not a global sort."""
    # Deliberately NOT spread_for_cpu_map (A/B, same verdict as
    # cms_word_estimates): the tokenize is ONE regex split per row —
    # I/O-shaped, not a CPU grind — and hybrid_search_rrf measured
    # 1.37-1.47 s unspread vs 1.86-2.31 s spread (warm best-of-3, ×2
    # each). The raw-text shuffle plus extra AQE stage outweighs the
    # cheap single-split pass; at 100 TB the corpus is many files →
    # already wide.
    docs = load(spark, sf, "documents").select("doc_id", "text")
    terms = ["vector", "hash", "stream"]
    k1, b = 1.2, 0.75
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    # ONE pass over the token stream: a single
    # groupBy(doc_id) computes the doc length AND the per-query-term
    # tf as conditional-count columns, so the explode runs once, one
    # exchange replaces two, and the (doc, term)-keyed tf/df joins
    # vanish entirely — df and the corpus stats collapse into one
    # 1-row broadcast aggregate OF this frame (measured 13 jobs/25
    # stages → 7/14 at sf0.01; at 100 TB it halves the token-stream
    # scans). Persisted (slim: 5 longs/doc) because stats and the
    # score projection both read it — exchange reuse is best-effort.
    per_doc = cache.track(
        toks.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("dl"),
            *[
                F.count(F.when(F.col("w") == t, True)).alias(f"_tf{i}")
                for i, t in enumerate(terms)
            ],
        )
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"_tf{i}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    # Per-term contribution, SAME double arithmetic as the oracle's
    # contrib CTE (absent term → exact 0.0, matching the old
    # coalesce(sum(when(...)), 0.0) over the tf inner join); fixed-
    # order per-term addition keeps the score engine-stable.
    def _c(i: int):
        return F.when(
            F.col(f"_tf{i}") > 0,
            F.log(
                1.0
                + (F.col("n_docs") - F.col(f"_df{i}") + 0.5)
                / (F.col(f"_df{i}") + 0.5)
            )
            * (F.col(f"_tf{i}") * (F.lit(k1) + 1.0))
            / (
                F.col(f"_tf{i}")
                + F.lit(k1)
                * (1.0 - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        ).otherwise(F.lit(0.0))

    score = _c(0)
    for i in range(1, len(terms)):
        score = score + _c(i)
    # Docs matching NO query term are excluded (the oracle's tf inner
    # join) — a sub-20-match corpus must not pad with zero scores.
    any_term = F.col("_tf0") > 0
    for i in range(1, len(terms)):
        any_term = any_term | (F.col(f"_tf{i}") > 0)
    return (
        per_doc.filter(any_term)
        .join(F.broadcast(stats))
        .select("doc_id", F.round(score, 9).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


@register(
    "heavy_hitter_words",
    r"""
    WITH toks AS (
      SELECT w
      FROM documents, UNNEST(regexp_split_to_array(lower(trim(text)), '\s+')) t(w)
      WHERE w <> ''),
    tot AS (SELECT COUNT(*) AS n FROM toks)
    SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM toks, tot
    GROUP BY w, tot.n
    HAVING COUNT(*) * 500 >= tot.n
    """,
)
def heavy_hitter_words(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT heavy hitters (words with freq ≥ N/500) via two-pass
    Misra-Gries: bounded per-partition summaries propose a guaranteed
    candidate superset, then only candidates are counted exactly — the
    token stream itself never shuffles (word_counts_top100 is the
    full-shuffle twin). Bit-identical to the naive HAVING oracle; see
    operators/sketches.heavy_hitters_exact."""
    from .operators.sketches import heavy_hitters_exact

    docs = load(spark, sf, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    return heavy_hitters_exact(toks, "word", k=500).withColumnRenamed(
        "value", "word"
    )


@register("sketch_distinct_rollup", None)  # HLL estimate — no SQL twin
def sketch_distinct_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct users per WEEK computed by merging stored per-DAY HLL
    sketches (hll_sketch_agg → hll_union_agg) — the pre-aggregated
    sketch rollup pattern: month/quarter rollups re-aggregate the tiny
    sketch table, never the event stream. ±~1.6% at lg_k=12; error
    bound asserted against exact countDistinct in
    tests/test_sketches.py. Deterministic (hash-based), hence stable
    rows-only check."""
    from .operators.sketches import distinct_rollup, merge_rollup

    ev = load(spark, sf, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    daily = distinct_rollup(ev, "day", "user_id")
    weekly = merge_rollup(
        daily.withColumn("week", F.date_trunc("week", "day")), "week"
    )
    return weekly.select(
        F.col("week").cast("date").alias("week_start"),
        F.col("estimate").cast("long").alias("est_users"),
    )


@register(
    "unpivot_price_components",
    """
    -- each branch casts to DOUBLE itself: UNION ALL would otherwise
    -- coerce every branch to the first branch's DECIMAL scale (2),
    -- silently rounding the scale-4 discount/tax sums
    SELECT o_orderkey, component, amount
    FROM (
      SELECT l_orderkey AS o_orderkey, 'gross' AS component,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS amount
      FROM lineitem GROUP BY l_orderkey
      UNION ALL
      SELECT l_orderkey, 'discount',
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)
      FROM lineitem GROUP BY l_orderkey
      UNION ALL
      SELECT l_orderkey, 'tax',
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_tax AS DECIMAL(12,2))) AS DOUBLE)
      FROM lineitem GROUP BY l_orderkey)
    WHERE o_orderkey < 1000
    """,
)
def unpivot_price_components(spark: SparkSession, sf: str) -> DataFrame:
    """Wide→long unpivot (melt): one aggregation computes all three
    money components, then `stack` emits a row per component — one scan
    and one shuffle, where the naive UNION ALL formulation (the oracle)
    scans three times."""
    li = load(spark, sf, "lineitem").filter(F.col("l_orderkey") < 1000)
    wide = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.sum(_m("l_extendedprice")).alias("_gross"),
        F.sum(_m("l_extendedprice") * _m("l_discount")).alias("_discount"),
        F.sum(_m("l_extendedprice") * _m("l_tax")).alias("_tax"),
    )
    return wide.selectExpr(
        "o_orderkey",
        "stack(3, 'gross', CAST(_gross AS DOUBLE), "
        "'discount', CAST(_discount AS DOUBLE), "
        "'tax', CAST(_tax AS DOUBLE)) AS (component, amount)",
    )


@register(
    "gopher_repetition_report",
    r"""
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
    base AS (
      SELECT doc_id, len(ws) AS n_words,
             CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS distinct_word_frac,
             CASE WHEN len(ws) < 2 THEN 0.0 ELSE
               1.0 - CAST(len(list_distinct(list_transform(
                        generate_series(1, len(ws)-1),
                        i -> ws[i] || ' ' || ws[i+1]))) AS DOUBLE) / (len(ws)-1)
             END AS dup_2gram_frac
      FROM w),
    cnt AS (
      SELECT doc_id, word, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(ws) AS word FROM w) GROUP BY doc_id, word),
    mx AS (SELECT doc_id, MAX(c) AS m FROM cnt GROUP BY doc_id)
    SELECT base.doc_id AS doc_id, n_words, distinct_word_frac, dup_2gram_frac,
           CAST(m AS DOUBLE) / n_words AS top_word_frac,
           (distinct_word_frac >= 0.4 AND dup_2gram_frac < 0.05
            AND CAST(m AS DOUBLE) / n_words < 0.12) AS passes
    FROM base JOIN mx ON base.doc_id = mx.doc_id
    """,
    bench=True,
)
def gopher_repetition_report(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition quality gate over the documents corpus:
    word/bigram diversity are array expressions in a single scan; the
    top-word mode adds two id-keyed partial-agg shuffles. ``passes``
    combines thresholds picked to split the driver corpus (distinct
    ≥0.4, dup-2gram <0.05, top-word <0.12); both engines derive the
    booleans from identical int-division doubles."""
    from .operators import text as T

    feats = T.repetition_features(load(spark, sf, "documents"))
    return feats.withColumn(
        "passes",
        (F.col("distinct_word_frac") >= 0.4)
        & (F.col("dup_2gram_frac") < 0.05)
        & (F.col("top_word_frac") < 0.12),
    )


@register(
    "decontaminate_holdout",
    """
    WITH sh AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(text) - 19, 1)),
               i -> substring(text, i, 20)))) AS shingle
      FROM documents),
    pairs AS (
      SELECT c.doc_id AS doc_id, h.doc_id AS holdout_id, COUNT(*) AS n_shared
      FROM sh c JOIN sh h ON c.shingle = h.shingle
      WHERE h.source = 'src0' AND c.source <> 'src0'
      GROUP BY c.doc_id, h.doc_id
      HAVING COUNT(*) >= 3)
    SELECT doc_id, COUNT(*) AS n_holdout_hits,
           CAST(MAX(n_shared) AS BIGINT) AS max_shared
    FROM pairs GROUP BY doc_id
    """,
)
def decontaminate_holdout(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination report: for every training document,
    how many holdout (src0 ≙ eval-set) documents it shares ≥3 distinct
    20-char shingles with, and the worst overlap. Inverted-index
    equi-join on the shingle (operators/dedup.shared_shingle_
    contamination) — no cross product; the tiny holdout side is
    AQE-broadcast at runtime. Downstream a training run anti-joins the
    corpus against these doc_ids."""
    docs = load(spark, sf, "documents")
    pairs = D.shared_shingle_contamination(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        k=20,
        min_shared=3,
    )
    return pairs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_holdout_hits"),
        F.max("n_shared").alias("max_shared"),
    )


@register(
    "semantic_dedup_keep",
    """
    WITH norms AS (
      SELECT vec_id, label,
             SUM(CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000000.0 + 0.5) AS DECIMAL(19,0))
               * CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000000.0 + 0.5) AS DECIMAL(19,0))) AS n2
      FROM embeddings, UNNEST(range(1, 65)) t(i) GROUP BY 1, 2),
    dots AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             SUM(CAST(floor(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) * 1000000000.0 + 0.5) AS DECIMAL(19,0))
               * CAST(floor(CAST(b.embedding[CAST(i AS INT)] AS DOUBLE) * 1000000000.0 + 0.5) AS DECIMAL(19,0))) AS dot
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id,
           UNNEST(range(1, 65)) t(i)
      GROUP BY 1, 2),
    doomed AS (
      SELECT DISTINCT id_b
      FROM dots d JOIN norms na ON d.id_a = na.vec_id
                  JOIN norms nb ON d.id_b = nb.vec_id
      WHERE round(CAST(d.dot AS DOUBLE)
                  / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 9) >= 0.3)
    SELECT vec_id, label FROM embeddings
    WHERE vec_id NOT IN (SELECT id_b FROM doomed)
    """,
)
def semantic_dedup_keep(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style semantic dedup: within each ``label`` cluster,
    greedily drop every vector with cosine ≥0.3 to a lower-id member;
    emit the surviving corpus. Blocked all-pairs + left_anti — no cross
    product across clusters, no driver collect (operators/similarity.
    semantic_dedup; at 100 TB the block key comes from ivf_assign's
    KMeans cells instead of a label column)."""
    emb = load(spark, sf, "embeddings")
    return SIM.semantic_dedup(emb, "label", threshold=0.3).select("vec_id", "label")


@register(
    "t_redact_pii",
    r"""
    SELECT c_custkey,
           regexp_replace(regexp_replace(
             c_name || ' <' || lower(replace(c_name, ' ', '.'))
                    || '@corp.example> call +1-555-'
                    || lpad(CAST(c_custkey AS VARCHAR), 4, '0'),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\+?\d[\d-]{7,}\d', '[PHONE]', 'g') AS redacted
    FROM customer
    """,
)
def t_redact_pii(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrubbing transformer (beyond-reference registry entry
    ``redact_pii``): synthesizes an email+phone string per customer and
    masks both. Chained replace-all ``regexp_replace`` — JVM-side, no
    UDF; patterns are RE2-compatible so both engines rewrite
    identically."""
    cust = load(spark, sf, "customer")
    raw = F.concat(
        F.col("c_name"),
        F.lit(" <"),
        F.lower(F.regexp_replace(F.col("c_name"), " ", ".")),
        F.lit("@corp.example> call +1-555-"),
        F.lpad(F.col("c_custkey").cast("string"), 4, "0"),
    )
    red = T("redact_pii", [raw])[0]
    return cust.select("c_custkey", red.alias("redacted"))


@register(
    "view_purchase_attribution",
    """
    SELECT p.event_id AS purchase_id,
           CAST(p.value AS DOUBLE) AS amount,
           COUNT(*) AS n_views_1h
    FROM events p JOIN events v
      ON v.user_id = p.user_id
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase' AND v.event_type = 'view'
    GROUP BY p.event_id, p.value
    """,
)
def view_purchase_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Purchase attribution: views credited to a same-user purchase
    within the preceding hour. Equi-join on
    user_id (the range predicate filters post-match; per-user fan-out
    is bounded by activity, AQE splits skewed power users), then a
    purchase-keyed count."""
    ev = load(spark, sf, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("amount"),
    )
    return (
        views.join(
            purchases,
            (F.col("v_user") == F.col("p_user"))
            & (F.col("view_ts") <= F.col("purchase_ts"))
            & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy("purchase_id", "amount")
        .agg(F.count(F.lit(1)).alias("n_views_1h"))
        .select("purchase_id", F.col("amount").cast("double"), "n_views_1h")
    )


@register(
    "training_mix_weights",
    r"""
    WITH per_source AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source)
    SELECT source, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM per_source) AS token_share,
           round(sqrt(CAST(n_tokens AS DOUBLE) / (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM per_source))
                 / (SELECT SUM(sqrt(CAST(n_tokens AS DOUBLE) / t.tot))
                    FROM per_source p2, (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM per_source) t),
                 9) AS sampling_weight
    FROM per_source
    """,
)
def training_mix_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Data-mixing weights for a training run: per-source token counts
    and temperature-scaled (α=0.5, i.e. sqrt) sampling weights — the
    standard recipe for up-weighting small high-quality sources in a
    corpus mix. One corpus scan (token counts are a pure map), then
    source-cardinality aggregates and 1-row broadcast cross joins; the
    weight normalizer sums ~|sources| doubles, rounded to 9 digits to
    absorb summation-order ULPs."""
    from .operators import text as T

    per_source = (
        load(spark, sf, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(T.token_count(F.col("text")).cast("bigint")).alias("n_tokens"),
        )
    )
    total = per_source.agg(F.sum("n_tokens").alias("_tot"))
    shared = per_source.join(F.broadcast(total)).withColumn(
        "_sqrt_share", F.sqrt(F.col("n_tokens").cast("double") / F.col("_tot"))
    )
    denom = shared.agg(F.sum("_sqrt_share").alias("_denom"))
    return (
        shared.join(F.broadcast(denom))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            (F.col("n_tokens").cast("double") / F.col("_tot")).alias("token_share"),
            F.round(F.col("_sqrt_share") / F.col("_denom"), 9).alias(
                "sampling_weight"
            ),
        )
    )


@register(
    "dedup_components",
    """
    WITH RECURSIVE
    sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 8) AS shingle
           FROM documents,
                UNNEST(range(1, greatest(length(text) - 6, 2))) AS t(i)),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS nc
              FROM sh a JOIN sh b USING (shingle)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
    pairs AS (SELECT id_a, id_b
              FROM inter JOIN sz sa ON id_a = sa.doc_id
                         JOIN sz sb ON id_b = sb.doc_id
              WHERE CAST(nc AS DOUBLE) / (sa.n + sb.n - nc) >= 0.6),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach AS (SELECT id, id AS r FROM nodes
              UNION
              SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id)
    SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS component
    FROM reach GROUP BY id
    """,
)
def dedup_components(spark: SparkSession, sf: str) -> DataFrame:
    """Transitive dedup clusters: 8-char-shingle Jaccard ≥0.6 pairs
    (inverted index) closed under transitivity by
    operators/dedup.connected_components (driver union-find below 200k
    edges, large-star/small-star above — the oracle uses a recursive
    CTE instead). Component id = min doc_id reachable;
    downstream keeps one doc per component instead of per pair."""
    prs = D.ngram_jaccard_pairs(
        load(spark, sf, "documents"), "text", "doc_id", k=8, threshold=0.6
    )
    return D.connected_components(prs).select(
        F.col("node").alias("doc_id"), "component"
    )


@register(
    "pipeline_curate_corpus",
    r"""
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      FROM documents WHERE lang = 'en'),
    base AS (
      SELECT doc_id, len(ws) AS n_words,
             CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS dwf,
             CASE WHEN len(ws) < 2 THEN 0.0 ELSE
               1.0 - CAST(len(list_distinct(list_transform(
                        generate_series(1, len(ws)-1),
                        i -> ws[i] || ' ' || ws[i+1]))) AS DOUBLE) / (len(ws)-1)
             END AS d2f
      FROM w),
    cnt AS (SELECT doc_id, word, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(ws) AS word FROM w) GROUP BY doc_id, word),
    mx AS (SELECT doc_id, MAX(c) AS m FROM cnt GROUP BY doc_id),
    passed AS (
      SELECT base.doc_id, n_words FROM base JOIN mx USING (doc_id)
      WHERE dwf >= 0.4 AND d2f < 0.05 AND CAST(m AS DOUBLE) / n_words < 0.12),
    corpus AS (
      SELECT d.doc_id, d.text, p.n_words
      FROM documents d JOIN passed p USING (doc_id)
      WHERE d.source <> 'src0'),
    hsh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(text) - 19, 1)),
               i -> substring(text, i, 20)))) AS shingle
      FROM documents WHERE source = 'src0'),
    csh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(text) - 19, 1)),
               i -> substring(text, i, 20)))) AS shingle
      FROM corpus),
    contaminated AS (
      SELECT c.doc_id FROM csh c JOIN hsh h USING (shingle)
      GROUP BY c.doc_id, h.doc_id HAVING COUNT(*) >= 3),
    clean AS (SELECT * FROM corpus
              WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
    canonical AS (
      SELECT MIN(doc_id) AS doc_id FROM clean
      GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))))
    SELECT c.doc_id, c.n_words FROM clean c JOIN canonical k USING (doc_id)
    """,
)
def pipeline_curate_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """Full curation pipeline with the second-generation gates chained:
    language filter → Gopher repetition gate (shuffle-free features) →
    holdout decontamination (inverted-index shingle join, left_anti) →
    exact dedup keeping the canonical min-id doc. Every stage is a
    registry operator; the composite is the realistic 100 TB
    pre-training cleanup DAG (scans stay pruned, every join is keyed,
    nothing touches the driver)."""
    from .operators import text as T2

    docs = load(spark, sf, "documents")
    en = docs.filter(F.col("lang") == "en")
    feats = T2.repetition_features(en)
    passed = feats.filter(
        (F.col("distinct_word_frac") >= 0.4)
        & (F.col("dup_2gram_frac") < 0.05)
        & (F.col("top_word_frac") < 0.12)
    ).select("doc_id", "n_words")
    corpus = (
        en.filter(F.col("source") != "src0")
        .join(passed, "doc_id")
        .select("doc_id", "text", "n_words")
    )
    contaminated = (
        D.shared_shingle_contamination(
            corpus.select("doc_id", "text"),
            docs.filter(F.col("source") == "src0"),
            k=20,
            min_shared=3,
        )
        .select("doc_id")
        .distinct()
    )
    clean = corpus.join(contaminated, "doc_id", "left_anti")
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    canonical = (
        clean.select(F.md5(norm).alias("_h"), "doc_id")
        .groupBy("_h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return clean.join(canonical, "doc_id", "left_semi").select("doc_id", "n_words")


@register(
    "skew_report",
    """
    WITH c AS (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey),
    s AS (SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS nkeys FROM c)
    SELECT o_custkey, n,
           round(CAST(n AS DOUBLE) * nkeys / total, 9) AS skew_factor
    FROM c, s
    ORDER BY n DESC, o_custkey
    LIMIT 10
    """,
)
def skew_report(spark: SparkSession, sf: str) -> DataFrame:
    """Shuffle-key skew diagnosis (the pre-flight a 100 TB join/agg
    wants before picking salting vs AQE skew-split): per-key row counts,
    top heavy hitters, and each key's skew factor (count ÷ mean count).
    One partial-aggregated shuffle + a 1-row broadcast normalizer +
    top-k (no global sort — Spark takes the limit via partial top-k)."""
    counts = (
        load(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stats = counts.agg(
        F.sum("n").alias("_total"), F.count(F.lit(1)).alias("_nkeys")
    )
    return (
        counts.join(F.broadcast(stats))
        .select(
            "o_custkey",
            "n",
            F.round(
                F.col("n").cast("double") * F.col("_nkeys") / F.col("_total"), 9
            ).alias("skew_factor"),
        )
        .orderBy(F.desc("n"), "o_custkey")
        .limit(10)
    )


@register("stats_quantiles_approx", None)  # sketch-based → rows-only check
def stats_quantiles_approx(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB twin of ``stats_quantiles``: KLL/GK-style
    ``percentile_approx`` sketch — single pass, mergeable partials, no
    per-group sort; accuracy parameter 10000 bounds rank error while the
    exact variant would shuffle full value lists at scale."""
    li = load(spark, sf, "lineitem")
    pa = F.percentile_approx("l_quantity", [0.25, 0.5, 0.75], 10000)
    return (
        li.groupBy("l_returnflag")
        .agg(
            pa.alias("_q"),
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("price_median"),
        )
        .select(
            "l_returnflag",
            F.col("_q")[0].alias("q25"),
            F.col("_q")[1].alias("q50"),
            F.col("_q")[2].alias("q75"),
            "price_median",
        )
    )


@register(
    "stats_quantiles_exact",
    """
    WITH v AS (SELECT CAST(c_acctbal AS DOUBLE) AS v, c_custkey
               FROM customer),
         r AS (SELECT v, row_number() OVER (ORDER BY v, c_custkey) AS rk
               FROM v),
         n AS (SELECT COUNT(*) AS n FROM v),
         b AS (SELECT CAST(p AS DOUBLE) AS p, n.n AS n,
                      (n.n - 1) * CAST(p AS DOUBLE) AS h
               FROM n, (VALUES (0.25), (0.5), (0.75), (0.9), (0.99)) t(p)),
         b2 AS (SELECT p, h - floor(h) AS frac,
                       CAST(floor(h) AS BIGINT) + 1 AS lo_rk,
                       least(CAST(floor(h) AS BIGINT) + 2, n) AS hi_rk
                FROM b)
    SELECT b2.p AS p, lo.v + b2.frac * (hi.v - lo.v) AS value
    FROM b2 JOIN r lo ON lo.rk = b2.lo_rk JOIN r hi ON hi.rk = b2.hi_rk
    ORDER BY p
    """,
)
def stats_quantiles_exact(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT distributed percentiles (quantile_cont semantics: linear
    interpolation between order statistics at h = (n−1)·p), bit-exact
    against the oracle — the quantified twin of the rows-only sketch
    quantiles. Shape: global rank over (value, key) via the
    distributed row index (global sort + distributed sequence — never
    a global window), a 1-row lazy count expanded to a 10-row (percentile,
    wanted-rank) table, broadcast-joined back so the big side is
    touched by exactly one scan + one rank exchange at any corpus
    size. Both engines evaluate the IDENTICAL double expression
    lo + frac·(hi − lo) from identical exact inputs (DECIMAL source
    cast to double, integer ranks), so no round guard is needed."""
    ps = (0.25, 0.5, 0.75, 0.9, 0.99)
    cust = load(spark, sf, "customer").select(
        F.col("c_acctbal").cast("double").alias("v"), "c_custkey"
    )
    ranked = row_index(cust, ["v", "c_custkey"], "rk", start=1)
    bounds = (
        cust.agg(F.count(F.lit(1)).alias("n"))
        .select(
            "n",
            F.explode(F.array(*[F.lit(p) for p in ps])).alias("p"),
        )
        .withColumn("h", (F.col("n") - 1) * F.col("p"))
        .withColumn("frac", F.col("h") - F.floor("h"))
        .withColumn("lo_rk", F.floor("h").cast("long") + 1)
        .withColumn("hi_rk", F.least(F.floor("h").cast("long") + 2, F.col("n")))
    )
    want = bounds.select(
        "p",
        "frac",
        F.explode(
            F.array(
                F.struct(F.lit("lo").alias("role"), F.col("lo_rk").alias("rk")),
                F.struct(F.lit("hi").alias("role"), F.col("hi_rk").alias("rk")),
            )
        ).alias("w"),
    ).select("p", "frac", F.col("w.role").alias("role"), F.col("w.rk").alias("rk"))
    return (
        ranked.join(F.broadcast(want), "rk")
        .groupBy("p", "frac")
        .agg(
            F.max(F.when(F.col("role") == "lo", F.col("v"))).alias("lo_v"),
            F.max(F.when(F.col("role") == "hi", F.col("v"))).alias("hi_v"),
        )
        .select(
            "p",
            (F.col("lo_v") + F.col("frac") * (F.col("hi_v") - F.col("lo_v"))).alias(
                "value"
            ),
        )
        .orderBy("p")
    )


@register(
    "leakage_safe_split",
    """
    WITH RECURSIVE
    sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 8) AS shingle
           FROM documents,
                UNNEST(range(1, greatest(length(text) - 6, 2))) AS t(i)),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS nc
              FROM sh a JOIN sh b USING (shingle)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
    pairs AS (SELECT id_a, id_b
              FROM inter JOIN sz sa ON id_a = sa.doc_id
                         JOIN sz sb ON id_b = sb.doc_id
              WHERE CAST(nc AS DOUBLE) / (sa.n + sb.n - nc) >= 0.6),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach AS (SELECT id, id AS r FROM nodes
              UNION
              SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id),
    comp AS (SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS component
             FROM reach GROUP BY id)
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS group_key,
           CASE WHEN CAST(concat('0x', substr(md5(CAST(COALESCE(c.component, d.doc_id) AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 < 8000 THEN 'train'
                WHEN CAST(concat('0x', substr(md5(CAST(COALESCE(c.component, d.doc_id) AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 < 9000 THEN 'val'
                ELSE 'test'
           END AS split
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """,
)
def leakage_safe_split(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup-aware train/val/test split: the hash key is the dedup
    COMPONENT id (min reachable doc through Jaccard-0.6 pairs), not the
    doc id, so near-duplicate documents can never straddle train and
    test — the split-leakage failure mode of naive per-doc hashing.
    Components from distributed min-label propagation; membership stays
    a pure map over the (doc, group_key) frame."""
    from .operators import sampling as SA

    docs = load(spark, sf, "documents")
    prs = D.ngram_jaccard_pairs(docs, "text", "doc_id", k=8, threshold=0.6)
    comp = D.connected_components(prs).withColumnRenamed("node", "doc_id")
    grouped = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .withColumn("group_key", F.coalesce("component", "doc_id"))
        .select("doc_id", "group_key")
    )
    return SA.hash_split(
        grouped, "group_key", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "group_key", "split")


@register("ann_int8_topk", None)  # quantization error is the point → rows-only
def ann_int8_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Int8-quantized brute-force cosine top-10 (same query set as
    ann_cosine_topk): 4× smaller vectors, exact integer dot products.
    Recall vs the exact float path is pinned in tests/test_ann_recall.py
    — the memory-bound 100 TB serving configuration."""
    emb = load(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return SIM.int8_topk(emb, queries, k=10)


@register(
    "stats_correlation",
    """
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9) AS corr_qty_price,
           round((n * sxy - sx * sy) / (CAST(n AS DOUBLE) * n), 9) AS covar_pop
    FROM s
    """,
)
def stats_correlation(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson correlation + population covariance per group, computed
    from exact DECIMAL co-moments cast to DOUBLE (built-in corr() uses
    engine-specific streaming algorithms that drift between engines;
    the explicit formula over exact sums is bit-portable). One
    map-side-combined shuffle — the same single-pass profile shape as
    the reference's NumericAnalyzer, extended to two columns."""
    li = load(spark, sf, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_m("l_quantity")).cast("double").alias("sx"),
        F.sum(_m("l_extendedprice")).cast("double").alias("sy"),
        F.sum(_m("l_quantity") * _m("l_extendedprice")).cast("double").alias("sxy"),
        F.sum(_m("l_quantity") * _m("l_quantity")).cast("double").alias("sxx"),
        F.sum(_m("l_extendedprice") * _m("l_extendedprice")).cast("double").alias("syy"),
    )
    n = F.col("n")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        "l_returnflag",
        "n",
        F.round(
            num
            / (
                F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            9,
        ).alias("corr_qty_price"),
        F.round(num / (n.cast("double") * n), 9).alias("covar_pop"),
    )


@register(
    "stats_histogram",
    """
    WITH r AS (
      SELECT CAST(MIN(l_extendedprice) AS DOUBLE) AS lo,
             CAST(MAX(l_extendedprice) AS DOUBLE) AS hi
      FROM lineitem)
    SELECT bin,
           round(lo + bin * (hi - lo) / 20, 9) AS bin_lo,
           round(lo + (bin + 1) * (hi - lo) / 20, 9) AS bin_hi,
           COUNT(*) AS n
    FROM (
      SELECT least(CAST(floor((l_extendedprice - lo) / ((hi - lo) / 20)) AS BIGINT), 19) AS bin,
             lo, hi
      FROM lineitem, r)
    GROUP BY bin, lo, hi
    """,
)
def stats_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-width 20-bin histogram of l_extendedprice: a 1-row min/max
    aggregate broadcast back over the scan, then a pure-map bin id and
    one low-cardinality shuffle. The two-pass shape is what a 100 TB
    profiler does (the alternative — a global sort — is never worth it);
    bin edges come from identical double arithmetic in both engines."""
    li = load(spark, sf, "lineitem")
    r = li.agg(
        F.min("l_extendedprice").cast("double").alias("lo"),
        F.max("l_extendedprice").cast("double").alias("hi"),
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(20)
    binned = li.join(F.broadcast(r)).select(
        F.least(
            F.floor((F.col("l_extendedprice") - F.col("lo")) / width).cast("bigint"),
            F.lit(19).cast("bigint"),
        ).alias("bin"),
        "lo",
        "hi",
    )
    return binned.groupBy("bin", "lo", "hi").agg(
        F.count(F.lit(1)).alias("n")
    ).select(
        "bin",
        F.round(F.col("lo") + F.col("bin") * (F.col("hi") - F.col("lo")) / 20, 9).alias("bin_lo"),
        F.round(F.col("lo") + (F.col("bin") + 1) * (F.col("hi") - F.col("lo")) / 20, 9).alias("bin_hi"),
        "n",
    )


@register(
    "stats_sampled_profile",
    """
    WITH s AS (
      SELECT l_quantity, l_extendedprice
      FROM lineitem
      WHERE CAST(concat('0x', substr(md5(concat(CAST(l_orderkey AS VARCHAR), '_',
                                     CAST(l_linenumber AS VARCHAR))), 1, 15)) AS BIGINT)
            % 10000 < 1000)
    SELECT 'l_quantity' AS col_name, COUNT(l_quantity) AS n,
           COUNT(CASE WHEN l_quantity IS NULL THEN 1 END) AS n_null,
           CAST(MIN(l_quantity) AS DOUBLE) AS min_v,
           CAST(MAX(l_quantity) AS DOUBLE) AS max_v,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) / COUNT(l_quantity) AS mean_v
    FROM s
    UNION ALL
    SELECT 'l_extendedprice', COUNT(l_extendedprice),
           COUNT(CASE WHEN l_extendedprice IS NULL THEN 1 END),
           CAST(MIN(l_extendedprice) AS DOUBLE),
           CAST(MAX(l_extendedprice) AS DOUBLE),
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) / COUNT(l_extendedprice)
    FROM s
    """,
)
def stats_sampled_profile(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's percent-sampled statistics (``Stats.scala:94-128``
    takes a percent param) made engine-portable: a deterministic 10%
    md5-bucket sample on the composite row key replaces rng sampling, so
    the sampled profile is reproducible across runs, engines, and
    partition layouts — and therefore oracle-checkable. One scan, one
    wide agg, stack to long format."""
    from .operators import sampling as SA

    li = load(spark, sf, "lineitem")
    key = F.concat_ws("_", F.col("l_orderkey"), F.col("l_linenumber"))
    sampled = li.filter(SA.hash_bucket(key) < 1000)
    return S.numeric_profile(sampled, ["l_quantity", "l_extendedprice"])


@register(
    "funnel_conversion",
    """
    WITH v AS (SELECT user_id, MIN(ts) AS v_ts FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS c_ts
          FROM events e JOIN v ON e.user_id = v.user_id
           AND e.ts > v.v_ts AND e.ts <= v.v_ts + INTERVAL 24 HOUR
          WHERE e.event_type = 'click' GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS p_ts
          FROM events e JOIN c ON e.user_id = c.user_id
           AND e.ts > c.c_ts AND e.ts <= c.c_ts + INTERVAL 24 HOUR
          WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT 'view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
    UNION ALL
    SELECT 'view>click', CAST(COUNT(*) AS BIGINT) FROM c
    UNION ALL
    SELECT 'view>click>purchase', CAST(COUNT(*) AS BIGINT) FROM p
    """,
    bench=True,
)
def funnel_conversion(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered-funnel conversion (view → click within 24h → purchase
    within 24h of the click):
    per-user stage timestamps via three conditional window minima over
    ONE user-partitioned exchange (each stage's min is conditioned on
    the previous stage's timestamp, so the passes chain in-partition —
    no self-joins; the oracle's join cascade is the naive formulation).
    Output: users reaching each funnel stage."""
    w = Window.partitionBy("user_id")
    ev = load(spark, sf, "events").select("user_id", "event_type", "ts")
    staged = (
        ev.withColumn(
            "v_ts", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "c_ts",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("v_ts"))
                    & (F.col("ts") <= F.col("v_ts") + F.expr("INTERVAL 24 HOUR")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "p_ts",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("c_ts"))
                    & (F.col("ts") <= F.col("c_ts") + F.expr("INTERVAL 24 HOUR")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("v_ts").alias("v_ts"),
        F.max("c_ts").alias("c_ts"),
        F.max("p_ts").alias("p_ts"),
    )
    counts = per_user.agg(
        F.count("v_ts").alias("_v"),
        F.count("c_ts").alias("_c"),
        F.count("p_ts").alias("_p"),
    )
    return counts.selectExpr(
        "stack(3, 'view', _v, 'view>click', _c, 'view>click>purchase', _p)"
        " AS (stage, n_users)"
    )


@register(
    "cohort_retention",
    """
    WITH f AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
      FROM events GROUP BY user_id),
    act AS (
      SELECT DISTINCT e.user_id, f.cohort,
             CAST(date_diff('day', f.cohort, date_trunc('week', e.ts)) / 7 AS BIGINT) AS week_offset
      FROM events e JOIN f ON e.user_id = f.user_id)
    SELECT CAST(cohort AS VARCHAR) AS cohort_week, week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM act GROUP BY cohort, week_offset
    """,
)
def cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-event week, then
    distinct-active counts per (cohort, week offset) — the standard
    retention triangle. Two user-keyed aggregates and one join; both
    engines truncate weeks to Monday in pinned-UTC time so the buckets
    agree exactly."""
    ev = load(spark, sf, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    act = (
        ev.join(first, "user_id")
        .select(
            "user_id",
            "cohort",
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.col("cohort").cast("date"),
                )
                / 7
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .distinct()
    )
    return act.groupBy(
        F.col("cohort").cast("date").cast("string").alias("cohort_week"),
        "week_offset",
    ).agg(F.count(F.lit(1)).alias("n_active"))


@register(
    "event_id_gaps",
    """
    SELECT CAST(floor(event_id / 1000) AS BIGINT) AS bucket,
           MIN(event_id) AS lo, MAX(event_id) AS hi,
           CAST(COUNT(*) AS BIGINT) AS n,
           MAX(event_id) - MIN(event_id) + 1 - COUNT(*) AS n_missing_within
    FROM events GROUP BY 1
    """,
)
def event_id_gaps(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence-gap detection (≙ the reference writer's message-number
    gap check, ``writers/BaseWriter.scala:65-75,122-126``) done the
    scalable way: per id-bucket density accounting (max-min+1 vs count)
    in ONE hash aggregate — the naive ``lead() OVER (ORDER BY id)``
    needs a single-partition global sort and dies at 100 TB. Buckets
    with n_missing_within > 0 localize the gap to a 1000-id range for
    a second targeted pass."""
    ev = load(spark, sf, "events")
    return (
        ev.groupBy(F.floor(F.col("event_id") / 1000).cast("bigint").alias("bucket"))
        .agg(
            F.min("event_id").alias("lo"),
            F.max("event_id").alias("hi"),
            F.count(F.lit(1)).alias("n"),
            (
                F.max("event_id") - F.min("event_id") + 1 - F.count(F.lit(1))
            ).alias("n_missing_within"),
        )
    )


@register("embedding_near_dup_fast", None)  # FP ULP drift → rows-only
def embedding_near_dup_fast(spark: SparkSession, sf: str) -> DataFrame:
    """Production twin of embedding_near_dup: identical blocked all-pairs
    plan, double-arithmetic dot products (~2× cheaper than the
    oracle-exact decimal fold). Pair-set agreement with the exact path
    is pinned in tests/test_ann_recall.py."""
    emb = load(spark, sf, "embeddings")
    return SIM.blocked_pairs_cosine(emb, "label", threshold=0.3, arith="double")


@register(
    "events_robust_outliers",
    """
    WITH med AS (
      SELECT event_type, CAST(quantile_cont(value, 0.5) AS DOUBLE) AS med
      FROM events GROUP BY event_type),
    mad AS (
      SELECT e.event_type,
             CAST(quantile_cont(abs(e.value - m.med), 0.5) AS DOUBLE) AS mad
      FROM events e JOIN med m ON e.event_type = m.event_type
      GROUP BY e.event_type)
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN abs(e.value - m.med) > 5 * d.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(CAST(MAX(abs(e.value - m.med) / d.mad) AS DOUBLE), 9) AS worst_dev
    FROM events e JOIN med m ON e.event_type = m.event_type
                  JOIN mad d ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
)
def events_robust_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Robust (median/MAD) outlier detection per event type — the
    data-quality screen that survives heavy tails where mean/stddev
    z-scores break. Two grouped exact percentiles (swap
    percentile_approx at 100 TB) + one conditional aggregate, all
    joined on the low-cardinality type key (broadcast-sized)."""
    ev = load(spark, sf, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").cast("double").alias("_med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "_adev", F.abs(F.col("value") - F.col("_med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(_adev, 0.5)").cast("double").alias("_mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("_adev") > 5 * F.col("_mad"), 1).otherwise(0)
            ).alias("n_outliers"),
            F.round(F.max(F.col("_adev") / F.col("_mad")), 9).alias("worst_dev"),
        )
    )


@register(
    "daily_revenue_ma7",
    """
    WITH daily AS (
      SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS rev
      FROM orders GROUP BY 1)
    SELECT day,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(SUM(rev) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / COUNT(*) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma7,
           CAST(rev - lag(rev) OVER (ORDER BY day) AS DOUBLE) AS delta
    FROM daily
    """,
)
def daily_revenue_ma7(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series features over the daily revenue series: 7-day moving
    average and day-over-day delta. The moving SUM runs over exact
    DECIMAL daily totals (summation-order-free, so any aggregation
    order agrees bit-for-bit) and casts to DOUBLE only at the end.
    The 7-row frame and the lag are computed WITHOUT a
    single-partition window: distributed global row index
    (``operators/windows.py``), each row fans its revenue out to the 7
    indices it covers (explode + hash aggregate), and lag is an
    equi-join on index-1."""
    daily = (
        load(spark, sf, "orders")
        .groupBy(
            F.col("o_orderdate").cast("date").cast("string").alias("day")
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("_rev"))
    )
    # Bounded frame (O(distinct days) at any corpus size) → the
    # single-partition bounded rank, not the range-partitioned helper:
    # same row_number, ~4 fewer jobs, no persist needed.
    r = with_bounded_rank(daily, ["day"], out="_i")
    contrib = r.select(
        F.explode(F.sequence(F.col("_i"), F.col("_i") + 6)).alias("_i"), "_rev"
    )
    m = contrib.groupBy("_i").agg(
        F.sum("_rev").alias("_s"), F.count(F.lit(1)).alias("_k")
    )
    prev = r.select((F.col("_i") + 1).alias("_i"), F.col("_rev").alias("_prev"))
    return (
        r.join(m, "_i")
        .join(prev, "_i", "left")
        .select(
            "day",
            F.col("_rev").cast("double").alias("revenue"),
            (F.col("_s").cast("double") / F.col("_k")).alias("ma7"),
            (F.col("_rev") - F.col("_prev")).cast("double").alias("delta"),
        )
    )


@register(
    "tfidf_keywords",
    r"""
    WITH tf AS (
      SELECT doc_id, word, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word
            FROM documents)
      GROUP BY doc_id, word),
    df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY word),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.word,
             round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 9) AS tfidf
      FROM tf JOIN df ON tf.word = df.word CROSS JOIN n)
    SELECT doc_id, word, tfidf, rk FROM (
      SELECT doc_id, word, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, word) AS rk
      FROM scored)
    WHERE rk <= 3
    """,
)
def tfidf_keywords(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (smoothed idf = ln((N+1)/
    (df+1))+1). Term frequencies and document frequencies are two
    hash aggregates off one explode; N is a 1-row broadcast; ranking is
    a doc-partitioned window (no global sort). idf doubles derive from
    identical integers in both engines, and the rank orders by the
    ROUNDED score + word tiebreak so engine ULPs cannot flip rows."""
    docs = load(spark, sf, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("word")
    )
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "word")
        .join(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                9,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "word", "tfidf", "rk")
    )


@register(
    "doc_unigram_logprob",
    r"""
    WITH w AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word
      FROM documents),
    cnt AS (SELECT word, COUNT(*) AS c FROM w GROUP BY word),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t, COUNT(*) AS v FROM cnt)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           round(SUM(ln((cnt.c + 1.0) / (tot.t + tot.v))) / COUNT(*), 9) AS mean_logprob
    FROM w JOIN cnt USING (word) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def doc_unigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-LM quality score (the CCNet/perplexity-filter shape with a
    unigram model): mean add-1-smoothed log P(word) per document — docs
    far below the corpus median read as gibberish/boilerplate and get
    filtered. One explode feeds both the vocabulary counts and the
    per-doc scoring join; the vocabulary side is corpus-small (hash
    join, AQE broadcasts it); log doubles derive from identical
    integers so only the per-doc summation needs the rounding guard."""
    docs = load(spark, sf, "documents")
    w = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("word")
    )
    cnt = w.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.agg(
        F.sum("c").cast("bigint").alias("t"), F.count(F.lit(1)).alias("v")
    )
    return (
        w.join(cnt, "word")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.round(
                F.sum(F.log((F.col("c") + 1.0) / (F.col("t") + F.col("v"))))
                / F.count(F.lit(1)),
                9,
            ).alias("mean_logprob"),
        )
    )


# One SQL string, two engines: the query below registers the catalog as
# temp views and executes EXACTLY the oracle text through spark.sql —
# the ANSI-SQL surface of the engine (users can bring raw SQL, not just
# the DataFrame builders).
_SQL_PASSTHROUGH = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderstatus <> 'F'
    GROUP BY o_orderpriority
"""


@register("sql_passthrough_priority_totals", _SQL_PASSTHROUGH)
def sql_passthrough(spark: SparkSession, sf: str) -> DataFrame:
    """Raw-SQL entry point: the catalog registers as temp views and the
    ORACLE STRING ITSELF runs through spark.sql — byte-identical SQL on
    both engines, proving the ANSI surface (Catalyst still applies
    pushdown/pruning exactly as for the DataFrame builders)."""
    from .catalog import register_views

    register_views(spark, sf)
    return spark.sql(_SQL_PASSTHROUGH)


@register(
    "referential_integrity_audit",
    """
    SELECT 'lineitem->orders' AS fk, CAST(COUNT(*) AS BIGINT) AS n_orphans
    FROM lineitem l WHERE NOT EXISTS (
      SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'orders->customer', CAST(COUNT(*) AS BIGINT)
    FROM orders o WHERE NOT EXISTS (
      SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'customer->nation', CAST(COUNT(*) AS BIGINT)
    FROM customer c WHERE NOT EXISTS (
      SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
    """,
)
def referential_integrity_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Referential-integrity audit across the star schema's FK edges —
    the ingestion-time counterpart of the reference's FK-ordered writes
    (a pipeline that REMAPS keys must first know which are orphaned).
    Each edge is one left_anti equi-join; parent key sides are
    dimension-sized or AQE-planned."""
    li = load(spark, sf, "lineitem").select("l_orderkey")
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer")
    n = load(spark, sf, "nation").select("n_nationkey")

    def orphans(child, parent, cond, tag):
        return (
            child.join(parent, cond, "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(tag).alias("fk"), "n_orphans")
        )

    return (
        orphans(li, o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "lineitem->orders")
        .unionByName(
            orphans(o.select("o_custkey"), c.select("c_custkey"),
                    o.o_custkey == c.c_custkey, "orders->customer")
        )
        .unionByName(
            orphans(c.select("c_nationkey"), n,
                    c.c_nationkey == F.col("n_nationkey"), "customer->nation")
        )
    )


@register(
    "fuzzy_customer_pairs",
    """
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    WHERE a.c_nationkey = 3
      AND levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def fuzzy_customer_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Entity resolution by blocked fuzzy matching: candidate pairs form
    inside a block key (nation — at 100 TB use phonetic/prefix blocks),
    then edit distance ≤ 1 flags likely duplicate identities. The
    quadratic stays partition-local to the block; levenshtein is
    JVM-side in both engines with identical semantics."""
    c = load(spark, sf, "customer").filter(F.col("c_nationkey") == 3)
    a = c.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("_na"),
        F.col("c_nationkey").alias("_blk"),
    )
    b = c.select(
        F.col("c_custkey").alias("id_b"),
        F.col("c_name").alias("_nb"),
        F.col("c_nationkey").alias("_blk"),
    )
    return (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        # Bounded levenshtein (3-arg, Spark 3.5+): banded O(n*k) DP
        # with early exit instead of the full O(n*m) table; returns -1
        # past the bound, so >= 0 IS the <= 1 predicate.
        .withColumn("dist", F.levenshtein("_na", "_nb", 1).cast("bigint"))
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", "dist")
    )


@register(
    "customer_golden_records",
    """
    WITH RECURSIVE
    c AS (SELECT c_custkey, c_name, c_acctbal, c_mktsegment
          FROM customer WHERE c_nationkey = 3),
    pairs AS (
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
      FROM c a JOIN c b ON a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 1),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach AS (SELECT id, id AS r FROM nodes
              UNION
              SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id),
    comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
    labeled AS (
      SELECT c.*, COALESCE(comp.component, c.c_custkey) AS entity
      FROM c LEFT JOIN comp ON c.c_custkey = comp.id),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY entity
                                ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
      FROM labeled)
    SELECT CAST(entity AS BIGINT) AS golden_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MAX(CASE WHEN rn = 1 THEN c_name END) AS survivor_name,
           CAST(MAX(c_acctbal) AS DOUBLE) AS best_balance,
           CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments
    FROM ranked
    GROUP BY entity
    """,
)
def customer_golden_records(spark: SparkSession, sf: str) -> DataFrame:
    """Master-data golden records: blocked fuzzy match (edit distance ≤1
    inside the nation block) → transitive entity closure
    (connected_components — the star path at scale, recursive CTE in
    the oracle) → survivorship merge per entity (name from the member
    with the highest (acctbal, custkey); singletons are their own
    golden record via the left join + coalesce). The end-to-end MDM
    pipeline the reference's CRM use cases feed by hand."""
    c = (
        load(spark, sf, "customer")
        .filter(F.col("c_nationkey") == 3)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment", "c_nationkey")
    )
    # the block key is an EQUI-join key (here one nation survives the
    # filter, but the shape is what keeps the quadratic block-local at
    # scale — same as fuzzy_customer_pairs)
    a = c.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("_na"),
        F.col("c_nationkey").alias("_blk"),
    )
    b = c.select(
        F.col("c_custkey").alias("id_b"),
        F.col("c_name").alias("_nb"),
        F.col("c_nationkey").alias("_blk"),
    )
    pairs = (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.levenshtein("_na", "_nb", 1) >= 0)
        .select("id_a", "id_b")
    )
    c = c.drop("c_nationkey")
    comp = D.connected_components(pairs)
    labeled = c.join(
        comp, c.c_custkey == comp.node, "left"
    ).withColumn("entity", F.coalesce("component", "c_custkey"))
    w = Window.partitionBy("entity").orderBy(
        F.desc("c_acctbal"), F.desc("c_custkey")
    )
    return (
        labeled.withColumn("rn", F.row_number().over(w))
        .groupBy("entity")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(F.when(F.col("rn") == 1, F.col("c_name"))).alias(
                "survivor_name"
            ),
            F.max("c_acctbal").cast("double").alias("best_balance"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
        )
        .select(
            F.col("entity").cast("bigint").alias("golden_id"),
            "n_members",
            "survivor_name",
            "best_balance",
            "n_segments",
        )
    )


@register(
    "source_quality_scorecard",
    r"""
    WITH w AS (
      SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS ws
      FROM documents),
    feats AS (
      SELECT doc_id, source, len(ws) AS n_words,
             CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS dwf
      FROM w),
    u AS (SELECT doc_id, unnest(ws) AS word FROM w),
    cnt AS (SELECT word, COUNT(*) AS c FROM u GROUP BY word),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t, COUNT(*) AS v FROM cnt),
    lp AS (
      SELECT u.doc_id,
             SUM(ln((cnt.c + 1.0) / (tot.t + tot.v))) / COUNT(*) AS mean_lp
      FROM u JOIN cnt USING (word) CROSS JOIN tot GROUP BY u.doc_id)
    SELECT f.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(f.n_words AS BIGINT)) AS BIGINT) AS n_tokens,
           round(SUM(f.dwf) / COUNT(*), 9) AS mean_distinct_frac,
           round(SUM(lp.mean_lp) / COUNT(*), 9) AS mean_logprob,
           CAST(SUM(CASE WHEN f.dwf >= 0.4 THEN 1 ELSE 0 END) AS BIGINT) AS n_diverse
    FROM feats f JOIN lp ON f.doc_id = lp.doc_id
    GROUP BY f.source
    """,
)
def source_quality_scorecard(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source quality scorecard — the table a data-mixing decision
    actually reads: volume (docs/tokens), lexical diversity, corpus-LM
    log-prob, and the diversity pass count, one row per source. Word
    diversity is the shuffle-free array path; log-probs reuse the
    unigram model join; the final rollup is one source-keyed aggregate.
    Per-doc doubles are identical cross-engine, and per-source sums are
    rounded to absorb summation-order ULPs."""
    docs = load(spark, sf, "documents")
    w = docs.select(
        "doc_id", "source", F.split(F.trim("text"), r"\s+").alias("_w")
    )
    feats = w.select(
        "doc_id",
        "source",
        F.size("_w").alias("n_words"),
        (F.size(F.array_distinct("_w")).cast("double") / F.size("_w")).alias(
            "dwf"
        ),
    )
    u = w.select("doc_id", F.explode("_w").alias("word"))
    cnt = u.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.agg(
        F.sum("c").cast("bigint").alias("t"), F.count(F.lit(1)).alias("v")
    )
    lp = (
        u.join(cnt, "word")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.log((F.col("c") + 1.0) / (F.col("t") + F.col("v"))))
                / F.count(F.lit(1))
            ).alias("mean_lp")
        )
    )
    return (
        feats.join(lp, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_words").cast("bigint")).alias("n_tokens"),
            F.round(F.sum("dwf") / F.count(F.lit(1)), 9).alias(
                "mean_distinct_frac"
            ),
            F.round(F.sum("mean_lp") / F.count(F.lit(1)), 9).alias(
                "mean_logprob"
            ),
            F.sum(F.when(F.col("dwf") >= 0.4, 1).otherwise(0)).alias(
                "n_diverse"
            ),
        )
    )


@register(
    "sample_training_mix",
    r"""
    WITH per_source AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM per_source),
    den AS (SELECT SUM(sqrt(CAST(p.n_tokens AS DOUBLE) / tot.t)) AS d
            FROM per_source p CROSS JOIN tot),
    rates AS (
      SELECT p.source, p.n_docs,
             least(1.0, floor(sqrt(CAST(p.n_tokens AS DOUBLE) / tot.t) / den.d * 200)
                        / p.n_docs) AS rate
      FROM per_source p CROSS JOIN tot CROSS JOIN den)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN
             CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000
             < CAST(floor(r.rate * 10000) AS BIGINT)
             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents d JOIN rates r ON d.source = r.source
    GROUP BY d.source
    """,
)
def sample_training_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Materialize the training mix: convert the sqrt-temperature
    weights into per-source keep-rates against a 200-doc budget, then
    select documents with the deterministic md5 bucket — the same
    content-keyed membership as hash_split, so the sampled mix is
    reproducible across runs, engines, and partition layouts. The rate
    table is |sources| rows (broadcast); sampling is a pure map."""
    from .operators import sampling as SA
    from .operators import text as T2

    docs = load(spark, sf, "documents")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(T2.token_count(F.col("text")).cast("bigint")).alias("n_tokens"),
    )
    tot = per_source.agg(F.sum("n_tokens").cast("bigint").alias("t"))
    shared = per_source.join(F.broadcast(tot)).withColumn(
        "_sq", F.sqrt(F.col("n_tokens").cast("double") / F.col("t"))
    )
    den = shared.agg(F.sum("_sq").alias("d"))
    rates = (
        shared.join(F.broadcast(den))
        .withColumn(
            "rate",
            F.least(
                F.lit(1.0),
                F.floor(F.col("_sq") / F.col("d") * 200) / F.col("n_docs"),
            ),
        )
        .select("source", "rate")
    )
    kept = F.when(
        SA.hash_bucket(F.col("doc_id"))
        < F.floor(F.col("rate") * 10000).cast("bigint"),
        1,
    ).otherwise(0)
    return (
        docs.join(F.broadcast(rates), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(kept).alias("n_kept"),
        )
    )


@register(
    "abandoned_views_hourly",
    """
    SELECT date_trunc('hour', v.ts) AS bucket_start,
           CAST(COUNT(*) AS BIGINT) AS n_views,
           CAST(SUM(CASE WHEN p.event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_abandoned
    FROM events v LEFT JOIN events p
      ON p.user_id = v.user_id AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    WHERE v.event_type = 'view'
    GROUP BY 1
    """,
)
def abandoned_views_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Abandonment rate per hour: views with NO same-user purchase in
    the following hour (the left-outer twin of the attribution join).
    Left join on user_id with the interval as a post-filter, then an
    hourly rollup."""
    ev = load(spark, sf, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    joined = v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    return (
        joined.groupBy(F.date_trunc("hour", "v_ts").alias("bucket_start"))
        .agg(
            F.count(F.lit(1)).alias("n_views"),
            F.sum(F.when(F.col("p_id").isNull(), 1).otherwise(0)).alias(
                "n_abandoned"
            ),
        )
    )


@register(
    "label_centroids",
    """
    SELECT label, CAST(dim AS BIGINT) AS dim,
           CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 1000000000.0 + 0.5)
                         AS BIGINT)) AS DOUBLE)
             / 1000000000.0 / COUNT(*) AS mean_val
    FROM (SELECT label, unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) AS dim
          FROM embeddings)
    GROUP BY label, dim
    """,
)
def label_centroids(spark: SparkSession, sf: str) -> DataFrame:
    """Per-cluster centroids of the embedding corpus in long format
    (label, dim, mean) — the explicit coarse quantizer behind the IVF
    path, and the statistic an embedding-drift monitor tracks release
    over release. posexplode → one (label, dim)-keyed partial-agg
    shuffle. Values quantize to 1e-9 via floor(v*1e9 + 0.5) and sum as
    BIGINT — NOT a decimal cast: Spark casts double→decimal HALF_UP
    while DuckDB rounds half-to-EVEN, and a float32 sitting exactly on
    the half boundary (0.1494140625 at sf0.1) diverges the engines;
    the explicit floor form is the same IEEE ops on both sides."""
    emb = load(spark, sf, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding"))
        .groupBy("label", (F.col("pos") + 1).cast("bigint").alias("dim"))
        .agg(
            (
                F.sum(
                    F.floor(
                        F.col("col").cast("double") * F.lit(1000000000.0)
                        + F.lit(0.5)
                    ).cast("bigint")
                ).cast("double")
                / F.lit(1000000000.0)
                / F.count(F.lit(1))
            ).alias("mean_val")
        )
    )


@register(
    "source_overlap_matrix",
    """
    WITH sh AS (
      SELECT DISTINCT source,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(text) - 19, 1)),
               i -> substring(text, i, 20)))) AS shingle
      FROM documents),
    sz AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY a.source, b.source)
    SELECT src_a, src_b, CAST(n_shared AS BIGINT) AS n_shared,
           round(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 9) AS jaccard
    FROM inter JOIN sz sa ON src_a = sa.source JOIN sz sb ON src_b = sb.source
    WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.01
    """,
)
def source_overlap_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source content overlap (which feeds duplicate each other):
    sources collapse to distinct 20-char shingle SETS — |sources| rows
    of postings, thousands of times smaller than the doc-level pair
    problem — then source-pair Jaccard via one shingle-keyed join. The
    curation heatmap that decides which source to drop when two feeds
    mirror the same content."""
    docs = load(spark, sf, "documents")
    # bucket-explode instead of a self-join: the self-join recomputes
    # the shingle scan per alias (no exchange reuse across subtree
    # aliases — same lesson as the LSH pair generation). ONE shuffle:
    # raw (src, shingle) postings groupBy shingle with collect_set (the
    # set dedups, so no separate distinct exchange); per-source sizes
    # AND source pairs both derive from the bucket sets. Buckets are
    # bounded by |sources|, so the in-bucket quadratic is ≤ 190 pairs.
    raw = D.char_shingles(
        docs.select(F.col("source"), "text"), "text", "source", 20, distinct=False
    ).withColumnRenamed("source", "src")
    buckets = raw.groupBy("shingle").agg(
        F.array_sort(F.collect_set("src")).alias("ss")
    )
    sz = (
        buckets.select(F.explode("ss").alias("src"))
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    inter = (
        buckets.filter(F.size("ss") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (x, i) -> "
                    "transform(slice(ss, i + 2, size(ss)), "
                    "y -> struct(x AS src_a, y AS src_b))))"
                )
            ).alias("p")
        )
        .groupBy("p.src_a", "p.src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    jac = F.col("n_shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_shared")
    )
    return (
        inter.join(
            F.broadcast(sz.select(F.col("src").alias("src_a"), F.col("n").alias("na"))),
            "src_a",
        )
        .join(
            F.broadcast(sz.select(F.col("src").alias("src_b"), F.col("n").alias("nb"))),
            "src_b",
        )
        .filter(jac >= 0.01)
        .select(
            "src_a", "src_b", "n_shared", F.round(jac, 9).alias("jaccard")
        )
    )


@register(
    "quality_tier_counts",
    r"""
    WITH w AS (
      SELECT doc_id, source, unnest(string_split_regex(trim(text), '\s+')) AS word
      FROM documents),
    cnt AS (SELECT word, COUNT(*) AS c FROM w GROUP BY word),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t, COUNT(*) AS v FROM cnt),
    lp AS (
      SELECT w.doc_id, w.source,
             round(SUM(ln((cnt.c + 1.0) / (tot.t + tot.v))) / COUNT(*), 9) AS mean_lp
      FROM w JOIN cnt USING (word) CROSS JOIN tot
      GROUP BY w.doc_id, w.source),
    thr AS (
      SELECT CAST(quantile_cont(mean_lp, 0.10) AS DOUBLE) AS p10,
             CAST(quantile_cont(mean_lp, 0.50) AS DOUBLE) AS p50,
             CAST(quantile_cont(mean_lp, 0.90) AS DOUBLE) AS p90
      FROM lp)
    SELECT source,
           CASE WHEN mean_lp < thr.p10 THEN 'low'
                WHEN mean_lp < thr.p50 THEN 'mid_low'
                WHEN mean_lp < thr.p90 THEN 'mid_high'
                ELSE 'high' END AS tier,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM lp CROSS JOIN thr
    GROUP BY source, tier
    """,
)
def quality_tier_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-relative quality calibration: docs bucket into tiers by
    the CORPUS percentiles of their LM score — two passes (score, then
    a 1-row threshold aggregate broadcast back), never a global sort or
    single-partition window. Per-doc scores round to 9 digits BEFORE
    thresholding on both engines so summation-order ULPs cannot flip a
    doc across a tier boundary."""
    docs = load(spark, sf, "documents")
    w = docs.select(
        "doc_id", "source", F.explode(F.split(F.trim("text"), r"\s+")).alias("word")
    )
    cnt = w.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.agg(
        F.sum("c").cast("bigint").alias("t"), F.count(F.lit(1)).alias("v")
    )
    lp = (
        w.join(cnt, "word")
        .join(F.broadcast(tot))
        .groupBy("doc_id", "source")
        .agg(
            F.round(
                F.sum(F.log((F.col("c") + 1.0) / (F.col("t") + F.col("v"))))
                / F.count(F.lit(1)),
                9,
            ).alias("mean_lp")
        )
    )
    thr = lp.agg(
        F.expr("percentile(mean_lp, 0.10)").cast("double").alias("p10"),
        F.expr("percentile(mean_lp, 0.50)").cast("double").alias("p50"),
        F.expr("percentile(mean_lp, 0.90)").cast("double").alias("p90"),
    )
    tier = (
        F.when(F.col("mean_lp") < F.col("p10"), "low")
        .when(F.col("mean_lp") < F.col("p50"), "mid_low")
        .when(F.col("mean_lp") < F.col("p90"), "mid_high")
        .otherwise("high")
    )
    return (
        lp.join(F.broadcast(thr))
        .groupBy("source", tier.alias("tier"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "dedup_keep_best",
    r"""
    WITH RECURSIVE
    sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 8) AS shingle
           FROM documents,
                UNNEST(range(1, greatest(length(text) - 6, 2))) AS t(i)),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS nc
              FROM sh a JOIN sh b USING (shingle)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
    pairs AS (SELECT id_a, id_b
              FROM inter JOIN sz sa ON id_a = sa.doc_id
                         JOIN sz sb ON id_b = sb.doc_id
              WHERE CAST(nc AS DOUBLE) / (sa.n + sb.n - nc) >= 0.6),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach AS (SELECT id, id AS r FROM nodes
              UNION
              SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id),
    comp AS (SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS component
             FROM reach GROUP BY id),
    w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
          FROM documents),
    q AS (SELECT doc_id,
                 round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 9) AS score
          FROM w),
    grouped AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component, q.score
      FROM documents d LEFT JOIN comp c USING (doc_id) JOIN q USING (doc_id))
    SELECT doc_id, component, score FROM (
      SELECT doc_id, component, score,
             row_number() OVER (PARTITION BY component
                                ORDER BY score DESC, doc_id) AS rk
      FROM grouped)
    WHERE rk = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    """Keep-BEST dedup: one survivor per near-dup cluster, chosen by
    quality (lexical diversity; ties break to the lower id) instead of
    the arbitrary min-id canonical — the policy a training pipeline
    actually wants (near-dups differ by boilerplate; keep the cleanest).
    Components from min-label propagation; survivor selection is a
    component-partitioned window (singleton docs are their own
    component, so the whole corpus flows through one rank)."""
    docs = load(spark, sf, "documents")
    prs = D.ngram_jaccard_pairs(docs, "text", "doc_id", k=8, threshold=0.6)
    comp = D.connected_components(prs).withColumnRenamed("node", "doc_id")
    ws = F.split(F.trim("text"), r"\s+")
    q = docs.select(
        "doc_id",
        F.round(
            F.size(F.array_distinct(ws)).cast("double") / F.size(ws), 9
        ).alias("score"),
    )
    grouped = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .withColumn("component", F.coalesce("component", "doc_id"))
        .join(q, "doc_id")
    )
    w = Window.partitionBy("component").orderBy(F.desc("score"), "doc_id")
    return (
        grouped.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "component", "score")
    )


@register(
    "customer_rfm_segments",
    """
    WITH ref AS (SELECT MAX(o_orderdate) AS mx FROM orders),
    rfm AS (
      SELECT o_custkey,
             CAST(date_diff('day', MAX(o_orderdate), ref.mx) AS BIGINT) AS recency,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS monetary
      FROM orders CROSS JOIN ref GROUP BY o_custkey, ref.mx),
    thr AS (
      SELECT CAST(quantile_cont(recency, 0.5) AS DOUBLE) AS r_med,
             CAST(quantile_cont(frequency, 0.5) AS DOUBLE) AS f_med,
             CAST(quantile_cont(monetary, 0.5) AS DOUBLE) AS m_med
      FROM rfm)
    SELECT concat(CASE WHEN recency <= thr.r_med THEN 'R+' ELSE 'R-' END,
                  CASE WHEN frequency > thr.f_med THEN 'F+' ELSE 'F-' END,
                  CASE WHEN monetary > thr.m_med THEN 'M+' ELSE 'M-' END) AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           round(SUM(monetary), 2) AS total_monetary
    FROM rfm CROSS JOIN thr
    GROUP BY segment
    """,
)
def customer_rfm_segments(spark: SparkSession, sf: str) -> DataFrame:
    """RFM segmentation: per-customer recency/frequency/monetary roll-up,
    median thresholds computed once and broadcast back (two-pass, no
    global sort), customers bucketed into the 8 R±F±M± segments. All
    comparisons run on doubles derived from identical ints/decimals;
    the segment monetary total rounds to absorb summation-order ULPs."""
    o = load(spark, sf, "orders")
    ref = o.agg(F.max("o_orderdate").alias("_mx"))
    rfm = (
        o.join(F.broadcast(ref))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.max("_mx").cast("date"), F.max("o_orderdate").cast("date"))
            .cast("bigint")
            .alias("recency"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
            .cast("double")
            .alias("monetary"),
        )
    )
    thr = rfm.agg(
        F.expr("percentile(recency, 0.5)").cast("double").alias("r_med"),
        F.expr("percentile(frequency, 0.5)").cast("double").alias("f_med"),
        F.expr("percentile(monetary, 0.5)").cast("double").alias("m_med"),
    )
    seg = F.concat(
        F.when(F.col("recency") <= F.col("r_med"), "R+").otherwise("R-"),
        F.when(F.col("frequency") > F.col("f_med"), "F+").otherwise("F-"),
        F.when(F.col("monetary") > F.col("m_med"), "M+").otherwise("M-"),
    )
    return (
        rfm.join(F.broadcast(thr))
        .groupBy(seg.alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("monetary"), 2).alias("total_monetary"),
        )
    )


@register(
    "basket_part_pairs",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM items),
    part_freq AS (SELECT l_partkey, COUNT(*) AS f FROM items GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_both
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(*) >= 3)
    SELECT part_a, part_b, CAST(n_both AS BIGINT) AS n_both,
           round(CAST(n_both AS DOUBLE) * n_orders.n
                 / (fa.f * CAST(fb.f AS DOUBLE)), 9) AS lift
    FROM pairs
      JOIN part_freq fa ON part_a = fa.l_partkey
      JOIN part_freq fb ON part_b = fb.l_partkey
      CROSS JOIN n_orders
    """,
)
def basket_part_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket co-occurrence with lift: part pairs appearing in ≥3
    of the same orders, scored by lift = P(ab)/(P(a)·P(b)). The
    self-join is keyed on the order (baskets are small, so the
    in-basket pair fan-out is bounded by basket size², not corpus
    size); frequencies and the order count are broadcast-sized sides."""
    items = (
        load(spark, sf, "lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    n_orders = items.agg(F.countDistinct("l_orderkey").alias("n"))
    part_freq = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("f"))
    a = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 3)
    )
    return (
        pairs.join(
            part_freq.select(F.col("l_partkey").alias("part_a"), F.col("f").alias("fa")),
            "part_a",
        )
        .join(
            part_freq.select(F.col("l_partkey").alias("part_b"), F.col("f").alias("fb")),
            "part_b",
        )
        .join(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                * F.col("n")
                / (F.col("fa") * F.col("fb").cast("double")),
                9,
            ).alias("lift"),
        )
    )


@register(
    "chunk_dup_stats",
    """
    WITH ch AS (
      SELECT doc_id, unnest(list_transform(
        generate_series(0, greatest(0, CAST(ceil((len(text) - 100) / 100.0) AS INT))),
        i -> substring(text, i * 100 + 1, 100))) AS chunk
      FROM documents WHERE len(text) > 0),
    dup AS (SELECT md5(chunk) AS hsh, COUNT(*) AS c FROM ch GROUP BY md5(chunk))
    SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
           CAST(SUM(c) AS BIGINT) AS n_total_chunks,
           CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_in_dup_groups
    FROM dup
    """,
)
def chunk_dup_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Chunk-level duplication report: chunk the corpus into 100-char
    windows (operators/text.chunk_text, overlap 0), hash each chunk, and
    measure how much chunk mass sits in duplicate groups — duplication
    that document-level dedup misses and that inflates token counts
    after packing. One explode + one hash aggregate."""
    from .operators import text as T2

    chunks = T2.chunk_text(
        load(spark, sf, "documents"), size=100, overlap=0
    )
    dup = chunks.groupBy(F.md5("chunk").alias("hsh")).agg(
        F.count(F.lit(1)).alias("c")
    )
    return dup.agg(
        F.count(F.lit(1)).alias("n_distinct_chunks"),
        F.sum("c").cast("bigint").alias("n_total_chunks"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_in_dup_groups"),
    )


@register(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events),
    cnt AS (SELECT cur, nxt, COUNT(*) AS n FROM seq
            WHERE nxt IS NOT NULL GROUP BY cur, nxt),
    tot AS (SELECT cur, SUM(n) AS t FROM cnt GROUP BY cur)
    SELECT c.cur, c.nxt, CAST(c.n AS BIGINT) AS n,
           round(CAST(c.n AS DOUBLE) / t, 9) AS p
    FROM cnt c JOIN tot USING (cur)
    """,
)
def event_transition_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """First-order behavior model: P(next event type | current) from
    per-user event sequences — the transition matrix behind session
    simulation and anomaly scoring. One user-partitioned lead window
    (ordered by ts with event_id as the deterministic tiebreak for
    simultaneous events), then two low-cardinality aggregates."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = load(spark, sf, "events").select(
        "user_id",
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    cnt = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cnt.groupBy("cur").agg(F.sum("n").alias("t"))
    return cnt.join(tot, "cur").select(
        "cur",
        "nxt",
        "n",
        F.round(F.col("n").cast("double") / F.col("t"), 9).alias("p"),
    )


@register(
    "dau_wau_stickiness",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
    wau AS (
      SELECT d.day, COUNT(DISTINCT u.user_id) AS wau
      FROM (SELECT DISTINCT day FROM ud) d
      JOIN ud u ON u.day <= d.day AND u.day > d.day - 7
      GROUP BY d.day)
    SELECT CAST(dau.day AS VARCHAR) AS day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau,
           round(CAST(dau.dau AS DOUBLE) / wau.wau, 9) AS stickiness
    FROM dau JOIN wau ON dau.day = wau.day
    """,
)
def dau_wau_stickiness(spark: SparkSession, sf: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day. Rolling DISTINCT
    does not decompose into a window aggregate, so WAU joins the
    deduped (user, day) frame to the day spine with a 7-day band — a
    bounded 7× fan-out of user-days, NOT a global window (the
    single-partition trap) and NOT an approximation. At larger horizons
    swap HLL sketch unions per day."""
    ud = (
        load(spark, sf, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    days = ud.select("day").distinct().withColumnRenamed("day", "d")
    wau = (
        ud.join(
            days,
            (F.col("day") <= F.col("d"))
            & (F.col("day") > F.date_sub(F.col("d"), 7)),
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau.day == wau.d)
        .select(
            F.col("day").cast("string").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 9).alias(
                "stickiness"
            ),
        )
    )


@register(
    "shipping_delay_profile",
    """
    WITH d AS (
      SELECT o_orderpriority,
             CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT) AS delay
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(delay) AS BIGINT) AS min_days,
           CAST(quantile_cont(delay, 0.5) AS DOUBLE) AS median_days,
           CAST(quantile_cont(delay, 0.95) AS DOUBLE) AS p95_days,
           CAST(MAX(delay) AS BIGINT) AS max_days
    FROM d GROUP BY o_orderpriority
    """,
)
def shipping_delay_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Order→ship lead-time distribution per priority class: one fact
    join (AQE-planned) and a grouped profile with exact percentiles
    over integer day counts (identical interpolation in both engines;
    swap percentile_approx at 100 TB). The SLA view of the same join
    the TPC-H shapes exercise for revenue."""
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    d = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("bigint")
        .alias("delay"),
    )
    return d.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("delay").alias("min_days"),
        F.expr("percentile(delay, 0.5)").cast("double").alias("median_days"),
        F.expr("percentile(delay, 0.95)").cast("double").alias("p95_days"),
        F.max("delay").alias("max_days"),
    )


@register(
    "hapax_rate_by_source",
    r"""
    WITH w AS (
      SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS word
      FROM documents),
    c AS (SELECT source, word, COUNT(*) AS n FROM w GROUP BY source, word)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           round(CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 9) AS hapax_rate
    FROM c GROUP BY source
    """,
)
def hapax_rate_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary richness per source: the fraction of each source's
    vocabulary occurring exactly once (hapax legomena) — low hapax rate
    flags template/boilerplate feeds, very high flags OCR noise. Two
    partial-aggregated shuffles keyed by (source, word) then source."""
    docs = load(spark, sf, "documents")
    w = docs.select(
        "source", F.explode(F.split(F.trim("text"), r"\s+")).alias("word")
    )
    c = w.groupBy("source", "word").agg(F.count(F.lit(1)).alias("n"))
    return c.groupBy("source").agg(
        F.count(F.lit(1)).alias("vocab"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("hapax"),
        F.round(
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("hapax_rate"),
    )


@register(
    "grouping_sets_revenue",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), (o_orderpriority))
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind ROLLUP/CUBE,
    both already covered): three granularities in ONE scan — Spark
    expands the sets into a single Expand + aggregate instead of three
    scans unioned."""
    o = load(spark, sf, "orders")
    o.createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), (o_orderpriority))
        """
    )


@register(
    "zipf_slope",
    r"""
    WITH c AS (
      SELECT word, COUNT(*) AS f
      FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
            FROM documents)
      GROUP BY word),
    r AS (
      SELECT ln(CAST(row_number() OVER (ORDER BY f DESC, word) AS DOUBLE)) AS x,
             ln(CAST(f AS DOUBLE)) AS y
      FROM c),
    s AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * x) AS sxx, SUM(x * y) AS sxy
          FROM r)
    SELECT CAST(n AS BIGINT) AS vocab,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope
    FROM s
    """,
)
def zipf_slope(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf rank-frequency slope of the corpus vocabulary: least-squares
    fit of ln(freq) on ln(rank) via the closed-form co-moment formula
    (a regression AGGREGATE — one pass over the ranked vocabulary).
    Natural corpora sit near −1; strong deviation flags synthetic or
    templated text. Vocabulary ranking is a DISTRIBUTED global rank
    (``operators/windows.py`` — a web-scale corpus vocabulary does NOT
    fit one partition); the regression itself is a 1-row aggregate.
    Slope rounds to 6 digits to absorb summation-order ULPs in the
    co-moment sums."""
    docs = load(spark, sf, "documents")
    c = (
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    r = row_index(c, [F.desc("f"), F.col("word")], "_rk", start=1).select(
        F.log(F.col("_rk").cast("double")).alias("x"),
        F.log(F.col("f").cast("double")).alias("y"),
    )
    s = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    return s.select(
        n.cast("bigint").alias("vocab"),
        F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (n * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("slope"),
    )


@register(
    "doc_word_entropy",
    r"""
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
    c AS (
      SELECT doc_id, word, COUNT(*) AS n
      FROM (SELECT doc_id, unnest(ws) AS word FROM w) GROUP BY doc_id, word),
    t AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY doc_id)
    SELECT c.doc_id,
           round(ln(CAST(t.tot AS DOUBLE))
                 - SUM(n * ln(CAST(n AS DOUBLE))) / t.tot, 9) AS entropy
    FROM c JOIN t ON c.doc_id = t.doc_id
    GROUP BY c.doc_id, t.tot
    """,
)
def doc_word_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Shannon word entropy per document, SHUFFLE-FREE: sort the word
    array so equal words are adjacent, then a single ``aggregate`` fold
    accumulates Σ n_i·ln(n_i) over the run lengths; H = ln(N) − Σ/N.
    The oracle computes the identical quantity the relational way
    (per-word counts + join); the Spark plan is a pure map over the
    corpus — low entropy flags repetitive/templated docs, complementing
    the diversity fractions."""
    docs = load(spark, sf, "documents")
    run_term = (
        "aggregate(array_sort(_w), "
        "struct('' AS prev, 0L AS run, cast(0.0 AS double) AS acc), "
        "(a, w) -> struct(w AS prev, "
        "  if(w = a.prev, a.run + 1, 1L) AS run, "
        "  a.acc + if(w = a.prev, "
        # run grows r-1 → r: add r·ln(r) − (r−1)·ln(r−1) incrementally
        "    (a.run + 1) * ln(a.run + 1) - a.run * ln(a.run), "
        "    cast(0.0 AS double)) AS acc), "
        "a -> a.acc)"
    )
    w = F.split(F.trim("text"), r"\s+")
    base = docs.select(
        "doc_id", w.alias("_w")
    ).select(
        "doc_id",
        F.size("_w").alias("_n"),
        F.expr(run_term).alias("_sum_nlnn"),
    )
    return base.select(
        "doc_id",
        F.round(
            F.log(F.col("_n").cast("double")) - F.col("_sum_nlnn") / F.col("_n"),
            9,
        ).alias("entropy"),
    )


@register(
    "embedding_norm_profile",
    """
    WITH n AS (
      SELECT vec_id, label,
             sqrt(CAST(SUM(CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000000.0 + 0.5) AS DECIMAL(19,0))
               * CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000000.0 + 0.5) AS DECIMAL(19,0))) AS DOUBLE))
               / 1000000000.0 AS l2
      FROM embeddings, UNNEST(range(1, 65)) t(i) GROUP BY vec_id, label)
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           round(MIN(l2), 9) AS min_norm,
           round(CAST(quantile_cont(l2, 0.5) AS DOUBLE), 9) AS median_norm,
           round(MAX(l2), 9) AS max_norm
    FROM n GROUP BY label
    """,
)
def embedding_norm_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding health check: L2-norm distribution per cluster label —
    near-zero or wildly spread norms flag a broken encoder before any
    ANN index is built. Norms come from the exact-decimal dot product
    (bit-stable across engines); the profile is one grouped aggregate
    with an exact median."""
    emb = SIM.with_norm2(load(spark, sf, "embeddings"), "embedding", "n2")
    # n2 is DOT_SCALE (1e18)-scaled — sqrt gives 1e9×l2, rescale
    n = emb.select(
        "label",
        (F.sqrt(F.col("n2").cast("double")) / F.lit(1000000000.0)).alias("l2"),
    )
    return n.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.min("l2"), 9).alias("min_norm"),
        F.round(F.expr("percentile(l2, 0.5)").cast("double"), 9).alias(
            "median_norm"
        ),
        F.round(F.max("l2"), 9).alias("max_norm"),
    )


@register(
    "supplier_concentration_hhi",
    """
    WITH rev AS (
      SELECT n_name, s_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS r
      FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
      GROUP BY n_name, s_suppkey),
    tot AS (SELECT n_name, SUM(r) AS t FROM rev GROUP BY n_name)
    SELECT rev.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           round(SUM(POWER(CAST(rev.r AS DOUBLE) / CAST(tot.t AS DOUBLE), 2)), 9) AS hhi
    FROM rev JOIN tot ON rev.n_name = tot.n_name
    GROUP BY rev.n_name
    """,
)
def supplier_concentration_hhi(spark: SparkSession, sf: str) -> DataFrame:
    """Supplier revenue concentration per nation (Herfindahl index —
    Σ share²): HHI near 1/n means balanced supply, near 1 a single
    dominant supplier. Exact-decimal revenue shares; two nation-keyed
    aggregates with the totals joined back (dimension-sized side)."""
    li = load(spark, sf, "lineitem")
    supp = load(spark, sf, "supplier")
    nation = F.broadcast(load(spark, sf, "nation"))
    rev = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nation, supp.s_nationkey == F.col("n_nationkey"))
        .groupBy("n_name", "s_suppkey")
        .agg(
            F.sum(_m("l_extendedprice") * (F.lit(1) - _m("l_discount"))).alias("_r")
        )
    )
    tot = rev.groupBy("n_name").agg(F.sum("_r").alias("_t"))
    share = F.col("_r").cast("double") / F.col("_t").cast("double")
    return (
        rev.join(tot, "n_name")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum(F.pow(share, 2)), 9).alias("hhi"),
        )
    )


@register(
    "order_weekday_seasonality",
    """
    WITH d AS (
      SELECT dayname(o_orderdate) AS weekday,
             CAST(o_totalprice AS DECIMAL(14,2)) AS p
      FROM orders),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d)
    SELECT weekday,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           round(CAST(COUNT(*) AS DOUBLE) / tot.n, 9) AS order_share,
           CAST(SUM(p) AS DOUBLE) AS revenue
    FROM d CROSS JOIN tot
    GROUP BY weekday, tot.n
    """,
)
def order_weekday_seasonality(spark: SparkSession, sf: str) -> DataFrame:
    """Weekday seasonality of order volume and revenue. Weekday labels
    come from the locale-independent English day NAME (Spark's
    dayofweek() numbers Sunday=1 while DuckDB's numbers Sunday=0 — the
    name is the portable encoding); one low-cardinality aggregate plus
    a 1-row total broadcast."""
    o = load(spark, sf, "orders")
    tot = o.agg(F.count(F.lit(1)).alias("_n"))
    return (
        o.select(
            F.date_format("o_orderdate", "EEEE").alias("weekday"),
            F.col("o_totalprice").cast("decimal(14,2)").alias("_p"),
        )
        .join(F.broadcast(tot))
        .groupBy("weekday", "_n")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.count(F.lit(1)).cast("double") / F.col("_n"), 9).alias(
                "order_share"
            ),
            F.sum("_p").cast("double").alias("revenue"),
        )
        .drop("_n")
    )


@register(
    "snapshot_diff",
    """
    WITH old AS (
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(14,2)) AS p
      FROM orders WHERE o_orderkey % 3 <> 0),
    new AS (
      SELECT o_orderkey,
             CAST(o_totalprice AS DECIMAL(14,2))
               + CASE WHEN o_orderkey % 7 = 0 THEN CAST(10.00 AS DECIMAL(14,2))
                      ELSE CAST(0.00 AS DECIMAL(14,2)) END AS p
      FROM orders WHERE o_orderkey % 5 <> 0)
    SELECT CASE WHEN old.o_orderkey IS NULL THEN 'insert'
                WHEN new.o_orderkey IS NULL THEN 'delete'
                WHEN old.p <> new.p THEN 'update'
                ELSE 'unchanged' END AS change_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(COALESCE(new.p, CAST(0.00 AS DECIMAL(14,2)))) AS DOUBLE) AS new_total
    FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
    GROUP BY 1
    """,
)
def snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Change-data-capture between two table snapshots: full-outer join
    on the key classifies every row as insert / delete / update /
    unchanged — the set-oriented twin of the reference's per-row upsert
    decision (DatabaseWriterActor.scala:269-348 Insert/Update/Ignore).
    The two snapshots are deterministic slices of `orders` (key-modulo
    membership, +10.00 price drift); the join is key-partitioned on both
    sides so it co-partitions in one exchange each at any scale."""
    o = load(spark, sf, "orders")
    p = F.col("o_totalprice").cast("decimal(14,2)")
    old = o.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("_ok"), p.alias("_op")
    )
    drift = F.when(
        F.col("o_orderkey") % 7 == 0, F.lit("10.00").cast("decimal(14,2)")
    ).otherwise(F.lit("0.00").cast("decimal(14,2)"))
    new = o.filter(F.col("o_orderkey") % 5 != 0).select(
        F.col("o_orderkey").alias("_nk"), (p + drift).alias("_np")
    )
    change = (
        F.when(F.col("_ok").isNull(), "insert")
        .when(F.col("_nk").isNull(), "delete")
        .when(F.col("_op") != F.col("_np"), "update")
        .otherwise("unchanged")
    )
    zero = F.lit("0.00").cast("decimal(14,2)")
    return (
        old.join(new, old["_ok"] == new["_nk"], "full_outer")
        .select(change.alias("change_type"), F.coalesce("_np", zero).alias("_p"))
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_p").cast("double").alias("new_total"),
        )
    )


@register(
    "event_near_dup_throttle",
    """
    WITH w AS (
      SELECT event_type,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER
                    (PARTITION BY user_id, event_type ORDER BY ts, event_id))
                  <= 300000000
                  THEN 1 ELSE 0 END AS is_dup
      FROM events)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(is_dup) AS BIGINT) AS n_near_dups
    FROM w GROUP BY event_type
    """,
)
def event_near_dup_throttle(spark: SparkSession, sf: str) -> DataFrame:
    """Near-duplicate event throttle: flag events that repeat
    the same (user, type) within 300s of the previous occurrence —
    accidental double-fires / retry storms. One user-keyed window (the
    partition key is high-cardinality so the sort is per-user-local,
    never global) feeding a low-cardinality aggregate. The time delta
    compares exact integer microseconds (`unix_micros` ≙ `epoch_us`),
    immune to double rounding at the 300s boundary."""
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    is_dup = F.when(us - prev <= 300_000_000, 1).otherwise(0)
    return (
        ev.select("event_type", is_dup.alias("_d"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("_d").cast("bigint").alias("n_near_dups"),
        )
    )


@register(
    "yearly_revenue_growth",
    """
    WITH y AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS rev,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1)
    SELECT yr,
           CAST(rev AS DOUBLE) AS revenue,
           n_orders,
           round(CAST(rev AS DOUBLE) / CAST(LAG(rev) OVER (ORDER BY yr) AS DOUBLE) - 1, 9)
             AS yoy_growth
    FROM y
    """,
)
def yearly_revenue_growth(spark: SparkSession, sf: str) -> DataFrame:
    """Year-over-year revenue growth: exact DECIMAL yearly totals, then
    lag as a distributed rank + equi-join on index-1
    (``operators/windows.py`` — no single-partition window anywhere in
    the registry). First year's growth is NULL by construction on both
    engines."""
    o = load(spark, sf, "orders")
    y = o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("yr")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("_rev"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    # Bounded frame (O(years)) → single-partition bounded rank.
    r = with_bounded_rank(y, ["yr"], out="_i")
    prev = r.select((F.col("_i") + 1).alias("_i"), F.col("_rev").alias("_prev"))
    return (
        r.join(prev, "_i", "left")
        .select(
            "yr",
            F.col("_rev").cast("double").alias("revenue"),
            "n_orders",
            F.round(
                F.col("_rev").cast("double") / F.col("_prev").cast("double") - 1,
                9,
            ).alias("yoy_growth"),
        )
    )


@register(
    "customer_top_decile",
    """
    WITH r AS (
      SELECT c_custkey, n_name,
             percent_rank() OVER
               (PARTITION BY n_name
                ORDER BY CAST(c_acctbal AS DECIMAL(12,2)), c_custkey) AS pr,
             cume_dist() OVER
               (PARTITION BY n_name
                ORDER BY CAST(c_acctbal AS DECIMAL(12,2)), c_custkey) AS cd
      FROM customer JOIN nation ON c_nationkey = n_nationkey)
    SELECT c_custkey, n_name,
           round(pr, 9) AS pct_rank,
           round(cd, 9) AS cume_d
    FROM r WHERE pr >= 0.9
    """,
)
def customer_top_decile(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution-position screening: percent_rank + cume_dist of
    account balance within each nation, keeping the top decile. The
    order-by carries the custkey tiebreak so ranks are deterministic;
    both engines compute percent_rank as (rank-1)/(n-1) in double on
    identical ranks. Nation partitions keep every sort local."""
    cust = load(spark, sf, "customer")
    nation = F.broadcast(load(spark, sf, "nation"))
    j = cust.join(nation, cust.c_nationkey == nation.n_nationkey)
    w = Window.partitionBy("n_name").orderBy(
        F.col("c_acctbal").cast("decimal(12,2)"), F.col("c_custkey")
    )
    return (
        j.select(
            "c_custkey",
            "n_name",
            F.percent_rank().over(w).alias("_pr"),
            F.cume_dist().over(w).alias("_cd"),
        )
        .filter(F.col("_pr") >= 0.9)
        .select(
            "c_custkey",
            "n_name",
            F.round("_pr", 9).alias("pct_rank"),
            F.round("_cd", 9).alias("cume_d"),
        )
    )


@register(
    "stats_equidepth_histogram",
    """
    WITH b AS (
      SELECT quantile_cont(l_extendedprice, 0.25) AS b1,
             quantile_cont(l_extendedprice, 0.50) AS b2,
             quantile_cont(l_extendedprice, 0.75) AS b3
      FROM lineitem)
    SELECT 1 + CAST(l_extendedprice > b.b1 AS INT)
             + CAST(l_extendedprice > b.b2 AS INT)
             + CAST(l_extendedprice > b.b3 AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
    FROM lineitem CROSS JOIN b
    GROUP BY 1
    """,
)
def stats_equidepth_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-depth (quartile-bucketed) histogram without a global sort:
    pass 1 computes the three interpolated quartile boundaries, pass 2
    bins every row with a pure map against the broadcast 1-row boundary
    table — the scale-correct alternative to `ntile()` over all rows,
    whose single global window would serialize 100 TB through one task.
    Spark `percentile` and DuckDB `quantile_cont` share the
    lower+(upper-lower)*frac interpolation on identical doubles."""
    li = load(spark, sf, "lineitem")
    b = li.agg(
        F.expr("percentile(l_extendedprice, 0.25)").alias("_b1"),
        F.expr("percentile(l_extendedprice, 0.50)").alias("_b2"),
        F.expr("percentile(l_extendedprice, 0.75)").alias("_b3"),
    )
    p = F.col("l_extendedprice")
    bucket = (
        F.lit(1)
        + (p > F.col("_b1")).cast("int")
        + (p > F.col("_b2")).cast("int")
        + (p > F.col("_b3")).cast("int")
    )
    return (
        li.join(F.broadcast(b))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(p).cast("double").alias("min_price"),
            F.max(p).cast("double").alias("max_price"),
        )
    )


@register(
    "stratified_sample_exact",
    """
    WITH r AS (
      SELECT lang, doc_id,
             row_number() OVER
               (PARTITION BY lang
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM r WHERE rn <= 50
    GROUP BY lang
    """,
)
def stratified_sample_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-k stratified sampling: 50 docs per language stratum, chosen
    by rank over the md5 of the key — deterministic, engine-portable,
    and uniform (the hash destroys any correlation with insertion
    order). Per-stratum windows sort only within each language
    partition; contrast with `df.sampleBy`, whose per-row Bernoulli
    draw cannot hit an exact k. Checksum certifies the identical
    member set across engines."""
    docs = load(spark, sf, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).alias("_rn"))
        .filter(F.col("_rn") <= 50)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
    )


@register(
    "doc_bigram_logprob",
    r"""
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      FROM documents),
    bg AS (
      SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      FROM w, UNNEST(range(1, len(ws))) t(i)),
    cb AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
    cu AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM cb GROUP BY w1)
    SELECT bg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           round(SUM(ln(CAST(cb.c2 AS DOUBLE) / cu.c1)) / COUNT(*), 9)
             AS mean_logprob
    FROM bg JOIN cb USING (w1, w2) JOIN cu USING (w1)
    GROUP BY bg.doc_id
    """,
)
def doc_bigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram-LM fluency score: mean log P(w2|w1) per document with
    P(w2|w1) = c(w1,w2)/c(w1·) counted over the whole corpus — the
    second-order upgrade of `doc_unigram_logprob` (word ORDER now
    matters: shuffled text scores low even with a natural word mix).
    One explode produces the bigram stream; the model tables are
    corpus-small (AQE broadcasts them back); log ratios derive from
    identical integers so only the per-doc mean needs the round guard."""
    docs = load(spark, sf, "documents")
    w = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("ws")
    ).filter(F.size("ws") >= 2)
    bg = w.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(ws) - 2),"
                " i -> struct(ws[i] AS w1, ws[i + 1] AS w2))"
            )
        ).alias("_b"),
    ).select("doc_id", "_b.w1", "_b.w2")
    cb = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    cu = cb.groupBy("w1").agg(F.sum("c2").cast("bigint").alias("c1"))
    return (
        bg.join(cb, ["w1", "w2"])
        .join(cu, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum(F.log(F.col("c2").cast("double") / F.col("c1")))
                / F.count(F.lit(1)),
                9,
            ).alias("mean_logprob"),
        )
    )


@register(
    "inverted_index_postings",
    r"""
    WITH wd AS (
      SELECT DISTINCT doc_id, w AS word
      FROM documents,
           UNNEST(regexp_split_to_array(lower(trim(text)), '\s+')) t(w)
      WHERE w <> '')
    SELECT word,
           CAST(COUNT(*) AS BIGINT) AS df,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
             AS postings
    FROM wd
    GROUP BY word
    HAVING COUNT(*) <= 380
    """,
)
def inverted_index_postings(spark: SparkSession, sf: str) -> DataFrame:
    """Inverted-index construction: term -> ordered posting list of the
    documents containing it, restricted to the rare tail of the
    vocabulary (df <= 380 on this corpus — the selective terms that
    carry retrieval signal; near-stopwords that hit every document are
    excluded). One explode to
    (word, doc) pairs, a distinct to collapse within-doc repeats, then
    a single word-keyed aggregate builds every posting list; the df
    filter bounds list length, so no posting list can exceed the HAVING
    ceiling regardless of corpus size. Postings serialize to a CSV
    string so both engines hash the identical ordered value."""
    docs = load(spark, sf, "documents")
    wd = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"),
        )
        .filter(F.col("word") != "")
        .distinct()
    )
    return (
        wd.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.expr(
                "array_join(transform(sort_array(collect_list(doc_id)),"
                " x -> CAST(x AS STRING)), ',')"
            ).alias("postings"),
        )
        .filter(F.col("df") <= 380)
    )


@register(
    "open_orders_daily",
    """
    WITH closes AS (
      SELECT l_orderkey, MAX(l_shipdate) AS close_ts
      FROM lineitem GROUP BY l_orderkey),
    deltas AS (
      SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d, 1 AS delta
      FROM orders
      UNION ALL
      SELECT CAST(CAST(close_ts AS DATE) + 1 AS VARCHAR) AS d, -1
      FROM closes),
    daily AS (
      SELECT d, CAST(SUM(delta) AS BIGINT) AS net FROM deltas GROUP BY d)
    SELECT d, net,
           CAST(SUM(net) OVER (ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS open_orders
    FROM daily
    """,
)
def open_orders_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Concurrent-interval counting by delta sweep: how many orders are
    "open" (placed, last line not yet shipped) on each calendar day.
    The naive plan — range-join every order against a day spine — fans
    out to days x orders rows; instead each interval becomes two delta
    events (+1 at open, -1 the day after close), which aggregate to one
    row per day BEFORE the cumulative sum — itself a distributed exact
    prefix sum (``operators/windows.py``), so no stage ever
    single-partitions and the heavy lifting stays in hash aggregates."""
    li = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders")
    closes = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("close_ts"))
    opens = orders.select(
        F.to_date("o_orderdate").cast("string").alias("d"),
        F.lit(1).alias("delta"),
    )
    closed = closes.select(
        F.date_add(F.to_date("close_ts"), 1).cast("string").alias("d"),
        F.lit(-1).alias("delta"),
    )
    daily = (
        opens.unionByName(closed)
        .groupBy("d")
        .agg(F.sum("delta").cast("bigint").alias("net"))
    )
    return with_global_prefix_sum(daily, ["d"], "net", out="_cum").select(
        "d", "net", F.col("_cum").cast("bigint").alias("open_orders")
    )


@register(
    "event_value_decile_matrix",
    """
    WITH b AS (
      SELECT quantile_cont(value,
        [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
      FROM events)
    SELECT event_type,
           CAST(1 + len(list_filter(b.bs, x -> value > x)) AS INT)
             AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(value) AS DOUBLE) AS min_value,
           CAST(MAX(value) AS DOUBLE) AS max_value
    FROM events CROSS JOIN b
    GROUP BY event_type, decile
    """,
)
def event_value_decile_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Two-dimensional contingency matrix: global value decile x
    event_type. Pass 1 computes the nine interpolated decile
    boundaries; pass 2 broadcasts that 1-row table and bins every event
    with a pure map (a fold over the boundary array) — no `ntile()`
    global window, so the plan stays two hash aggregates and scales to
    any event count. Spark `percentile` and DuckDB `quantile_cont`
    share the lower+(upper-lower)*frac interpolation on identical
    doubles, and min/max are order-insensitive, so values hash-match
    without rounding guards."""
    ev = load(spark, sf, "events")
    b = ev.agg(
        F.expr(
            "percentile(value,"
            " array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D, 0.6D, 0.7D, 0.8D, 0.9D))"
        ).alias("_bs")
    )
    return (
        ev.join(F.broadcast(b))
        .groupBy(
            "event_type",
            (
                F.lit(1)
                # coalesce: NULL values land in decile 1 on BOTH engines
                # (DuckDB's list_filter treats the NULL comparison as
                # false; without the coalesce Spark would propagate NULL)
                + F.expr(
                    "aggregate(_bs, 0, (acc, x) ->"
                    " acc + coalesce(CAST(value > x AS INT), 0))"
                )
            ).cast("int").alias("decile"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("value").cast("double").alias("min_value"),
            F.max("value").cast("double").alias("max_value"),
        )
    )


def _pagerank_oracle(iters: int = 3) -> str:
    prev = "r0"
    body = [
        """
    WITH edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
    r0 AS (SELECT src AS node, 1.0 / n.n AS r FROM deg CROSS JOIN n)"""
    ]
    for i in range(1, iters + 1):
        body.append(
            f""",
    c{i} AS (
      SELECT e.dst AS node,
             SUM(CAST(round({prev}.r / deg.d, 12) AS DECIMAL(30,12))) AS s
      FROM edges e
      JOIN {prev} ON e.src = {prev}.node
      JOIN deg ON e.src = deg.src
      GROUP BY e.dst),
    r{i} AS (
      SELECT deg.src AS node,
             (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n.n
               + 0.85 * CAST(COALESCE(c{i}.s, 0) AS DOUBLE) AS r
      FROM deg LEFT JOIN c{i} ON deg.src = c{i}.node CROSS JOIN n)"""
        )
        prev = f"r{i}"
    body.append(
        f"""
    SELECT node AS partkey, round(r, 9) AS pagerank FROM {prev}"""
    )
    return "".join(body)


@register("part_copurchase_pagerank", _pagerank_oracle(3))
def part_copurchase_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """PageRank (3 power iterations, damping 0.85) over the part
    co-purchase graph: parts are linked when they appear in the same
    order. The iterative-algorithm pattern on Spark: the edge list is
    built ONCE (self-join bounded by basket size, then distinct) and
    each iteration is one src-keyed join plus one dst-keyed aggregate —
    the rank table stays node-sized, orders of magnitude smaller than
    the edges, so at scale it broadcasts and the edge list never
    re-shuffles. For long runs you'd checkpoint every few iterations to
    truncate lineage; three unrolled iterations keep the whole program
    oracle-expressible as chained CTEs. Cross-engine determinism: each
    contribution rounds to a fixed 12-decimal DECIMAL before the exact
    (order-insensitive) decimal SUM, so no float-summation-order drift;
    the damping step is pure IEEE double arithmetic on identical
    inputs."""
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
    )
    ranks = G.pagerank(edges, iters=3, damping=0.85, contrib_scale=12)
    return ranks.select(
        F.col("node").alias("partkey"), F.round("r", 9).alias("pagerank")
    )


@register(
    "daily_event_anomaly",
    """
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1),
    w AS (
      SELECT day, n_events,
             CAST(SUM(n_events) OVER t AS BIGINT) AS s,
             CAST(SUM(n_events * n_events) OVER t AS BIGINT) AS ss,
             CAST(COUNT(*) OVER t AS BIGINT) AS k
      FROM daily
      WINDOW t AS (ORDER BY day ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING))
    SELECT day, n_events,
           round((n_events - CAST(s AS DOUBLE) / k)
             / sqrt((ss - CAST(s AS DOUBLE) * s / k) / (k - 1)), 9) AS z_score
    FROM w
    WHERE k >= 14
      AND ss * k > s * s
    """,
)
def daily_event_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series anomaly score: each day's event count as a z-score
    against the trailing 28 days (current day excluded, so a spike
    cannot mask itself). The fact table collapses to one row per day
    FIRST; the trailing frame is then a distributed explode +
    hash-aggregate over the day series (no single-partition window,
    ``operators/windows.py`` rank + 28-way contribution fan-out). Mean
    and variance derive from exact BIGINT window sums (sum, sum of
    squares) — identical integers on both engines, so the doubles
    agree bit-for-bit and only the final score needs a round guard.
    Warm-up days (fewer than 14 prior points) and zero-variance
    windows are excluded."""
    ev = load(spark, sf, "events")
    daily = ev.groupBy(
        F.to_date("ts").cast("string").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    # Trailing ROWS frame without a single-partition window: global row
    # index (distributed), then each day row CONTRIBUTES itself to the
    # next 28 indices via explode + hash aggregate — an equi-join plan
    # (no BNLJ range join), exact BIGINT sums in any order.
    # Bounded frame (O(distinct days)) → single-partition bounded rank.
    r = with_bounded_rank(daily, ["day"], out="_i")
    contrib = r.select(
        F.explode(F.sequence(F.col("_i") + 1, F.col("_i") + 28)).alias("_i"),
        "n_events",
    )
    stats = contrib.groupBy("_i").agg(
        F.sum("n_events").cast("bigint").alias("s"),
        F.sum(F.col("n_events") * F.col("n_events")).cast("bigint").alias("ss"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    w = r.join(stats, "_i").select("day", "n_events", "s", "ss", "k")
    mean = F.col("s").cast("double") / F.col("k")
    var = (F.col("ss") - F.col("s").cast("double") * F.col("s") / F.col("k")) / (
        F.col("k") - 1
    )
    return (
        w.filter(
            (F.col("k") >= 14)
            & (F.col("ss") * F.col("k") > F.col("s") * F.col("s"))
        )
        .select(
            "day",
            "n_events",
            F.round((F.col("n_events") - mean) / F.sqrt(var), 9).alias("z_score"),
        )
    )


@register(
    "copurchase_triangles",
    """
    WITH e AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2),
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM e e1
      JOIN e e2 ON e1.dst = e2.src
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst)
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (SELECT a AS node FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri) m
    GROUP BY node
    """,
)
def copurchase_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle counting on the strong co-purchase graph (parts bought
    together in >= 2 distinct orders — the weight threshold prunes the
    quadratic noise floor of dense baskets before any triangle work).
    Edges are oriented src < dst so every triangle materializes exactly
    once as (a<b<c): one wedge join (e1.dst = e2.src) builds a-b-c
    paths, one closing equi-join checks the a-c edge. Wedge fan-out is
    bounded by out-degree under the orientation; at production scale
    you orient by (degree, id) instead of raw id so hub nodes land on
    the low-fan-out side — same plan shape, one extra degree join.
    Output: per-node triangle membership counts."""
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    e = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("src", "dst")
    )
    return G.triangle_counts(e)


@register(
    "contrastive_negatives",
    """
    WITH v AS (
      SELECT vec_id, label,
             CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 16 AS bucket
      FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS anchor_id, c.vec_id AS negative_id,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY md5(concat(CAST(a.vec_id AS VARCHAR), ':',
                                   CAST(c.vec_id AS VARCHAR))),
                        c.vec_id) AS rk
      FROM v a JOIN v c
        ON a.bucket = c.bucket AND a.label <> c.label)
    SELECT anchor_id, negative_id, CAST(rk AS INT) AS rk
    FROM pairs WHERE rk <= 3
    """,
)
def contrastive_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: 3
    negatives (different label) per anchor. Candidates are blocked by a
    hash bucket shared between anchor and negative, so pair generation
    is a bucket-keyed EQUI-join whose fan-out is (N/B)^2 * B rows — the
    tunable-cost alternative to the N^2 cross join, at the price of
    sampling negatives only within the anchor's bucket (fine: buckets
    are a uniform hash of ids, so the restriction is unbiased). The
    pick itself ranks by md5(anchor:candidate) — stable across runs,
    engines, and partitionings, unlike rand()-based sampling; the
    per-anchor window sorts only within a bucket's candidate list."""
    emb = load(spark, sf, "embeddings")
    v = emb.select(
        "vec_id",
        "label",
        (
            F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            % 16
        ).alias("bucket"),
    )
    a = v.alias("a")
    c = v.alias("c")
    w = Window.partitionBy("a.vec_id").orderBy(
        F.md5(
            F.concat(
                F.col("a.vec_id").cast("string"),
                F.lit(":"),
                F.col("c.vec_id").cast("string"),
            )
        ),
        F.col("c.vec_id"),
    )
    return (
        a.join(
            c,
            (F.col("a.bucket") == F.col("c.bucket"))
            & (F.col("a.label") != F.col("c.label")),
        )
        .select(
            F.col("a.vec_id").alias("anchor_id"),
            F.col("c.vec_id").alias("negative_id"),
            F.row_number().over(w).cast("int").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


@register(
    "copurchase_two_hop_reach",
    """
    WITH e0 AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2),
    e AS (SELECT p1 AS src, p2 AS dst FROM e0
          UNION ALL SELECT p2, p1 FROM e0),
    h2 AS (
      SELECT e1.src, e2.dst
      FROM e e1 JOIN e e2 ON e1.dst = e2.src
      WHERE e2.dst <> e1.src
      UNION
      SELECT src, dst FROM e)
    SELECT src AS partkey,
           CAST(COUNT(DISTINCT dst) AS BIGINT) AS n_within_2_hops
    FROM h2 GROUP BY src
    """,
)
def copurchase_two_hop_reach(spark: SparkSession, sf: str) -> DataFrame:
    """K-hop reachability (k=2) on the strong co-purchase graph — the
    unrolled-BFS join pattern: frontier-extend is one equi-join of the
    edge list with itself, the self-loop guard is a residual predicate,
    and the 1-hop U 2-hop union dedups in the same aggregate that
    counts per-source reach. Each extra hop is one more join over the
    SAME edge list (persist it for deep walks); neighborhood counts
    stay node-sized. The weight threshold (>= 2 shared orders) keeps
    hub fan-out bounded — on the unthresholded dense graph 2 hops
    reach nearly everything and the join is all cost, no signal."""
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    e0 = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("p1", "p2")
    )
    e = e0.select(F.col("p1").alias("src"), F.col("p2").alias("dst")).unionAll(
        e0.select(F.col("p2").alias("src"), F.col("p1").alias("dst"))
    )
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    two = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .filter(F.col("e2.dst") != F.col("e1.src"))
        .select(F.col("e1.src").alias("src"), F.col("e2.dst").alias("dst"))
    )
    reach = two.unionAll(e.select("src", "dst"))
    return reach.groupBy(F.col("src").alias("partkey")).agg(
        F.count_distinct("dst").cast("bigint").alias("n_within_2_hops")
    )


def _kcore_oracle(k: int = 3, rounds: int = 3) -> str:
    body = [
        """
    WITH e0 AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2),
    e_0 AS (SELECT p1 AS src, p2 AS dst FROM e0
            UNION ALL SELECT p2, p1 FROM e0)"""
    ]
    for r in range(1, rounds + 1):
        body.append(
            f""",
    d_{r} AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d
              FROM e_{r - 1} GROUP BY src),
    keep_{r} AS (SELECT src FROM d_{r} WHERE d >= {k}),
    e_{r} AS (
      SELECT e.src, e.dst FROM e_{r - 1} e
      JOIN keep_{r} ka ON e.src = ka.src
      JOIN keep_{r} kb ON e.dst = kb.src)"""
        )
    body.append(
        f"""
    SELECT src AS partkey, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM e_{rounds} GROUP BY src HAVING COUNT(*) >= {k}"""
    )
    return "".join(body)


@register("copurchase_kcore", _kcore_oracle(3, 3))
def copurchase_kcore(spark: SparkSession, sf: str) -> DataFrame:
    """K-core decomposition (k=3, three peeling rounds) of the strong
    co-purchase graph: repeatedly drop nodes with induced degree < k —
    the standard dense-subgraph / community-seed primitive. Each round
    is one degree aggregate plus two semi-join-shaped filters against
    the survivor set (node-sized, broadcastable); the edge list is
    persisted because every round's induced subgraph derives from the
    previous one. Three unrolled rounds keep the program
    oracle-expressible; at scale the loop runs until the survivor
    count stops changing, checkpointing every few rounds. Output:
    nodes of the (approximate) 3-core with their induced degree."""
    # Shared strong-edge builder (also feeds the round-5 bounded-round
    # walks graph_components_census / graph_bfs_hops).
    e = cache.track(_strong_copurchase_edges(spark, sf))
    k = 3
    for _ in range(3):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= k).select("src")
        # Each round's survivor edges persist: the NEXT round references
        # them twice (degree aggregate + semi-join input), and without a
        # cache node the unreused subtrees double per round — a
        # 2^rounds blowup (Spark-side build+count at sf0.01 measured
        # ~20 s unpersisted vs ~4-7 s with per-round persists).
        e = cache.track(
            e.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )
    return (
        e.groupBy(F.col("src").alias("partkey"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
        .filter(F.col("core_degree") >= k)
    )


@register(
    "customer_churn_by_year",
    """
    WITH y AS (
      SELECT DISTINCT o_custkey,
             CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr
      FROM orders),
    mx AS (SELECT MAX(yr) AS max_yr FROM y)
    SELECT a.yr AS year,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           CAST(COUNT(*) FILTER (b.o_custkey IS NULL) AS BIGINT)
             AS n_churned,
           round(CAST(COUNT(*) FILTER (b.o_custkey IS NULL) AS DOUBLE)
             / COUNT(*), 9) AS churn_rate
    FROM y a CROSS JOIN mx
    LEFT JOIN y b
      ON a.o_custkey = b.o_custkey AND b.yr = a.yr + 1
    WHERE a.yr < mx.max_yr
    GROUP BY a.yr
    """,
)
def customer_churn_by_year(spark: SparkSession, sf: str) -> DataFrame:
    """Year-over-year customer churn: of the customers active in year
    Y, how many placed no order in Y+1. The activity table collapses
    to distinct (customer, year) FIRST — the join and aggregate then
    run on |customers|x|years| rows, not |orders|. Churn is a LEFT
    join against the next year's activity with a null-probe count
    (the set-oriented form of per-row existence checks); the final
    year is excluded via a broadcast 1-row max rather than a second
    scan-derived constant. Rate derives from two exact counts, so
    only the division needs a round guard."""
    orders = load(spark, sf, "orders")
    y = orders.select(
        "o_custkey", F.year("o_orderdate").cast("int").alias("yr")
    ).distinct()
    mx = y.agg(F.max("yr").alias("max_yr"))
    a = y.alias("a")
    b = y.alias("b")
    joined = (
        a.join(F.broadcast(mx))
        .filter(F.col("a.yr") < F.col("max_yr"))
        .join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("b.yr") == F.col("a.yr") + 1),
            "left",
        )
    )
    churned = F.sum(F.col("b.o_custkey").isNull().cast("long")).cast("bigint")
    return joined.groupBy(F.col("a.yr").alias("year")).agg(
        F.count(F.lit(1)).alias("n_active"),
        churned.alias("n_churned"),
        F.round(
            churned.cast("double") / F.count(F.lit(1)), 9
        ).alias("churn_rate"),
    )


@register(
    "event_type_couse_matrix",
    """
    WITH tu AS (SELECT DISTINCT user_id, event_type FROM events),
    sz AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
           FROM tu GROUP BY event_type),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM tu a JOIN tu b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT type_a, type_b, n_shared,
           round(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 9)
             AS jaccard
    FROM pairs
    JOIN sz sa ON type_a = sa.event_type
    JOIN sz sb ON type_b = sb.event_type
    """,
)
def event_type_couse_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Behavioral overlap matrix: Jaccard similarity between the user
    sets of every event-type pair (which features are used by the same
    people). The fact table collapses to distinct (user, type) first,
    so the self-join fans out at most |types|² rows per user — bounded
    by the type-universe size, never by event volume — and the
    |types|-row size table rides broadcast joins onto the pair counts.
    Same one-collapse-then-pair shape as `source_overlap_matrix`, on
    the behavioral axis."""
    ev = load(spark, sf, "events")
    tu = ev.select("user_id", "event_type").distinct()
    sz = tu.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = tu.alias("a")
    b = tu.alias("b")
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    sa = sz.select(F.col("event_type").alias("type_a"), F.col("n").alias("_na"))
    sb = sz.select(F.col("event_type").alias("type_b"), F.col("n").alias("_nb"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("n_shared")),
                9,
            ).alias("jaccard"),
        )
    )


@register(
    "nation_revenue_share_rollup",
    """
    WITH nr AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             SUM(CAST(o.o_totalprice AS DECIMAL(14,2))) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2),
    rt AS (SELECT region, SUM(rev) AS region_rev FROM nr GROUP BY region),
    gt AS (SELECT SUM(rev) AS total_rev FROM nr)
    SELECT nr.region, nr.nation,
           CAST(nr.rev AS DOUBLE) AS revenue,
           round(CAST(nr.rev AS DOUBLE) / CAST(rt.region_rev AS DOUBLE), 9)
             AS share_of_region,
           round(CAST(nr.rev AS DOUBLE) / CAST(gt.total_rev AS DOUBLE), 9)
             AS share_of_total
    FROM nr JOIN rt USING (region) CROSS JOIN gt
    """,
)
def nation_revenue_share_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchical percent-of-parent: each nation's revenue as a share
    of its region and of the world. The fact scan aggregates ONCE to
    the |nations|-row leaf table; both parent levels re-aggregate that
    tiny table and broadcast back — no second fact scan, no
    partition-by-region window over raw orders. All three sums are
    exact DECIMAL (region/global totals are sums of identical leaf
    decimals, so the engines agree bit-for-bit before the rounded
    division). The star join runs dimension-broadcast like q5."""
    orders = load(spark, sf, "orders")
    customer = load(spark, sf, "customer")
    nation = load(spark, sf, "nation")
    region = load(spark, sf, "region")
    nr = (
        orders.join(
            customer, orders["o_custkey"] == customer["c_custkey"]
        )
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(F.sum(_m("o_totalprice")).alias("rev"))
    )
    rt = nr.groupBy("region").agg(F.sum("rev").alias("region_rev"))
    gt = nr.agg(F.sum("rev").alias("total_rev"))
    return (
        nr.join(F.broadcast(rt), "region")
        .join(F.broadcast(gt))
        .select(
            "region",
            "nation",
            F.col("rev").cast("double").alias("revenue"),
            F.round(
                F.col("rev").cast("double") / F.col("region_rev").cast("double"), 9
            ).alias("share_of_region"),
            F.round(
                F.col("rev").cast("double") / F.col("total_rev").cast("double"), 9
            ).alias("share_of_total"),
        )
    )


@register(
    "user_longest_streak",
    """
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    s AS (
      SELECT user_id, day,
             (day - DATE '1970-01-01')
               - row_number() OVER (PARTITION BY user_id ORDER BY day)
               AS grp
      FROM d),
    runs AS (
      SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
      FROM s GROUP BY user_id, grp)
    SELECT user_id,
           CAST(MAX(len) AS BIGINT) AS longest_streak_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks
    FROM runs GROUP BY user_id
    """,
)
def user_longest_streak(spark: SparkSession, sf: str) -> DataFrame:
    """Gaps-and-islands: each user's longest run of consecutive active
    days. Distinct (user, day) first, then the classic island key —
    epoch-day minus the user-ordered row number is constant within a
    consecutive run — turns streak detection into two hash aggregates.
    The only window is partitioned per user and ordered over that
    user's distinct days (bounded by the calendar, not event volume),
    so the pattern holds at any scale; no self-join, no day spine."""
    ev = load(spark, sf, "events")
    d = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    s = d.select(
        "user_id",
        (
            F.datediff(F.col("day"), F.lit("1970-01-01"))
            - F.row_number().over(w)
        ).alias("grp"),
    )
    runs = s.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("len")
    )
    return runs.groupBy("user_id").agg(
        F.max("len").cast("bigint").alias("longest_streak_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
    )


@register(
    "event_trigram_paths",
    """
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT event_type AS e1, e2, e3,
           CAST(COUNT(*) AS BIGINT) AS n_paths
    FROM s WHERE e3 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY n_paths DESC, e1, e2, e3
    LIMIT 25
    """,
)
def event_trigram_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Behavioral path mining: the 25 most common 3-step event
    sequences across users — the n-gram upgrade of the pairwise
    transition matrix. Two lead() windows per user (ordered by time
    with event_id as the deterministic tie-break) build the trigram
    stream in one pass with no self-joins; the aggregate's key space
    is |types|³, so map-side partial counting absorbs the volume
    before one small exchange."""
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        s.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_paths"))
        .orderBy(F.desc("n_paths"), "e1", "e2", "e3")
        .limit(25)
    )


@register(
    "benford_first_digit",
    """
    WITH d AS (
      SELECT CAST(substring(CAST(CAST(o_totalprice AS DECIMAL(14,2))
               AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice > 0),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM d)
    SELECT digit,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           round(CAST(COUNT(*) AS DOUBLE) / n.total, 9) AS observed_p,
           round(log10(1.0 + 1.0 / digit), 9) AS benford_p
    FROM d CROSS JOIN n
    GROUP BY digit, n.total
    """,
)
def benford_first_digit(spark: SparkSession, sf: str) -> DataFrame:
    """Benford's-law screen on order amounts: observed first-digit
    distribution vs the log10(1 + 1/d) expectation — the classic
    fabricated-data / unit-mixing detector for financial columns.
    First digits come from the DECIMAL string form (both engines
    render the same canonical digits, unlike double formatting); one
    pure-map projection, one 9-bucket aggregate, and the 1-row total
    broadcasts back for the shares."""
    orders = load(spark, sf, "orders")
    d = orders.filter(F.col("o_totalprice") > 0).select(
        F.substring(_m("o_totalprice").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("total"))
    return (
        d.join(F.broadcast(n))
        .groupBy("digit", "total")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_values"))
        .select(
            "digit",
            "n_values",
            F.round(F.col("n_values").cast("double") / F.col("total"), 9).alias(
                "observed_p"
            ),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 9).alias("benford_p"),
        )
    )


@register(
    "weighted_median_quantity",
    """
    WITH q AS (
      SELECT CAST(l_quantity AS DECIMAL(12,2)) AS qty,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS w
      FROM lineitem GROUP BY 1),
    c AS (
      SELECT qty, w,
             SUM(w) OVER (ORDER BY qty
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             SUM(w) OVER () AS tw
      FROM q)
    SELECT CAST(MIN(qty) AS DOUBLE) AS weighted_median_qty,
           CAST(MAX(tw) AS DOUBLE) AS total_weight
    FROM c WHERE cw * 2 >= tw
    """,
)
def weighted_median_quantity(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted median: the order quantity at which half the revenue
    mass sits at or below — robust 'typical deal size' weighted by
    value, not row count. The fact table first aggregates weight per
    DISTINCT quantity (a domain of dozens of values), so the
    cumulative-weight window and the half-mass probe run over a
    constant-size series however many lineitems exist; exact DECIMAL
    weights make the crossing point engine-identical with no epsilon."""
    li = load(spark, sf, "lineitem")
    q = li.groupBy(_m("l_quantity").alias("qty")).agg(
        F.sum(_m("l_extendedprice")).alias("w")
    )
    tot = q.agg(F.sum("w").alias("tw"))
    c = with_global_prefix_sum(q, ["qty"], "w", out="cw").join(
        F.broadcast(tot)
    )
    return c.filter(F.col("cw") * 2 >= F.col("tw")).agg(
        F.min("qty").cast("double").alias("weighted_median_qty"),
        F.max("tw").cast("double").alias("total_weight"),
    )


@register(
    "part_abc_classification",
    """
    WITH pr AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS rev
      FROM lineitem GROUP BY l_partkey),
    c AS (
      SELECT l_partkey, rev,
             SUM(rev) OVER (ORDER BY rev DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             SUM(rev) OVER () AS tw
      FROM pr)
    SELECT CASE WHEN cw * 5 <= tw * 4 THEN 'A'
                WHEN cw * 20 <= tw * 19 THEN 'B'
                ELSE 'C' END AS abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev) AS DOUBLE) AS revenue,
           round(CAST(SUM(rev) AS DOUBLE) / CAST(MAX(tw) AS DOUBLE), 9)
             AS revenue_share
    FROM c GROUP BY 1
    """,
)
def part_abc_classification(spark: SparkSession, sf: str) -> DataFrame:
    """ABC / Pareto inventory classification: parts ranked by revenue,
    class A = the head covering 80% of cumulative revenue, B = next
    15%, C = the tail. The fact table aggregates to one row per part
    FIRST, so the ranking runs over the part dimension (bounded
    catalog, not order volume); class boundaries compare exact DECIMAL
    cumulative sums against integer-scaled totals (cw*5 <= tw*4), so
    no float epsilon can flip a part across engines. The cumulative
    revenue is a DISTRIBUTED prefix sum (range-partition + per-partition
    running sum + broadcast decimal offsets, ``operators/windows.py``)
    — bit-equal to the ordered window because fixed-point addition is
    associative — and the total is a 1-row broadcast, so a 10^8-part
    catalog never funnels through one partition."""
    li = load(spark, sf, "lineitem")
    pr = li.groupBy("l_partkey").agg(
        F.sum(_m("l_extendedprice") * (1 - _m("l_discount"))).alias("rev")
    )
    tot = pr.agg(F.sum("rev").alias("tw"))
    c = with_global_prefix_sum(
        pr, [F.desc("rev"), F.col("l_partkey")], "rev", out="cw"
    ).join(F.broadcast(tot)).select("rev", "cw", "tw")
    klass = (
        F.when(F.col("cw") * 5 <= F.col("tw") * 4, F.lit("A"))
        .when(F.col("cw") * 20 <= F.col("tw") * 19, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    return (
        c.groupBy(klass.alias("abc_class"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("rev").cast("double").alias("revenue"),
            F.round(
                F.sum("rev").cast("double") / F.max("tw").cast("double"), 9
            ).alias("revenue_share"),
        )
    )


@register(
    "part_single_source_risk",
    """
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
      FROM lineitem GROUP BY 1, 2),
    tot AS (
      SELECT l_partkey,
             SUM(qty) AS total_qty,
             MAX(qty) AS top_qty,
             CAST(COUNT(*) AS BIGINT) AS n_suppliers
      FROM ps GROUP BY l_partkey)
    SELECT l_partkey, n_suppliers,
           CAST(total_qty AS DOUBLE) AS total_qty,
           round(CAST(top_qty AS DOUBLE) / CAST(total_qty AS DOUBLE), 9)
             AS top_supplier_share
    FROM tot
    ORDER BY top_supplier_share DESC, l_partkey
    LIMIT 20
    """,
)
def part_single_source_risk(spark: SparkSession, sf: str) -> DataFrame:
    """Single-sourcing risk report: the 20 parts most dependent on one
    supplier (highest top-supplier volume share). Two chained hash
    aggregates — (part, supplier) totals, then per-part
    total/max/count — express 'share of the largest contributor' with
    NO window and NO self-join; only the 20-row report is sorted
    (top-k over the aggregated part dimension, partial take before
    the exchange). The general shape for top-contributor
    concentration checks at any scale."""
    li = load(spark, sf, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(_m("l_quantity")).alias("qty")
    )
    tot = ps.groupBy("l_partkey").agg(
        F.sum("qty").alias("total_qty"),
        F.max("qty").alias("top_qty"),
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
    )
    return (
        tot.select(
            "l_partkey",
            "n_suppliers",
            F.col("total_qty").cast("double").alias("total_qty"),
            F.round(
                F.col("top_qty").cast("double")
                / F.col("total_qty").cast("double"),
                9,
            ).alias("top_supplier_share"),
        )
        .orderBy(F.desc("top_supplier_share"), "l_partkey")
        .limit(20)
    )


@register(
    "order_size_histogram",
    """
    WITH sz AS (
      SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY l_orderkey)
    SELECT n_lines,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(n_lines) AS BIGINT) AS n_lineitems
    FROM sz GROUP BY n_lines
    """,
)
def order_size_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Lines-per-order histogram — the two-level aggregation shape
    (fact → per-key size → size distribution) that answers 'how big
    are my groups' for basket analysis and partition-sizing decisions.
    First aggregate is the only one that touches fact volume; the
    second runs on |orders| rows keyed by a handful of distinct
    sizes, so map-side partials collapse it almost entirely."""
    li = load(spark, sf, "lineitem")
    sz = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines")
    )
    return sz.groupBy("n_lines").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("n_lines").cast("bigint").alias("n_lineitems"),
    )


@register(
    "session_bounce_stats",
    """
    WITH x AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                    > 1800000000
                  OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM x),
    sess AS (
      SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS n
      FROM s GROUP BY user_id, sid)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           round(CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 9) AS bounce_rate,
           round(CAST(SUM(n) AS DOUBLE) / COUNT(*), 9)
             AS avg_events_per_session
    FROM sess
    """,
)
def session_bounce_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionized bounce rate: sessions are 30-minute-gap islands per
    user; a bounce is a single-event session. Session ids come from
    the classic cumulative-sum-of-start-flags — both windows are per-user,
    time-ordered with event_id as the deterministic tie-break, so ONE
    exchange on user_id feeds the lag, the running sum, and the
    per-session aggregate. Gap comparisons run on exact microsecond
    integers; only the two final ratios need round guards."""
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    x = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap > 1800000000, 1)
        .when(F.lag("ts").over(w).isNull(), 1)
        .otherwise(0)
        .alias("new_s"),
    )
    wr = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    s = x.select("user_id", F.sum("new_s").over(wr).alias("sid"))
    sess = s.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    bounces = F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("bigint")
    return sess.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        bounces.alias("n_bounces"),
        F.round(bounces.cast("double") / F.count(F.lit(1)), 9).alias(
            "bounce_rate"
        ),
        F.round(
            F.sum("n").cast("double") / F.count(F.lit(1)), 9
        ).alias("avg_events_per_session"),
    )


@register(
    "nation_priority_independence",
    """
    WITH o AS (
      SELECT n.n_name AS nation, ord.o_orderpriority AS priority
      FROM orders ord
      JOIN customer c ON ord.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey),
    cnt AS (SELECT nation, priority, CAST(COUNT(*) AS BIGINT) AS n
            FROM o GROUP BY 1, 2),
    rm AS (SELECT nation, CAST(SUM(n) AS BIGINT) AS rn
           FROM cnt GROUP BY nation),
    cm AS (SELECT priority, CAST(SUM(n) AS BIGINT) AS cn
           FROM cnt GROUP BY priority),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM cnt)
    SELECT cnt.nation, cnt.priority, cnt.n,
           round(CAST(rm.rn AS DOUBLE) * cm.cn / t.tot, 9) AS expected_n,
           round(pow(cnt.n - CAST(rm.rn AS DOUBLE) * cm.cn / t.tot, 2)
             / (CAST(rm.rn AS DOUBLE) * cm.cn / t.tot), 9) AS chi2_term
    FROM cnt
    JOIN rm USING (nation)
    JOIN cm USING (priority)
    CROSS JOIN t
    """,
)
def nation_priority_independence(spark: SparkSession, sf: str) -> DataFrame:
    """Chi-square independence profile of the nation x order-priority
    contingency table: per-cell observed count, expected count under
    independence (row_total x col_total / grand_total), and the chi²
    term — the screen for 'does this category mix differ by segment'.
    One fact aggregate to the |nations|x|priorities| cell table; both
    margins and the grand total re-aggregate that tiny table and
    broadcast back (same shape as the hierarchical rollup). All inputs
    are exact integers, so the derived doubles agree bit-for-bit."""
    orders = load(spark, sf, "orders")
    customer = load(spark, sf, "customer")
    nation = load(spark, sf, "nation")
    o = orders.join(
        customer, orders["o_custkey"] == customer["c_custkey"]
    ).join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
    cnt = o.groupBy(
        F.col("n_name").alias("nation"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    rm = cnt.groupBy("nation").agg(F.sum("n").cast("bigint").alias("rn"))
    cm = cnt.groupBy("priority").agg(F.sum("n").cast("bigint").alias("cn"))
    t = cnt.agg(F.sum("n").cast("bigint").alias("tot"))
    exp = F.col("rn").cast("double") * F.col("cn") / F.col("tot")
    return (
        cnt.join(F.broadcast(rm), "nation")
        .join(F.broadcast(cm), "priority")
        .join(F.broadcast(t))
        .select(
            "nation",
            "priority",
            "n",
            F.round(exp, 9).alias("expected_n"),
            F.round(F.pow(F.col("n") - exp, 2) / exp, 9).alias("chi2_term"),
        )
    )


@register(
    "new_vs_returning_revenue",
    """
    WITH fy AS (
      SELECT o_custkey,
             CAST(MIN(EXTRACT(year FROM o_orderdate)) AS INT) AS first_yr
      FROM orders GROUP BY o_custkey)
    SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS year,
           CAST(SUM(CASE WHEN fy.first_yr = EXTRACT(year FROM o.o_orderdate)
                 THEN CAST(o.o_totalprice AS DECIMAL(14,2))
                 ELSE CAST(0 AS DECIMAL(14,2)) END) AS DOUBLE)
             AS new_customer_revenue,
           CAST(SUM(CASE WHEN fy.first_yr < EXTRACT(year FROM o.o_orderdate)
                 THEN CAST(o.o_totalprice AS DECIMAL(14,2))
                 ELSE CAST(0 AS DECIMAL(14,2)) END) AS DOUBLE)
             AS returning_revenue,
           CAST(COUNT(DISTINCT CASE
                 WHEN fy.first_yr = EXTRACT(year FROM o.o_orderdate)
                 THEN o.o_custkey END) AS BIGINT) AS n_new_customers
    FROM orders o JOIN fy ON o.o_custkey = fy.o_custkey
    GROUP BY 1
    """,
)
def new_vs_returning_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """First-touch cohort attribution: each year's revenue split into
    new customers (first-ever order that year) vs returning. The
    customer's acquisition year is ONE aggregate over the same fact
    table, joined back on the customer key — no per-customer window
    over raw orders, and the join is customer-keyed (it shuffles
    |customers|-scale rows, never broadcast: the acquisition table
    grows with the data). Conditional DECIMAL sums keep both revenue
    columns exact; the distinct new-customer count dedups inside the
    year group."""
    orders = load(spark, sf, "orders")
    fy = orders.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).cast("int").alias("first_yr")
    )
    o = orders.select(
        "o_custkey",
        F.year("o_orderdate").cast("int").alias("yr"),
        _m("o_totalprice").alias("price"),
    ).join(fy, "o_custkey")
    zero = F.lit(0).cast(MONEY)
    return o.groupBy(F.col("yr").alias("year")).agg(
        F.sum(F.when(F.col("first_yr") == F.col("yr"), F.col("price")).otherwise(zero))
        .cast("double")
        .alias("new_customer_revenue"),
        F.sum(F.when(F.col("first_yr") < F.col("yr"), F.col("price")).otherwise(zero))
        .cast("double")
        .alias("returning_revenue"),
        F.count_distinct(
            F.when(F.col("first_yr") == F.col("yr"), F.col("o_custkey"))
        )
        .cast("bigint")
        .alias("n_new_customers"),
    )


@register(
    "interpurchase_gap_profile",
    """
    WITH g AS (
      SELECT date_diff('day',
               LAG(CAST(o_orderdate AS DATE)) OVER
                 (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               CAST(o_orderdate AS DATE)) AS gap_days
      FROM orders)
    SELECT CAST(COUNT(gap_days) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_days) AS BIGINT) AS min_days,
           CAST(MAX(gap_days) AS BIGINT) AS max_days,
           round(quantile_cont(gap_days, 0.25), 9) AS p25_days,
           round(quantile_cont(gap_days, 0.50), 9) AS median_days,
           round(quantile_cont(gap_days, 0.75), 9) AS p75_days
    FROM g
    """,
)
def interpurchase_gap_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Inter-purchase cadence: the distribution of days between a
    customer's consecutive orders — the input to repurchase-cycle and
    win-back timing decisions. One customer-partitioned lag window
    produces the gap stream (first orders contribute NULL and drop
    out); the profile is exact interpolated quartiles over integer day
    counts, which Spark `percentile` and DuckDB `quantile_cont`
    compute identically. At extreme scale swap the exact percentile
    for `percentile_approx` as documented in `stats_quantiles`."""
    orders = load(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = orders.select(
        F.datediff(
            F.to_date("o_orderdate"), F.lag(F.to_date("o_orderdate")).over(w)
        ).alias("gap_days")
    )
    return g.agg(
        F.count("gap_days").cast("bigint").alias("n_gaps"),
        F.min("gap_days").cast("bigint").alias("min_days"),
        F.max("gap_days").cast("bigint").alias("max_days"),
        F.round(F.expr("percentile(gap_days, 0.25)"), 9).alias("p25_days"),
        F.round(F.expr("percentile(gap_days, 0.50)"), 9).alias("median_days"),
        F.round(F.expr("percentile(gap_days, 0.75)"), 9).alias("p75_days"),
    )


@register(
    "order_value_log2_histogram",
    """
    SELECT CAST(floor(log2(o_totalprice)) AS INT) AS log2_band,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
    FROM orders WHERE o_totalprice > 0
    GROUP BY 1
    """,
)
def order_value_log2_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Log-scale (powers-of-two) order-value histogram — the
    one-glance magnitude profile for long-tailed money columns. Pure
    map-side binning (`floor(log2(x))`) straight into one hash
    aggregate: no boundary table, no percentile pass, no window —
    the cheapest possible distribution sketch, ideal as a first look
    before the equi-depth machinery. Both engines evaluate log2 on
    identical doubles; min/max per band are order-insensitive."""
    orders = load(spark, sf, "orders")
    return (
        orders.filter(F.col("o_totalprice") > 0)
        .groupBy(
            F.floor(F.log2("o_totalprice")).cast("int").alias("log2_band")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.min("o_totalprice").cast("double").alias("min_price"),
            F.max("o_totalprice").cast("double").alias("max_price"),
        )
    )


@register(
    "embedding_dim_profile",
    """
    WITH x AS (
      SELECT CAST(i AS INT) AS dim,
             CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                        * 1000000000.0 + 0.5) AS DECIMAL(19,0)) AS v
      FROM embeddings, UNNEST(range(1, 65)) t(i)),
    s AS (
      SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(v) AS sv, SUM(v * v) AS svv
      FROM x GROUP BY dim)
    SELECT dim, n,
           round(CAST(sv AS DOUBLE) / 1000000000.0 / n, 9) AS mean_v,
           round((CAST(svv AS DOUBLE) / 1000000000000000000.0
                  - (CAST(sv AS DOUBLE) / 1000000000.0)
                    * (CAST(sv AS DOUBLE) / 1000000000.0) / n)
             / (n - 1), 9) AS var_v
    FROM s
    """,
)
def embedding_dim_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding QA: per-dimension mean and variance across the corpus
    — the screen for dead dimensions (variance ~ 0 carries no signal)
    and mis-centered ones (mean far from 0 after normalization). One
    posexplode to (dim, component) rows, then 64-key hash aggregation
    of exact DECIMAL sums and sums-of-squares — component values round
    to DECIMAL(18,9) identically in both engines, so the moment sums
    are order-insensitive and bit-equal; only the final mean/variance
    divisions need round guards. Same plan shape at any corpus size:
    the key space is the dimensionality, not the row count."""
    emb = load(spark, sf, "embeddings")
    # 1e-9 quantization via identical double ops on both engines (a
    # decimal CAST would round HALF_UP here, half-even in DuckDB — the
    # label_centroids boundary bug class); v is the 1e9-scaled integer.
    x = emb.select(
        F.posexplode("embedding").alias("pos", "comp")
    ).select(
        (F.col("pos") + 1).cast("int").alias("dim"),
        F.floor(
            F.col("comp").cast("double") * F.lit(1000000000.0) + F.lit(0.5)
        ).cast("decimal(19,0)").alias("v"),
    )
    s = x.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").alias("sv"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
    )
    sv_d = F.col("sv").cast("double") / F.lit(1000000000.0)
    return s.select(
        "dim",
        "n",
        F.round(sv_d / F.col("n"), 9).alias("mean_v"),
        F.round(
            (
                F.col("svv").cast("double") / F.lit(1000000000000000000.0)
                - sv_d * sv_d / F.col("n")
            )
            / (F.col("n") - 1),
            9,
        ).alias("var_v"),
    )


@register(
    "top_terms_per_language",
    r"""
    WITH wc AS (
      SELECT lang, w AS word, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents,
           UNNEST(regexp_split_to_array(lower(trim(text)), '\s+')) t(w)
      WHERE w <> ''
      GROUP BY lang, w),
    r AS (
      SELECT lang, word, n,
             row_number() OVER (PARTITION BY lang
               ORDER BY n DESC, word) AS rk
      FROM wc)
    SELECT lang, word, n, CAST(rk AS INT) AS rk
    FROM r WHERE rk <= 5
    """,
)
def top_terms_per_language(spark: SparkSession, sf: str) -> DataFrame:
    """Top-5 terms per language — the windowed top-k-per-group shape:
    explode to (lang, word) with map-side partial counting, one
    aggregate to the (lang, word) count table, then a rank window
    PARTITIONED BY language (each partition sorts only its own
    vocabulary — never a global sort). Word as the deterministic
    tie-break makes the cut identical across engines. The per-segment
    vocabulary fingerprint for corpus drift review."""
    docs = load(spark, sf, "documents")
    wc = (
        docs.select(
            "lang",
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), "word")
    return (
        wc.select("lang", "word", "n", F.row_number().over(w).cast("int").alias("rk"))
        .filter(F.col("rk") <= 5)
    )


@register(
    "missing_order_days",
    """
    WITH span AS (
      SELECT CAST(MIN(o_orderdate) AS DATE) AS d0,
             CAST(MAX(o_orderdate) AS DATE) AS d1
      FROM orders),
    spine AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
        AS day
      FROM span),
    active AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders)
    SELECT CAST(s.day AS VARCHAR) AS day
    FROM spine s LEFT JOIN active a ON s.day = a.day
    WHERE a.day IS NULL
    """,
)
def missing_order_days(spark: SparkSession, sf: str) -> DataFrame:
    """Data-continuity audit: calendar days inside the observed order
    span with NO orders at all — silent ingestion gaps that row counts
    never reveal. The day spine generates from the broadcast 1-row
    min/max span (|days| rows regardless of order volume); the fact
    side collapses to distinct active days before the anti-join probe,
    so both join inputs are calendar-sized."""
    orders = load(spark, sf, "orders")
    span = orders.agg(
        F.to_date(F.min("o_orderdate")).alias("d0"),
        F.to_date(F.max("o_orderdate")).alias("d1"),
    )
    spine = span.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    active = orders.select(F.to_date("o_orderdate").alias("day")).distinct()
    return (
        spine.join(active, "day", "left_anti")
        .select(F.col("day").cast("string").alias("day"))
    )


@register(
    "event_value_ecdf_probes",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
           round(CAST(SUM(CASE WHEN value <= 10 THEN 1 ELSE 0 END)
             AS DOUBLE) / COUNT(*), 9) AS p_le_10,
           round(CAST(SUM(CASE WHEN value <= 50 THEN 1 ELSE 0 END)
             AS DOUBLE) / COUNT(*), 9) AS p_le_50,
           round(CAST(SUM(CASE WHEN value <= 100 THEN 1 ELSE 0 END)
             AS DOUBLE) / COUNT(*), 9) AS p_le_100,
           round(CAST(SUM(CASE WHEN value <= 500 THEN 1 ELSE 0 END)
             AS DOUBLE) / COUNT(*), 9) AS p_le_500
    FROM events
    """,
)
def event_value_ecdf_probes(spark: SparkSession, sf: str) -> DataFrame:
    """Empirical CDF probed at fixed thresholds — the inverse of the
    percentile question ('what fraction sits below X' instead of
    'what value sits at fraction p'), answered with conditional
    aggregates in ONE scan and zero sorts. The cheapest distribution
    check when the thresholds are known a priori (SLA limits, pricing
    tiers); counts are exact integers, so the ratios agree
    bit-for-bit."""
    ev = load(spark, sf, "events")
    def probe(t):
        return F.round(
            F.sum(F.when(F.col("value") <= t, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias(f"p_le_{t}")
    return ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        probe(10), probe(50), probe(100), probe(500),
    )


@register(
    "revenue_concentration_trend",
    """
    WITH cy AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS year,
             o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS rev
      FROM orders GROUP BY 1, 2),
    r AS (
      SELECT year, rev,
             row_number() OVER (PARTITION BY year
               ORDER BY rev DESC, o_custkey) AS rk
      FROM cy)
    SELECT year,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(rev) AS DOUBLE) AS total_revenue,
           CAST(SUM(CASE WHEN rk <= 10 THEN rev
                 ELSE CAST(0 AS DECIMAL(14,2)) END) AS DOUBLE)
             AS top10_revenue,
           round(CAST(SUM(CASE WHEN rk <= 10 THEN rev
                 ELSE CAST(0 AS DECIMAL(14,2)) END) AS DOUBLE)
             / CAST(SUM(rev) AS DOUBLE), 9) AS top10_share
    FROM r GROUP BY year
    """,
)
def revenue_concentration_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Concentration trend: the share of each year's revenue held by
    its top-10 customers — is the business diversifying or keying on
    whales? The fact table aggregates to (customer, year) first; the
    rank window partitions PER YEAR over that aggregated table, so no
    partition ever exceeds the customer count and no global sort
    exists. Conditional exact-DECIMAL sums fold the top-10 and total
    into the same aggregate pass; customer key breaks rank ties
    deterministically."""
    orders = load(spark, sf, "orders")
    cy = orders.groupBy(
        F.year("o_orderdate").cast("int").alias("year"), F.col("o_custkey")
    ).agg(F.sum(_m("o_totalprice")).alias("rev"))
    w = Window.partitionBy("year").orderBy(F.desc("rev"), "o_custkey")
    r = cy.select("year", "rev", F.row_number().over(w).alias("rk"))
    zero = F.lit(0).cast("decimal(14,2)")
    top = F.sum(F.when(F.col("rk") <= 10, F.col("rev")).otherwise(zero))
    return r.groupBy("year").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("rev").cast("double").alias("total_revenue"),
        top.cast("double").alias("top10_revenue"),
        F.round(
            top.cast("double") / F.sum("rev").cast("double"), 9
        ).alias("top10_share"),
    )


@register(
    "event_value_drift_ks",
    """
    WITH mid AS (
      SELECT epoch_us(MIN(ts))
               + (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 2 AS m
      FROM events),
    tagged AS (
      SELECT CASE WHEN epoch_us(ts) < mid.m THEN 'H1' ELSE 'H2' END
               AS half,
             value
      FROM events CROSS JOIN mid),
    probes AS (
      SELECT half, p.t AS probe,
             round(CAST(SUM(CASE WHEN value <= p.t THEN 1 ELSE 0 END)
               AS DOUBLE) / COUNT(*), 9) AS cdf
      FROM tagged
      CROSS JOIN (SELECT unnest([5, 10, 25, 50, 100, 250, 500]) AS t) p
      GROUP BY half, p.t)
    SELECT a.probe,
           a.cdf AS cdf_h1,
           b.cdf AS cdf_h2,
           round(abs(a.cdf - b.cdf), 9) AS cdf_gap
    FROM probes a JOIN probes b
      ON a.probe = b.probe AND a.half = 'H1' AND b.half = 'H2'
    """,
)
def event_value_drift_ks(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution-shift monitor: the event-value CDF of the first
    half of the timeline vs the second, probed at fixed thresholds —
    max(cdf_gap) is a probe-based Kolmogorov-Smirnov statistic, the
    standard drift alarm between a reference window and fresh data.
    The midpoint is a broadcast 1-row aggregate; each half's CDF
    values come from conditional counts in one scan (probes fan the
    scan out 7x BEFORE aggregation, collapsing to 14 rows), and the
    final alignment joins two 7-row frames. Integer counts throughout
    — only the ratios round."""
    ev = load(spark, sf, "events")
    mid = ev.agg(
        (
            F.min(F.unix_micros("ts"))
            + (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))) / 2
        ).alias("m")
    )
    tagged = ev.join(F.broadcast(mid)).select(
        F.when(F.unix_micros("ts") < F.col("m"), "H1")
        .otherwise("H2")
        .alias("half"),
        "value",
    )
    probes = tagged.select(
        "half",
        "value",
        F.explode(F.array(*[F.lit(t) for t in [5, 10, 25, 50, 100, 250, 500]])).alias(
            "probe"
        ),
    ).groupBy("half", "probe").agg(
        F.round(
            F.sum(F.when(F.col("value") <= F.col("probe"), 1).otherwise(0)).cast(
                "double"
            )
            / F.count(F.lit(1)),
            9,
        ).alias("cdf")
    )
    a = probes.filter(F.col("half") == "H1").select(
        "probe", F.col("cdf").alias("cdf_h1")
    )
    b = probes.filter(F.col("half") == "H2").select(
        "probe", F.col("cdf").alias("cdf_h2")
    )
    return a.join(b, "probe").select(
        "probe",
        "cdf_h1",
        "cdf_h2",
        F.round(F.abs(F.col("cdf_h1") - F.col("cdf_h2")), 9).alias("cdf_gap"),
    )


@register(
    "source_length_wordcount_corr",
    r"""
    WITH x AS (
      SELECT source,
             CAST(n_chars AS BIGINT) AS a,
             CAST(len(list_filter(
               string_split_regex(trim(text), '\s+'), w -> w <> ''))
               AS BIGINT) AS b
      FROM documents),
    m AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
             CAST(SUM(a * a) AS BIGINT) AS saa,
             CAST(SUM(b * b) AS BIGINT) AS sbb,
             CAST(SUM(a * b) AS BIGINT) AS sab
      FROM x GROUP BY source)
    SELECT source, n,
           round((CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * sb / n)
             / sqrt((saa - CAST(sa AS DOUBLE) * sa / n)
                  * (sbb - CAST(sb AS DOUBLE) * sb / n)), 9) AS pearson_r
    FROM m
    WHERE saa * n > sa * sa AND sbb * n > sb * sb
    """,
)
def source_length_wordcount_corr(spark: SparkSession, sf: str) -> DataFrame:
    """GROUPED correlation — Pearson r between document length and
    word count, per source (a near-1 r is healthy prose; divergence
    flags sources with abnormal tokenization, e.g. CJK or markup
    blobs). The global `stats_correlation` pattern generalized to
    per-group: all five co-moment sums are exact BIGINTs folded in
    ONE hash aggregate per source, so the doubles derive from
    identical integers on both engines (built-in `corr` is
    float-order-dependent and would hash-drift). Zero-variance groups
    are excluded with exact integer tests."""
    docs = load(spark, sf, "documents")
    x = docs.select(
        "source",
        F.col("n_chars").cast("bigint").alias("a"),
        F.size(
            F.filter(
                F.split(F.trim("text"), r"\s+"), lambda w: w != ""
            )
        )
        .cast("bigint")
        .alias("b"),
    )
    m = x.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("a").cast("bigint").alias("sa"),
        F.sum("b").cast("bigint").alias("sb"),
        F.sum(F.col("a") * F.col("a")).cast("bigint").alias("saa"),
        F.sum(F.col("b") * F.col("b")).cast("bigint").alias("sbb"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("sab"),
    )
    cov = F.col("sab").cast("double") - F.col("sa").cast("double") * F.col("sb") / F.col("n")
    va = F.col("saa") - F.col("sa").cast("double") * F.col("sa") / F.col("n")
    vb = F.col("sbb") - F.col("sb").cast("double") * F.col("sb") / F.col("n")
    return (
        m.filter(
            (F.col("saa") * F.col("n") > F.col("sa") * F.col("sa"))
            & (F.col("sbb") * F.col("n") > F.col("sb") * F.col("sb"))
        )
        .select(
            "source", "n", F.round(cov / F.sqrt(va * vb), 9).alias("pearson_r")
        )
    )


@register(
    "part_name_token_revenue",
    r"""
    WITH rev AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS r
      FROM lineitem GROUP BY l_partkey),
    tok AS (
      SELECT p_partkey, w AS token
      FROM part, UNNEST(string_split(lower(p_name), ' ')) t(w)
      WHERE w <> '')
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev.r) AS DOUBLE) AS revenue
    FROM tok JOIN rev ON tok.p_partkey = rev.l_partkey
    GROUP BY token
    ORDER BY revenue DESC, token
    LIMIT 20
    """,
)
def part_name_token_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Text-to-fact attribution: revenue attributed to each token of
    the part NAME (which product words sell) — the hybrid that joins
    an exploded text dimension onto aggregated fact revenue. Revenue
    aggregates per part BEFORE the token explode, so the join moves
    |parts| rows, never lineitems, and the explode fans out only the
    small dimension. Exact decimal revenue; top-20 take with token
    tie-break."""
    li = load(spark, sf, "lineitem")
    part = load(spark, sf, "part")
    rev = li.groupBy("l_partkey").agg(
        F.sum(_m("l_extendedprice") * (1 - _m("l_discount"))).alias("r")
    )
    tok = part.select(
        F.col("p_partkey"),
        F.explode(F.split(F.lower("p_name"), " ")).alias("token"),
    ).filter(F.col("token") != "")
    return (
        tok.join(rev, tok["p_partkey"] == rev["l_partkey"])
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("r").cast("double").alias("revenue"),
        )
        .orderBy(F.desc("revenue"), "token")
        .limit(20)
    )


@register(
    "customer_tenure_histogram",
    """
    WITH t AS (
      SELECT o_custkey,
             date_diff('day', CAST(MIN(o_orderdate) AS DATE),
                              CAST(MAX(o_orderdate) AS DATE)) AS tenure_days
      FROM orders GROUP BY o_custkey)
    SELECT CAST(floor(tenure_days / 365.0) AS INT) AS tenure_years,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(MIN(tenure_days) AS BIGINT) AS min_days,
           CAST(MAX(tenure_days) AS BIGINT) AS max_days
    FROM t GROUP BY 1
    """,
)
def customer_tenure_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Customer tenure distribution: days between each customer's
    first and latest order, bucketed by whole years — the lifecycle
    profile behind retention planning. Two-level aggregation again
    (fact → per-customer min/max span → year-bucket histogram);
    integer day arithmetic end-to-end, no windows, no joins."""
    orders = load(spark, sf, "orders")
    t = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.to_date(F.max("o_orderdate")), F.to_date(F.min("o_orderdate"))
        ).alias("tenure_days")
    )
    return t.groupBy(
        # floor, not a bare int cast: DuckDB's double->int CAST rounds
        # half-even while Spark's truncates — floor agrees everywhere.
        F.floor(F.col("tenure_days") / 365.0).cast("int").alias("tenure_years")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.min("tenure_days").cast("bigint").alias("min_days"),
        F.max("tenure_days").cast("bigint").alias("max_days"),
    )


@register(
    "brand_share_trend",
    """
    WITH br AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS year,
             p.p_brand AS brand,
             SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS rev
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2),
    yt AS (SELECT year, SUM(rev) AS total FROM br GROUP BY year),
    sh AS (
      SELECT br.year, br.brand,
             round(CAST(br.rev AS DOUBLE) / CAST(yt.total AS DOUBLE), 9)
               AS share
      FROM br JOIN yt USING (year))
    SELECT year, brand, share,
           round(share - lag(share) OVER
             (PARTITION BY brand ORDER BY year), 9) AS share_delta
    FROM sh
    """,
)
def brand_share_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Brand market-share trend: each brand's share of yearly revenue
    plus its year-over-year delta — the drift report behind assortment
    decisions. One fact scan aggregates to (year, brand); yearly
    totals re-aggregate that tiny table and broadcast back; the lag
    window partitions PER BRAND over a handful of year rows. Exact
    decimal revenue, shares rounded once and the delta computed on the
    already-rounded shares so both engines subtract identical
    doubles."""
    li = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders")
    part = load(spark, sf, "part")
    br = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(
            F.year("o_orderdate").cast("int").alias("year"),
            F.col("p_brand").alias("brand"),
        )
        .agg(F.sum(_m("l_extendedprice") * (1 - _m("l_discount"))).alias("rev"))
    )
    yt = br.groupBy("year").agg(F.sum("rev").alias("total"))
    sh = br.join(F.broadcast(yt), "year").select(
        "year",
        "brand",
        F.round(
            F.col("rev").cast("double") / F.col("total").cast("double"), 9
        ).alias("share"),
    )
    w = Window.partitionBy("brand").orderBy("year")
    return sh.select(
        "year",
        "brand",
        "share",
        F.round(F.col("share") - F.lag("share").over(w), 9).alias("share_delta"),
    )


@register(
    "brand_size_price_regression",
    """
    WITH m AS (
      SELECT p_brand AS brand,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(p_size) AS BIGINT) AS sx,
             CAST(SUM(p_size * p_size) AS BIGINT) AS sxx,
             SUM(CAST(p_retailprice AS DECIMAL(14,2))) AS sy,
             SUM(p_size * CAST(p_retailprice AS DECIMAL(14,2))) AS sxy
      FROM part GROUP BY p_brand)
    SELECT brand, n,
           round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
             / (sxx - CAST(sx AS DOUBLE) * sx / n), 9) AS slope,
           round(CAST(sy AS DOUBLE) / n
             - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
               / (sxx - CAST(sx AS DOUBLE) * sx / n)
               * (CAST(sx AS DOUBLE) / n), 9) AS intercept
    FROM m
    WHERE sxx * n > sx * sx
    """,
)
def brand_size_price_regression(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped closed-form OLS: per-brand least-squares fit of retail
    price on size (does this brand charge for size, and from what
    base). The global Zipf regression generalized per group: one hash
    aggregate folds all moment sums — integer x-moments exact as
    BIGINT, price moments exact as DECIMAL — and slope/intercept
    derive from those identical numbers on both engines. Groups with
    zero size-variance are excluded by an exact integer test."""
    part = load(spark, sf, "part")
    m = part.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("p_size").cast("bigint").alias("sx"),
        F.sum(F.col("p_size") * F.col("p_size")).cast("bigint").alias("sxx"),
        F.sum(F.col("p_retailprice").cast("decimal(14,2)")).alias("sy"),
        F.sum(
            F.col("p_size") * F.col("p_retailprice").cast("decimal(14,2)")
        ).alias("sxy"),
    )
    slope = (
        F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double") / F.col("n")
    ) / (F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / F.col("n"))
    intercept = F.col("sy").cast("double") / F.col("n") - slope * (
        F.col("sx").cast("double") / F.col("n")
    )
    return (
        m.filter(F.col("sxx") * F.col("n") > F.col("sx") * F.col("sx"))
        .select(
            "brand",
            "n",
            F.round(slope, 9).alias("slope"),
            F.round(intercept, 9).alias("intercept"),
        )
    )


@register(
    "segment_ltv_quartiles",
    """
    WITH ltv AS (
      SELECT c.c_mktsegment AS segment,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
               AS v
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, o.o_custkey)
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           quantile_cont(v, 0.25) AS p25_ltv,
           quantile_cont(v, 0.50) AS median_ltv,
           quantile_cont(v, 0.75) AS p75_ltv,
           MAX(v) AS max_ltv
    FROM ltv GROUP BY segment
    """,
)
def segment_ltv_quartiles(spark: SparkSession, sf: str) -> DataFrame:
    """Customer lifetime value quartiles per market segment — the
    spread report that says whether a segment's revenue is broad-based
    or whale-driven. LTV is one exact-decimal aggregate per (segment,
    customer); the quartiles are exact interpolated percentiles per
    segment over those per-customer values. The decimal sums cast to
    double BEFORE the percentile, so interpolation inputs are
    bit-identical and the outputs need NO round guard — round(x, 9)
    itself disagrees at the ULP between engines on some
    representations, so raw doubles are the safer comparison here."""
    orders = load(spark, sf, "orders")
    customer = load(spark, sf, "customer")
    ltv = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"), F.col("o_custkey"))
        .agg(F.sum(_m("o_totalprice").cast("decimal(14,2)")).cast("double").alias("v"))
    )
    return ltv.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.expr("percentile(v, 0.25)").alias("p25_ltv"),
        F.expr("percentile(v, 0.50)").alias("median_ltv"),
        F.expr("percentile(v, 0.75)").alias("p75_ltv"),
        F.max("v").alias("max_ltv"),
    )


@register(
    "trade_flow_matrix",
    """
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    GROUP BY 1, 2
    """,
)
def trade_flow_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Bilateral trade-flow matrix: revenue shipped from every supplier
    nation to every customer nation — TPC-H q7 generalized from one
    nation pair to the full |nations|² matrix in ONE fact scan (q7's
    filtered plan would need 625 passes). Customer and supplier joins
    shuffle on their keys; both nation dims broadcast; the aggregate's
    key space is the nation-pair square, so map-side partials collapse
    the fact volume before one tiny exchange. Exact decimal revenue."""
    li = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders")
    customer = load(spark, sf, "customer")
    supplier = load(spark, sf, "supplier")
    nation = load(spark, sf, "nation")
    cn = nation.select(
        F.col("n_nationkey").alias("_cnk"), F.col("n_name").alias("cust_nation")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("_snk"), F.col("n_name").alias("supp_nation")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(supplier, li["l_suppkey"] == supplier["s_suppkey"])
        .join(F.broadcast(cn), customer["c_nationkey"] == F.col("_cnk"))
        .join(F.broadcast(sn), supplier["s_nationkey"] == F.col("_snk"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(_m("l_extendedprice") * (1 - _m("l_discount")))
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "user_activity_gini",
    """
    WITH u AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY user_id),
    r AS (
      SELECT x, row_number() OVER (ORDER BY x, user_id) AS i FROM u),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(i * x) AS BIGINT) AS six
      FROM r)
    SELECT n AS n_users,
           sx AS total_events,
           round(2.0 * six / (n * CAST(sx AS DOUBLE)) - (n + 1.0) / n, 9)
             AS gini
    FROM s
    """,
)
def user_activity_gini(spark: SparkSession, sf: str) -> DataFrame:
    """Gini coefficient of user activity — the inequality summary
    (0 = everyone equally active, →1 = a few power users do
    everything) that complements the HHI concentration index. Computed
    by the rank-sum identity G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over
    ascending-sorted per-user counts: one hash aggregate to user
    counts, one DISTRIBUTED global rank over the user aggregate (with
    user id tie-break; global sort + distributed sequence,
    ``operators/windows.py::row_index`` — no single-partition window even for a
    10^9-user domain), one moment fold. All moments are exact BIGINTs,
    so the final expression evaluates on identical doubles; magnitudes
    stay far below the 2^53 range where round guards become
    ULP-unstable."""
    ev = load(spark, sf, "events")
    u = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    r = row_index(u, ["x", "user_id"], "i", start=1)
    s = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("i") * F.col("x")).cast("bigint").alias("six"),
    )
    return s.select(
        F.col("n").alias("n_users"),
        F.col("sx").alias("total_events"),
        F.round(
            2.0 * F.col("six") / (F.col("n") * F.col("sx").cast("double"))
            - (F.col("n") + 1.0) / F.col("n"),
            9,
        ).alias("gini"),
    )


@register(
    "k_anonymity_report",
    """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS grp_n
      FROM customer GROUP BY c_nationkey, c_mktsegment)
    SELECT CASE WHEN grp_n < 5 THEN 'violates_k5'
                WHEN grp_n < 25 THEN 'k5_to_24'
                ELSE 'k25_plus' END AS k_class,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(grp_n) AS BIGINT) AS n_rows,
           CAST(MIN(grp_n) AS BIGINT) AS min_group,
           CAST(MAX(grp_n) AS BIGINT) AS max_group
    FROM g GROUP BY 1
    """,
)
def k_anonymity_report(spark: SparkSession, sf: str) -> DataFrame:
    """Data-governance twin of the PII redaction transformer
    (functions/transformers.py): k-anonymity audit over the customer
    quasi-identifier tuple (nation, market segment). Rows whose
    quasi-identifier group has fewer than k members are re-identifiable
    by linkage; the report buckets groups into violates-k5 / k5-24 /
    k25+ classes with group and row counts. Two partial-aggregated hash
    shuffles (quasi-group sizes, then class rollup — the second input
    is |distinct quasi-tuples|, tiny); all-integer output, bit-exact.
    At 100 TB the same plan holds: the first aggregate is the only
    corpus-sized exchange, and skewed quasi-groups partial-aggregate
    map-side like any groupBy."""
    cust = load(spark, sf, "customer").select("c_nationkey", "c_mktsegment")
    g = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("grp_n")
    )
    k_class = (
        F.when(F.col("grp_n") < 5, "violates_k5")
        .when(F.col("grp_n") < 25, "k5_to_24")
        .otherwise("k25_plus")
    )
    return (
        g.select(k_class.alias("k_class"), "grp_n")
        .groupBy("k_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("grp_n").cast("bigint").alias("n_rows"),
            F.min("grp_n").cast("bigint").alias("min_group"),
            F.max("grp_n").cast("bigint").alias("max_group"),
        )
    )


@register(
    "part_skyline",
    """
    SELECT p_partkey,
           CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS DOUBLE)
             AS p_retailprice,
           CAST(p_size AS BIGINT) AS p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE CAST(q.p_retailprice AS DECIMAL(12,2))
              <= CAST(p.p_retailprice AS DECIMAL(12,2))
        AND q.p_size >= p.p_size
        AND (CAST(q.p_retailprice AS DECIMAL(12,2))
               < CAST(p.p_retailprice AS DECIMAL(12,2))
             OR q.p_size > p.p_size))
    """,
)
def part_skyline(spark: SparkSession, sf: str) -> DataFrame:
    """Skyline / Pareto front of the part catalog: cheapest-for-their-
    size parts (minimize retail price, maximize size) — no other part
    is both <= price and >= size with one strict. The oracle is the
    O(n²) NOT EXISTS dominance self-join; the engine plan is the exact
    sort-based formulation in operators/skyline.py (per-price max, one
    distributed exclusive prefix-max over distinct prices, join back) —
    nothing quadratic, no single-partition window. Exact DECIMAL price
    comparisons keep both engines' dominance tests identical."""
    from .operators.skyline import skyline_2d

    part = load(spark, sf, "part").select(
        "p_partkey",
        _m("p_retailprice").alias("_price"),
        F.col("p_size").cast("bigint").alias("p_size"),
    )
    return skyline_2d(part, "_price", "p_size").select(
        "p_partkey",
        F.col("_price").cast("double").alias("p_retailprice"),
        "p_size",
    )


@register(
    "user_path_similarity",
    """
    WITH paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM events GROUP BY user_id),
    sh AS (SELECT DISTINCT user_id, substr(path, CAST(i AS INT), 12) AS g
           FROM paths,
                UNNEST(range(1, greatest(length(path) - 10, 2))) AS t(i)),
    sz AS (SELECT user_id, COUNT(*) AS n FROM sh GROUP BY user_id),
    inter AS (SELECT a.user_id AS id_a, b.user_id AS id_b, COUNT(*) AS nc
              FROM sh a JOIN sh b USING (g)
              WHERE a.user_id < b.user_id
              GROUP BY 1, 2)
    SELECT id_a, id_b,
           round(CAST(nc AS DOUBLE) / (sa.n + sb.n - nc), 6) AS jaccard
    FROM inter JOIN sz sa ON id_a = sa.user_id JOIN sz sb ON id_b = sb.user_id
    WHERE CAST(nc AS DOUBLE) / (sa.n + sb.n - nc) >= 0.5
    """,
)
def user_path_similarity(spark: SparkSession, sf: str) -> DataFrame:
    """Trajectory-style behavioral similarity (REPOSE/ICDE'21 problem
    shape, sequence-similarity formulation): each user's chronological
    event-type sequence becomes a path string, and near-identical
    behavior pairs fall out of the SAME exact shingle-Jaccard operator
    the document near-dup family uses (operators/dedup.py) — operator
    reuse across domains: the path derivation is one partial-aggregated
    collect per user (sorted in-array, deterministic), everything
    downstream inherits the prefix-filter + two-phase-verify scale
    shape and its oracle parity."""
    ev = load(spark, sf, "events")
    paths = (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("_evs")
        )
        .select(
            "user_id",
            F.array_join(
                F.transform(F.col("_evs"), lambda s: s["event_type"]), ">"
            ).alias("path"),
        )
    )
    return D.ngram_jaccard_pairs(paths, "path", "user_id", k=12, threshold=0.5)


@register(
    "supplier_skyline",
    """
    WITH m AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
               AS revenue,
             CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)
               / COUNT(*) AS avg_discount,
             CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      FROM lineitem GROUP BY l_suppkey)
    SELECT l_suppkey, revenue, round(avg_discount, 9) AS avg_discount,
           n_orders
    FROM m p
    WHERE NOT EXISTS (
      SELECT 1 FROM m q
      WHERE q.avg_discount <= p.avg_discount
        AND q.revenue >= p.revenue
        AND q.n_orders >= p.n_orders
        AND (q.avg_discount < p.avg_discount
             OR q.revenue > p.revenue
             OR q.n_orders > p.n_orders))
    """,
)
def supplier_skyline(spark: SparkSession, sf: str) -> DataFrame:
    """3-D supplier Pareto front (minimize average discount given,
    maximize revenue and distinct orders served) — the d >= 3 case the
    2-D sort trick cannot express, via operators/skyline.skyline_nd:
    per-partition block-nested-loop local skylines (mapInPandas — the
    justified Pandas kernel), then the global skyline of the tiny
    candidate union. Metrics derive from exact DECIMAL sums and integer
    counts cast to identical doubles in both engines, so the dominance
    tests agree bit-for-bit; only the REPORTED avg_discount carries a
    display round."""
    from .operators.skyline import skyline_nd

    li = load(spark, sf, "lineitem")
    m = li.groupBy("l_suppkey").agg(
        F.sum(_m("l_extendedprice") * (1 - _m("l_discount")))
        .cast("double")
        .alias("revenue"),
        (F.sum(_m("l_discount")).cast("double") / F.count(F.lit(1))).alias(
            "avg_discount"
        ),
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders"),
    )
    sky = skyline_nd(m, minimize=["avg_discount"], maximize=["revenue", "n_orders"])
    return sky.select(
        "l_suppkey",
        "revenue",
        F.round("avg_discount", 9).alias("avg_discount"),
        "n_orders",
    )


@register(
    "multimodal_frame_plan",
    """
    WITH assets AS (
      SELECT doc_id, octet_length(encode(text)) AS n_bytes
      FROM documents),
    plan AS (
      SELECT doc_id,
             least(CAST(ceil((n_bytes / 65536.0) / 1.0) AS INT), 16) AS n
      FROM assets)
    SELECT doc_id, CAST(t.i AS INT) AS frame_idx,
           CAST(t.i AS DOUBLE) * 1.0 AS sample_ts_s
    FROM plan, UNNEST(range(0, CAST(greatest(n, 1) AS BIGINT))) AS t(i)
    """,
)
def multimodal_frame_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Video frame-sampling plan (operators/multimodal.frame_sample_plan):
    which timestamps each asset's expensive decode stage should touch —
    1 fps capped at 16 frames, duration proxied from payload size (the
    stub's convention; a real pipeline reads container metadata). Pure
    JVM sequence + explode, zero Python and zero shuffle: the plan
    stage stays maximally parallel and the decode fan-out is bounded
    per asset by construction."""
    from .operators.multimodal import attach_asset_metadata, frame_sample_plan

    docs = load(spark, sf, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    assets = attach_asset_metadata(docs, "payload", "video", "fake")
    return frame_sample_plan(assets, "doc_id", every_s=1.0, max_frames=16)


@register(
    "multimodal_transform",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes_in,
           CAST(CASE WHEN octet_length(encode(text)) = 0 THEN 0
                     ELSE greatest(octet_length(encode(text)) // 2, 1) END
                AS BIGINT) AS n_bytes_out,
           md5(substr(text, 1,
                      CAST(CASE WHEN octet_length(encode(text)) = 0 THEN 0
                                ELSE greatest(octet_length(encode(text)) // 2,
                                              1) END AS INT))) AS out_digest
    FROM documents
    """,
)
def multimodal_transform(spark: SparkSession, sf: str) -> DataFrame:
    """Payload→payload multimodal transform through the distributed
    path (operators/multimodal.transform_assets — the resize/transcode
    write-side twin of extract_features): Arrow-batched mapInPandas,
    binary in → binary out, no shuffle. The deterministic fake kernel
    truncates to half so the oracle can reproduce byte counts AND the
    output digest exactly (ASCII corpus: byte slicing == char slicing),
    proving the batch plumbing end-to-end, not codec output."""
    from .operators.multimodal import transform_assets

    docs = load(spark, sf, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    out = transform_assets(docs, "payload", "doc_id", deterministic_fake=True)
    return out.select(
        "doc_id", "n_bytes_in", "n_bytes_out",
        F.md5("payload").alias("out_digest"),
    )


@register(
    "doc_sentiment",
    r"""
    WITH lex(w, v) AS (VALUES
      ('fast', 2), ('big', 1), ('small', -1), ('slow', -2),
      ('good', 3), ('bad', -3), ('best', 4), ('worst', -4)),
    toks AS (
      SELECT doc_id, source,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS w,
             len(string_split_regex(trim(lower(text)), '\s+')) AS n
      FROM documents WHERE text IS NOT NULL),
    per_doc AS (
      SELECT doc_id, source,
             CAST(SUM(COALESCE(v, 0)) AS BIGINT) AS v_total,
             CAST(MIN(n) AS BIGINT) AS n_toks
      FROM toks LEFT JOIN lex USING (w)
      GROUP BY doc_id, source)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(CAST(SUM(v_total) AS DOUBLE) / SUM(n_toks), 9)
             AS mean_sentiment,
           CAST(SUM(CASE WHEN v_total > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_positive,
           CAST(SUM(CASE WHEN v_total < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_negative
    FROM per_doc GROUP BY source
    """,
)
def doc_sentiment(spark: SparkSession, sf: str) -> DataFrame:
    """Lexicon-based sentiment rollup per source (EDBT'16 Spark
    sentiment-at-scale problem shape): each doc's valence total is a
    single codegen'd fold over its tokens against a broadcast-literal
    map — no join, no shuffle for the per-doc stage; the only exchange
    is the per-source rollup. All aggregates stay INTEGER (valence
    sums, token counts, sign tests) with exactly one double division at
    the end — a token-weighted mean, deliberately not an average of
    per-doc float ratios, whose summation order would differ between
    engines."""
    from .operators.text import sentiment_totals

    # NULL-text docs are excluded on BOTH sides (the oracle's unnest
    # would silently drop them from per_doc while a bare Spark count
    # kept them — the explicit filter makes the contract symmetric).
    docs = load(spark, sf, "documents").filter(F.col("text").isNotNull())
    t = sentiment_totals(F.col("text")).alias("_s")
    per_doc = docs.select("doc_id", "source", t).select(
        "doc_id",
        "source",
        F.col("_s.v_total").alias("v_total"),
        F.col("_s.n_toks").alias("n_toks"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(
            F.sum("v_total").cast("double") / F.sum("n_toks"), 9
        ).alias("mean_sentiment"),
        F.sum(F.when(F.col("v_total") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_positive"),
        F.sum(F.when(F.col("v_total") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_negative"),
    )


# ---------------------------------------------------------------------------
# Probabilistic record linkage (operators/linkage.py)
# ---------------------------------------------------------------------------

_LINKAGE_BLOCKERS = (["c_nationkey", "c_mktsegment"], ["name_sfx"])
_LINKAGE_FIELDS = ("nation", "seg", "bal", "name")


def _linkage_agreements(spark: SparkSession, sf: str) -> DataFrame:
    """Shared front half of the linkage queries: blocking passes →
    candidate pairs → agreement bits over the customer table."""
    from .operators import linkage as LK

    c = load(spark, sf, "customer").withColumn(
        "name_sfx", F.expr("right(c_name, 2)")
    )
    pairs = LK.blocked_pairs(
        c,
        None,
        _LINKAGE_BLOCKERS,
        id_col="c_custkey",
        compare_cols=["c_name", "c_nationkey", "c_mktsegment", "c_acctbal"],
    )
    comparators = [
        LK.Comparator(
            "nation",
            lambda a, b: (F.col("c_nationkey_a") == F.col("c_nationkey_b")).cast("int"),
        ),
        LK.Comparator(
            "seg",
            lambda a, b: (F.col("c_mktsegment_a") == F.col("c_mktsegment_b")).cast("int"),
        ),
        LK.Comparator(
            "bal",
            lambda a, b: (
                F.abs(F.col("c_acctbal_a") - F.col("c_acctbal_b")) < F.lit(100.0)
            ).cast("int"),
        ),
        LK.Comparator(
            "name",
            lambda a, b: (
                # bounded form: -1 past the bound, so >= 0 <=> dist <= 2
                F.levenshtein(F.col("c_name_a"), F.col("c_name_b"), 2) >= 0
            ).cast("int"),
        ),
    ]
    return LK.agreement_vectors(pairs, comparators)


def _linkage_pattern_counts(ag: DataFrame) -> list:
    """EM input: the ≤2^f agreement-pattern counts of an agreement
    frame, through the SAME operators/linkage.pattern_counts every
    caller uses, sorted for a deterministic float-summation order in
    the EM accumulators."""
    from .operators.linkage import pattern_counts

    return sorted(
        ([r[f"g_{f}"] for f in _LINKAGE_FIELDS], r["n_pairs"])
        for r in pattern_counts(ag, _LINKAGE_FIELDS).collect()
    )


@register(
    "linkage_agreement_patterns",
    bench=True,
    oracle="""
    WITH c AS (
      SELECT c_custkey, c_name, c_nationkey, c_mktsegment, c_acctbal,
             right(c_name, 2) AS name_sfx
      FROM customer
    ),
    pairs AS (
      SELECT DISTINCT a.c_custkey AS id_a, b.c_custkey AS id_b
      FROM c a JOIN c b ON a.c_custkey < b.c_custkey
       AND ((a.c_nationkey = b.c_nationkey
             AND a.c_mktsegment = b.c_mktsegment)
            OR a.name_sfx = b.name_sfx)
    ),
    bits AS (
      SELECT CAST(a.c_nationkey = b.c_nationkey AS INT) AS g_nation,
             CAST(a.c_mktsegment = b.c_mktsegment AS INT) AS g_seg,
             CAST(abs(a.c_acctbal - b.c_acctbal) < 100.0 AS INT) AS g_bal,
             CAST(levenshtein(a.c_name, b.c_name) <= 2 AS INT) AS g_name
      FROM pairs p
      JOIN c a ON a.c_custkey = p.id_a
      JOIN c b ON b.c_custkey = p.id_b
    )
    SELECT g_nation, g_seg, g_bal, g_name, COUNT(*) AS n_pairs
    FROM bits GROUP BY g_nation, g_seg, g_bal, g_name
    """,
)
def linkage_agreement_patterns(spark: SparkSession, sf: str) -> DataFrame:
    """Fellegi–Sunter front end: agreement-PATTERN counts over blocked
    candidate pairs of the customer table (probabilistic generalization
    of the reference's merge use case, ``usecases/merge/
    MergeTwoCSV.scala:168-216``). Two blocking passes — (nation,
    segment) and a name-suffix key — union/distinct into candidates;
    per-field agreement bits are JVM expressions (equality /
    levenshtein≤2 / |Δbal|<100); the 2^4-pattern count table is the
    ONLY relation the EM estimator consumes. Every stage is an
    equi-join or a map — no cartesian anywhere; the oracle's OR-join is
    DuckDB's problem, not the plan's. Integer-only output → bit-exact."""
    from .operators.linkage import pattern_counts

    return pattern_counts(
        _linkage_agreements(spark, sf), _LINKAGE_FIELDS
    ).select(
        "g_nation",
        "g_seg",
        "g_bal",
        "g_name",
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
    )


@register("record_linkage_em", None)  # EM weights: not SQL-expressible
def record_linkage_em(spark: SparkSession, sf: str) -> DataFrame:
    """Full Fellegi–Sunter estimation: EM over the pattern counts
    (driver-side, ≤16 rows — the corpus is scanned exactly once) then
    per-field m/u probabilities and log2 match weights. Deterministic
    fixed-point (fixed init, early convergence stop), but the EM
    recursion is not portably SQL-expressible → rows-only check;
    determinism and weight ordering are pinned in pytest."""
    from .operators.linkage import em_fellegi_sunter, match_weights

    counts = _linkage_pattern_counts(_linkage_agreements(spark, sf))
    m, u, p = em_fellegi_sunter(counts, n_fields=len(_LINKAGE_FIELDS))
    w = match_weights(m, u)
    rows = [
        (
            f,
            round(m[j], 9),
            round(u[j], 9),
            round(w[j][0], 9),
            round(w[j][1], 9),
        )
        for j, f in enumerate(_LINKAGE_FIELDS)
    ]
    return spark.createDataFrame(
        rows, "field string, m double, u double, w_agree double, w_disagree double"
    )


@register("record_linkage_scores", None)  # scores derive from EM weights
def record_linkage_scores(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end linkage: EM-learned weights re-enter the pair stream
    as LITERALS, so scoring is a shuffle-free codegen map; output is
    the per-score-band pair census (score rounded to 3dp ≙ the classic
    Fellegi–Sunter decision histogram from which upper/lower thresholds
    are read). Scale: the scored stream never collects — only the
    ≤2^4-band histogram does."""
    from .operators.linkage import em_fellegi_sunter, score_pairs

    # ag feeds BOTH the pattern-count collect (EM input) and the scored
    # stream — track-persist so the blocking join runs once, released
    # by the registry lifecycle like every other double-use relation.
    ag = cache.track(_linkage_agreements(spark, sf))
    counts = _linkage_pattern_counts(ag)
    m, u, _ = em_fellegi_sunter(counts, n_fields=len(_LINKAGE_FIELDS))
    return (
        score_pairs(ag, _LINKAGE_FIELDS, m, u)
        .groupBy(F.round(F.col("score"), 3).alias("score_band"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


@register(
    "linkage_sorted_neighborhood",
    """
    WITH ranked AS (
      SELECT c_custkey, c_name, c_acctbal,
             row_number() OVER (ORDER BY c_acctbal, c_custkey) AS i
      FROM customer
    )
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(abs(a.c_acctbal - b.c_acctbal) < 10.0 AS INT) AS g_bal
    FROM ranked a JOIN ranked b
      ON b.i BETWEEN a.i + 1 AND a.i + 3
    """,
)
def linkage_sorted_neighborhood(spark: SparkSession, sf: str) -> DataFrame:
    """Sorted-neighborhood blocking over the customer table: sort on
    (acctbal, custkey), pair each record with its 3 successors, attach
    a balance-proximity agreement bit. The complementary blocker to
    ``linkage_agreement_patterns``'s equality blocks — near-identical
    balances land adjacent regardless of any categorical key. The
    oracle's rank window is a plain OVER () — the SPARK side instead
    uses the distributed row index (global sort + distributed sequence,
    no global window); both produce the identical total order, asserted
    bit-exact."""
    from .operators.linkage import sorted_neighborhood_pairs

    c = load(spark, sf, "customer")
    pairs = sorted_neighborhood_pairs(
        c,
        ["c_acctbal", "c_custkey"],
        id_col="c_custkey",
        window=3,
        compare_cols=["c_acctbal"],
    )
    return pairs.select(
        "id_a",
        "id_b",
        (F.abs(F.col("c_acctbal_a") - F.col("c_acctbal_b")) < F.lit(10.0))
        .cast("int")
        .alias("g_bal"),
    )


@register(
    "salted_join_revenue",
    bench=True,
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE)
             AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def salted_join_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """The salted-join skew primitive, oracle-pinned bit-identical to
    the plain join it rewrites: lineitem (big, salted on the unique
    l_linenumber-within-order via xxhash64(l_orderkey*8+l_linenumber))
    × orders (small, replicated per salt) on l_orderkey, then revenue
    per priority. On THIS uniform data the plain join wins — the
    registry entry exists to keep the hot-key escape hatch
    (operators/skew.py) under the same correctness gate as everything
    else; engage it when one key's share × |big| ≫ |small| × n_salt
    and the join is not broadcast-able."""
    from .operators.skew import salted_join

    li = load(spark, sf, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    orders = load(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(
        li,
        orders,
        on=["o_orderkey"],
        salt_src=F.col("o_orderkey") * 8 + F.col("l_linenumber"),
        n_salt=4,
        how="inner",
    )
    rev = _m("l_extendedprice") * (F.lit(1) - _m("l_discount"))
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(rev).cast("double").alias("revenue"),
    )


@register(
    "l_diversity_report",
    """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS grp_n,
             CAST(COUNT(DISTINCT floor(c_acctbal / 2500.0)) AS BIGINT)
               AS l_distinct
      FROM customer GROUP BY c_nationkey, c_mktsegment)
    SELECT CASE WHEN l_distinct < 3 THEN 'violates_l3'
                WHEN l_distinct < 5 THEN 'l3_to_4'
                ELSE 'l5_plus' END AS l_class,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(grp_n) AS BIGINT) AS n_rows,
           CAST(MIN(l_distinct) AS BIGINT) AS min_l,
           CAST(MAX(l_distinct) AS BIGINT) AS max_l
    FROM g GROUP BY 1
    """,
)
def l_diversity_report(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct l-diversity audit — k-anonymity's companion check: a
    quasi-identifier group that is large (k-anonymous) but whose
    SENSITIVE attribute (balance band = floor(acctbal/2500), the
    categorical proxy) takes few distinct values still leaks by
    homogeneity. Same two-exchange shape as ``k_anonymity_report``
    (countDistinct expands to the two-phase distinct — the skew-safe
    form operators/skew.py documents); integer-only output, bit-exact.
    floor() explicitly on both sides — DuckDB's double→int CAST rounds
    while Spark's truncates."""
    cust = load(spark, sf, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(2500.0)).alias("_band"),
    )
    g = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("grp_n"),
        F.countDistinct("_band").cast("bigint").alias("l_distinct"),
    )
    l_class = (
        F.when(F.col("l_distinct") < 3, "violates_l3")
        .when(F.col("l_distinct") < 5, "l3_to_4")
        .otherwise("l5_plus")
    )
    return (
        g.select(l_class.alias("l_class"), "grp_n", "l_distinct")
        .groupBy("l_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("grp_n").cast("bigint").alias("n_rows"),
            F.min("l_distinct").cast("bigint").alias("min_l"),
            F.max("l_distinct").cast("bigint").alias("max_l"),
        )
    )


@register(
    "revenue_holt_forecast",
    bench=True,
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, date_trunc('day', ts) AS d,
             CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2),
    numbered AS (
      SELECT event_type, d, x,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn
      FROM daily),
    counts AS (SELECT event_type, COUNT(*) AS n FROM daily GROUP BY 1),
    hw AS (
      SELECT event_type, rn, x AS l, CAST(0.0 AS DOUBLE) AS t
      FROM numbered WHERE rn = 1
      UNION ALL
      SELECT n.event_type, n.rn,
             CAST(0.5 AS DOUBLE) * n.x
               + CAST(0.5 AS DOUBLE) * (hw.l + hw.t),
             CAST(0.5 AS DOUBLE)
               * ((CAST(0.5 AS DOUBLE) * n.x
                   + CAST(0.5 AS DOUBLE) * (hw.l + hw.t)) - hw.l)
               + CAST(0.5 AS DOUBLE) * hw.t
      FROM hw JOIN numbered n
        ON n.event_type = hw.event_type AND n.rn = hw.rn + 1)
    SELECT hw.event_type, CAST(c.n AS BIGINT) AS n_steps,
           hw.l AS level, hw.t AS trend,
           hw.l + CAST(7.0 AS DOUBLE) * hw.t AS forecast
    FROM hw JOIN counts c ON c.event_type = hw.event_type AND hw.rn = c.n
    """,
)
def revenue_holt_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """Holt linear-trend forecast of daily value per event type
    (operators/timeseries.py): the sequential level/trend recurrence
    runs as ONE codegen array fold per key — parallel across keys,
    bounded by the day-horizon within a key — after a single
    partial-aggregated daily rollup. The DuckDB oracle replays the
    identical recurrence as a recursive CTE stepping in the same IEEE
    double order (α=β=0.5 exactly representable; daily inputs DECIMAL
    →DOUBLE), so the comparison is bit-exact with NO rounding guard."""
    from .operators.timeseries import holt_forecast

    ev = load(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(
        F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias("x")
    )
    return holt_forecast(
        daily,
        key_cols=["event_type"],
        step_col="d",
        value_col="x",
        alpha=0.5,
        beta=0.5,
        horizon=7,
    )


@register(
    "view_purchase_overlap_windows",
    """
    WITH v AS (
      SELECT user_id, event_id,
             ts - INTERVAL 30 MINUTE AS s, ts + INTERVAL 30 MINUTE AS e
      FROM events WHERE event_type = 'view'),
    p AS (
      SELECT user_id, event_id,
             ts - INTERVAL 30 MINUTE AS s, ts + INTERVAL 30 MINUTE AS e
      FROM events WHERE event_type = 'purchase')
    SELECT v.user_id, CAST(COUNT(*) AS BIGINT) AS n_overlaps
    FROM v JOIN p ON v.user_id = p.user_id
     AND v.s <= p.e AND p.s <= v.e
    GROUP BY v.user_id
    """,
)
def view_purchase_overlap_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Interval×interval overlap join (operators/joins.py::
    interval_overlap_join): ±30 min windows around each view vs each
    purchase, per user — overlapping attention/conversion windows
    counted per user. Both interval sets explode to time buckets and
    equi-join on (user, bucket); each overlapping pair is emitted only
    at its first shared bucket (filter, not a distinct shuffle). The
    oracle is DuckDB's theta join — the plan here never runs one."""
    from .operators.joins import interval_overlap_join

    ev = load(spark, sf, "events")
    mk = lambda t: (  # noqa: E731
        ev.filter(F.col("event_type") == t).select(
            "user_id",
            F.col("event_id").alias(f"id_{t}"),
            (F.col("ts") - F.expr("INTERVAL 30 MINUTE")).alias(f"s_{t}"),
            (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias(f"e_{t}"),
        )
    )
    pairs = interval_overlap_join(
        mk("view"),
        mk("purchase"),
        key="user_id",
        a_start="s_view",
        a_end="e_view",
        b_start="s_purchase",
        b_end="e_purchase",
        bucket="30 minutes",
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_overlaps")
    )


@register(
    "weighted_sample_docs",
    """
    WITH keyed AS (
      SELECT doc_id, source,
             round(ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                      AS BIGINT) + 1) / 1152921504606846976.0)
               / CAST(n_chars + 1 AS DOUBLE), 12) AS k
      FROM documents)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM (SELECT * FROM keyed ORDER BY k DESC, doc_id LIMIT 100)
    GROUP BY source
    """,
)
def weighted_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-100 WEIGHTED sample without replacement (Efraimidis–
    Spirakis A-ES): inclusion probability ∝ document length — the
    quality/length-weighted corpus draw every data-mix pipeline needs,
    with ZERO random state (md5-uniform of the id = deterministic,
    replayable draw; see operators/sampling.weighted_sample_keys).
    The top-k by key is orderBy+limit — Spark plans TakeOrdered
    (per-partition heaps, k-row merge), never a global sort. Checksum
    certifies the identical member set across engines."""
    from .operators.sampling import weighted_sample_keys

    docs = load(spark, sf, "documents")
    key = weighted_sample_keys(
        weight=(F.col("n_chars") + F.lit(1)).cast("double")
    )
    # round(…,12) before ranking: ln() may differ by 1 ULP between the
    # JVM and libm — the rounded key + id tie-break is engine-stable
    # (the cosine-ranking convention)
    picked = (
        docs.select("doc_id", "source", F.round(key, 12).alias("_k"))
        .orderBy(F.col("_k").desc(), "doc_id")
        .limit(100)
    )
    return picked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )


# Fixed literal weights for the oracle-exact scoring variant: computed
# ONCE here (log2 is transcendental — embedding the repr() round-trips
# the exact double into BOTH engines, so the scoring arithmetic is
# identical literals + additions on each side).
_LINKAGE_FIXED_M = (0.95, 0.9, 0.7, 0.85)
_LINKAGE_FIXED_U = (0.08, 0.2, 0.1, 0.5)


def _fixed_weight_sql() -> str:
    from .operators.linkage import match_weights

    w = match_weights(_LINKAGE_FIXED_M, _LINKAGE_FIXED_U)
    terms = " + ".join(
        f"(CASE WHEN g_{f} = 1 THEN {w[j][0]!r} ELSE {w[j][1]!r} END)"
        for j, f in enumerate(_LINKAGE_FIELDS)
    )
    return f"""
    WITH c AS (
      SELECT c_custkey, c_name, c_nationkey, c_mktsegment, c_acctbal,
             right(c_name, 2) AS name_sfx
      FROM customer
    ),
    pairs AS (
      SELECT DISTINCT a.c_custkey AS id_a, b.c_custkey AS id_b
      FROM c a JOIN c b ON a.c_custkey < b.c_custkey
       AND ((a.c_nationkey = b.c_nationkey
             AND a.c_mktsegment = b.c_mktsegment)
            OR a.name_sfx = b.name_sfx)
    ),
    bits AS (
      SELECT CAST(a.c_nationkey = b.c_nationkey AS INT) AS g_nation,
             CAST(a.c_mktsegment = b.c_mktsegment AS INT) AS g_seg,
             CAST(abs(a.c_acctbal - b.c_acctbal) < 100.0 AS INT) AS g_bal,
             CAST(levenshtein(a.c_name, b.c_name) <= 2 AS INT) AS g_name
      FROM pairs p
      JOIN c a ON a.c_custkey = p.id_a
      JOIN c b ON b.c_custkey = p.id_b
    )
    SELECT round({terms}, 3) AS score_band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM bits GROUP BY 1
    """


@register("linkage_scores_fixed_weights", None)
def linkage_scores_fixed_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Score-band census with FIXED literal Fellegi–Sunter weights —
    the oracle-exact twin of ``record_linkage_scores`` that isolates
    the SCORING machinery (blocking → agreement bits → literal-weight
    codegen map → band census) from the not-SQL-expressible EM
    estimation. Identical per-field log2 weights are embedded as
    repr()-round-tripped double literals in both engines."""
    from .operators.linkage import score_pairs

    ag = _linkage_agreements(spark, sf)
    return (
        score_pairs(ag, _LINKAGE_FIELDS, _LINKAGE_FIXED_M, _LINKAGE_FIXED_U)
        .groupBy(F.round(F.col("score"), 3).alias("score_band"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


REGISTRY["linkage_scores_fixed_weights"] = Query(
    REGISTRY["linkage_scores_fixed_weights"].build, _fixed_weight_sql()
)


# ---------------------------------------------------------------------------
# Time-series diagnostics: autocorrelation + EWMA control chart (round 5)
# ---------------------------------------------------------------------------


@register(
    "acf_daily_revenue",
    """
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '1990-01-01',
                      CAST(date_trunc('day', ts) AS DATE)) AS s,
             CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DECIMAL(14,2)) AS x
      FROM events GROUP BY 1, 2),
    moments AS (
      SELECT event_type, COUNT(*) AS _n, SUM(x) AS _sx, SUM(x*x) AS _sxx
      FROM daily GROUP BY 1),
    lags AS (SELECT UNNEST(range(1, 8)) AS lag),
    per_lag AS (
      SELECT a.event_type, l.lag,
             COUNT(*) AS n_pairs,
             SUM(a.x * b.x) AS _sab, SUM(a.x) AS _sa, SUM(b.x) AS _sb
      FROM daily a
      CROSS JOIN lags l
      JOIN daily b ON b.event_type = a.event_type AND b.s = a.s + l.lag
      GROUP BY 1, 2)
    SELECT p.event_type,
           CAST(p.lag AS BIGINT) AS lag,
           CAST(p.n_pairs AS BIGINT) AS n_pairs,
           (CAST(p._sab AS DOUBLE)
              - (CAST(f._sx AS DOUBLE) / f._n)
                * (CAST(p._sa AS DOUBLE) + CAST(p._sb AS DOUBLE))
              + p.n_pairs * (CAST(f._sx AS DOUBLE) / f._n)
                          * (CAST(f._sx AS DOUBLE) / f._n))
           / NULLIF(CAST(f._sxx AS DOUBLE)
              - 2.0 * (CAST(f._sx AS DOUBLE) / f._n) * CAST(f._sx AS DOUBLE)
              + f._n * (CAST(f._sx AS DOUBLE) / f._n)
                     * (CAST(f._sx AS DOUBLE) / f._n), 0) AS r
    FROM per_lag p JOIN moments f ON f.event_type = p.event_type
    """,
    bench=True,
)
def acf_daily_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Autocorrelation of daily event value per event type, lags 1–7
    (operators/timeseries.acf): seasonality diagnostic feeding forecast
    model choice. The lag alignment is an equi-join on the integer day
    number (NOT a rank window — gaps in the calendar shift pairs out,
    the pairwise-complete convention); every sum is exact DECIMAL so
    the mean-centred estimator combines in IEEE double identically in
    both engines → bit-exact with no rounding guard. Scale: the raw
    stream reduces to |event_type|×|days| rows inside acf()'s single
    aggregation; the ×7 lag fan-out is a map-side array fold."""
    from .operators.timeseries import acf

    ev = load(spark, sf, "events")
    # acf() is a single-pass fold (one groupBy carries spine
    # + moments), so the day spine has exactly ONE consumer — no
    # persist; the corpus is scanned once by construction.
    daily = ev.groupBy(
        "event_type",
        F.datediff(
            F.to_date(F.date_trunc("day", F.col("ts"))),
            F.lit("1990-01-01").cast("date"),
        ).alias("s"),
    ).agg(
        F.sum(F.col("value").cast("decimal(14,2)"))
        .cast("decimal(14,2)")
        .alias("x")
    )
    return acf(daily, ["event_type"], "s", "x", max_lag=7)


@register(
    "ewma_daily_anomalies",
    """
    WITH RECURSIVE daily AS (
      SELECT event_type, date_trunc('day', ts) AS d,
             CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2),
    numbered AS (
      SELECT event_type, d, x,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn
      FROM daily),
    counts AS (SELECT event_type, COUNT(*) AS n FROM daily GROUP BY 1),
    ew AS (
      SELECT event_type, rn, x AS s, CAST(0.0 AS DOUBLE) AS dv,
             CAST(0 AS BIGINT) AS na
      FROM numbered WHERE rn = 1
      UNION ALL
      SELECT n.event_type, n.rn,
             CAST(0.5 AS DOUBLE) * n.x + CAST(0.5 AS DOUBLE) * ew.s,
             CAST(0.5 AS DOUBLE) * abs(n.x - ew.s)
               + CAST(0.5 AS DOUBLE) * ew.dv,
             ew.na + CASE WHEN ew.dv > CAST(0.0 AS DOUBLE)
                           AND abs(n.x - ew.s) > CAST(3.0 AS DOUBLE) * ew.dv
                          THEN 1 ELSE 0 END
      FROM ew JOIN numbered n
        ON n.event_type = ew.event_type AND n.rn = ew.rn + 1)
    SELECT ew.event_type, CAST(c.n AS BIGINT) AS n_steps, ew.s AS ewma,
           ew.dv AS ewdev, CAST(ew.na AS BIGINT) AS n_anomalies
    FROM ew JOIN counts c
      ON c.event_type = ew.event_type AND ew.rn = c.n
    """,
    bench=True,
)
def ewma_daily_anomalies(spark: SparkSession, sf: str) -> DataFrame:
    """EWMA control chart over daily value per event type
    (operators/timeseries.ewma_control): sequential EWMA + EWMAD band
    recurrence as ONE codegen array fold per key — the per-key state
    chain a window function cannot express — with anomaly steps
    counted where |x − pred| > 3·EWMAD. α=0.5 and k=3.0 are exactly
    representable, the DuckDB twin replays the identical IEEE order as
    a recursive CTE → bit-exact. Same scale shape as the Holt query:
    arrays bounded by the day horizon, parallel across keys."""
    from .operators.timeseries import ewma_control

    ev = load(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(
        F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias("x")
    )
    return ewma_control(
        daily, ["event_type"], "d", "x", alpha=0.5, k=3.0
    )


# ---------------------------------------------------------------------------
# Bounded-round graph primitives on the strong co-purchase graph (round 5)
# ---------------------------------------------------------------------------

_STRONG_EDGES_SQL = """
    e0 AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    edges AS (
      SELECT p1 AS src, p2 AS dst FROM e0
      UNION ALL
      SELECT p2 AS src, p1 AS dst FROM e0)"""


def _strong_copurchase_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric strong co-purchase edge list (parts sharing ≥2
    orders) — the same graph ``copurchase_kcore`` peels. Bounded by
    basket size before the pair aggregate; w≥2 prunes the long tail so
    the bounded-round walks below traverse the dense backbone."""
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    e0 = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("p1", "p2")
    )
    return e0.select(
        F.col("p1").alias("src"), F.col("p2").alias("dst")
    ).unionAll(e0.select(F.col("p2").alias("src"), F.col("p1").alias("dst")))


def _min_label_oracle(rounds: int = 4) -> str:
    body = [
        "WITH",
        _STRONG_EDGES_SQL,
        """,
    l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges)""",
    ]
    for i in range(1, rounds + 1):
        body.append(
            f""",
    l{i} AS (
      SELECT node, MIN(lbl) AS lbl FROM (
        SELECT node, lbl FROM l{i - 1}
        UNION ALL
        SELECT e.dst AS node, l.lbl
        FROM edges e JOIN l{i - 1} l ON e.src = l.node
      ) u GROUP BY node)"""
        )
    body.append(
        f"""
    SELECT lbl AS component, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM l{rounds} GROUP BY 1"""
    )
    return "".join(body)


@register("graph_components_census", _min_label_oracle(4))
def graph_components_census(spark: SparkSession, sf: str) -> DataFrame:
    """Component census of the strong co-purchase graph after FOUR
    synchronous min-label rounds (operators/graph.min_label_components):
    each surviving label is the smallest part key within 4 hops, the
    census counts nodes per label. Bounded-round twin of the exact
    large-star/small-star components in ``dedup_components`` — per
    round one node-sized join + one min aggregate against a persisted
    edge list, unrolled to stay oracle-expressible. Integer-only →
    bit-exact."""
    from .operators.graph import min_label_components

    lbl = min_label_components(_strong_copurchase_edges(spark, sf), rounds=4)
    return lbl.groupBy(F.col("lbl").alias("component")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )


def _bfs_oracle(hops: int = 3) -> str:
    body = [
        "WITH",
        _STRONG_EDGES_SQL,
        """,
    seed AS (SELECT MIN(src) AS s FROM edges),
    h0 AS (SELECT s AS node, 0 AS hops FROM seed)""",
    ]
    for i in range(1, hops + 1):
        body.append(
            f""",
    h{i} AS (
      SELECT node, MIN(hops) AS hops FROM (
        SELECT node, hops FROM h{i - 1}
        UNION ALL
        SELECT e.dst AS node, h.hops + 1 AS hops
        FROM edges e JOIN h{i - 1} h ON e.src = h.node
      ) u GROUP BY node)"""
        )
    body.append(
        f"""
    SELECT node, CAST(hops AS BIGINT) AS hops FROM h{hops}"""
    )
    return "".join(body)


@register("graph_bfs_hops", _bfs_oracle(3))
def graph_bfs_hops(spark: SparkSession, sf: str) -> DataFrame:
    """BFS hop distances (≤3) from the smallest part key in the strong
    co-purchase graph (operators/graph.bfs_hops): min-hop frontier
    expansion, one reached-set join + min aggregate per round over the
    persisted edge list. The deterministic seed (MIN node) makes the
    walk reproducible in any engine; integer output → bit-exact."""
    from .operators.graph import bfs_hops

    # Track here (not only inside bfs_hops): the seed aggregate below
    # is a second consumer of the edge list, and an untracked plan
    # would replay the lineitem self-join for it.
    e = cache.track(_strong_copurchase_edges(spark, sf))
    seeds = e.agg(F.min("src").alias("node"))
    return bfs_hops(e, seeds, max_hops=3).select(
        "node", F.col("hops").cast("bigint").alias("hops")
    )


# ---------------------------------------------------------------------------
# Functional-dependency discovery audit (round 5)
# ---------------------------------------------------------------------------

_FD_CANDIDATES: list[tuple[str, list[str], str]] = [
    ("orders", ["o_orderkey"], "o_custkey"),
    ("orders", ["o_custkey"], "o_orderpriority"),
    ("lineitem", ["l_orderkey", "l_linenumber"], "l_partkey"),
    ("lineitem", ["l_partkey"], "l_suppkey"),
    ("customer", ["c_custkey"], "c_mktsegment"),
    ("customer", ["c_nationkey"], "c_mktsegment"),
]


def _fd_oracle() -> str:
    parts = []
    for table, lhs, rhs in _FD_CANDIDATES:
        name = f"{','.join(lhs)} -> {rhs}"
        lhs_csv = ", ".join(lhs)
        parts.append(
            f"""
    SELECT '{name}' AS fd,
           CAST(COUNT(*) AS BIGINT) AS n_lhs,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_lhs,
           CAST(MAX(nd) AS BIGINT) AS max_rhs_per_lhs,
           MAX(nd) = 1 AS holds
    FROM (SELECT {lhs_csv}, COUNT(*) AS nd
          FROM (SELECT DISTINCT {lhs_csv}, {rhs} FROM {table}) p
          GROUP BY {lhs_csv}) g"""
        )
    return "\nUNION ALL\n".join(parts)


@register("fd_discovery_audit", _fd_oracle(), bench=True)
def fd_discovery_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Functional-dependency discovery over a fixed candidate lattice
    slice (operators/stats.fd_audit) — the schema-profiling primitive
    behind key detection and constraint suggestion (Deequ-style): for
    each LHS → RHS candidate, distinct-pair reduction → per-LHS RHS
    cardinality → 1-row violation summary, unioned across candidates.
    Mixed holding (PK-shaped) and violated candidates keep both code
    paths honest. Integer/boolean output → bit-exact. Scale: each
    candidate is two map-side-partialed hash aggregates over a
    column-pruned scan; nothing ever collects."""
    from .operators.stats import fd_audit

    outs = []
    for table, lhs, rhs in _FD_CANDIDATES:
        outs.append(fd_audit(load(spark, sf, table), [(lhs, rhs)]))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


# ---------------------------------------------------------------------------
# BPE tokenizer induction (round 5) — iterative, not SQL-expressible:
# rows-only driver check; exactness is pinned against a pure-Python
# reference implementation in tests/test_bpe.py.
# ---------------------------------------------------------------------------


def _bpe_merges(spark: SparkSession, sf: str, n_merges: int = 60):
    from .operators.bpe import bpe_train, word_frequencies

    freqs = word_frequencies(
        load(spark, sf, "documents"), "text", max_vocab=20000
    ).collect()
    return bpe_train([(r["word"], r["count"]) for r in freqs], n_merges)


@register("bpe_vocab_merges", None)  # iterative induction: rows-only
def bpe_vocab_merges(spark: SparkSession, sf: str) -> DataFrame:
    """BPE vocabulary induction over the documents corpus
    (operators/bpe.py): ONE distributed word-count pass reduces the
    corpus to a (word, count) table, capped at the deterministic
    top-20k vocabulary; 60 merges learn driver-side over that table
    (the production tokenizer-trainer decomposition — the corpus is
    never rescanned per merge). Output: the learned merge table
    (rank, left, right, freq). Tie-breaks are total orders, so the
    result is layout-independent; the merge loop is pinned bit-for-bit
    against a naive reference implementation in pytest."""
    rows = _bpe_merges(spark, sf)
    return spark.createDataFrame(
        [(int(k), l, r, int(f)) for k, l, r, f in rows],
        "rank bigint, left string, right string, freq bigint",
    )


@register("bpe_token_counts", None)  # segmentation is iterative: rows-only
def bpe_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus token census under the 60 learned merges
    (operators/bpe.bpe_token_counts): segmentation runs per DISTINCT
    word over the vocab-sized table (Arrow-batched pandas UDF, ranks
    broadcast), corpus counts re-key the word counts through an
    explode — no per-document Python, one corpus scan. Output: the
    deterministic top-100 tokens by (count desc, token asc)."""
    from .operators.bpe import bpe_token_counts as tok_counts

    merges = _bpe_merges(spark, sf)
    return (
        tok_counts(load(spark, sf, "documents"), merges)
        .orderBy(F.col("count").desc(), F.col("token"))
        .limit(100)
    )


@register(
    "ccf_view_purchase",
    """
    WITH va AS (
      SELECT datediff('day', DATE '1990-01-01',
                      CAST(date_trunc('day', ts) AS DATE)) AS s,
             CAST(COUNT(*) AS DECIMAL(14,2)) AS x
      FROM events WHERE event_type = 'view' GROUP BY 1),
    vb AS (
      SELECT datediff('day', DATE '1990-01-01',
                      CAST(date_trunc('day', ts) AS DATE)) AS s,
             CAST(COUNT(*) AS DECIMAL(14,2)) AS x
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    ma AS (SELECT COUNT(*) AS _na, SUM(x) AS _sa, SUM(x*x) AS _ssa FROM va),
    mb AS (SELECT COUNT(*) AS _nb, SUM(x) AS _sb, SUM(x*x) AS _ssb FROM vb),
    lags AS (SELECT UNNEST(range(-7, 8)) AS lag),
    per_lag AS (
      SELECT l.lag, COUNT(*) AS n_pairs,
             SUM(a.x * b.x) AS _sab, SUM(a.x) AS _sa, SUM(b.x) AS _sb
      FROM va a CROSS JOIN lags l
      JOIN vb b ON b.s = a.s + l.lag
      GROUP BY 1)
    SELECT CAST(p.lag AS BIGINT) AS lag,
           CAST(p.n_pairs AS BIGINT) AS n_pairs,
           (CAST(p._sab AS DOUBLE)
              - (CAST(mb._sb AS DOUBLE) / mb._nb) * CAST(p._sa AS DOUBLE)
              - (CAST(ma._sa AS DOUBLE) / ma._na) * CAST(p._sb AS DOUBLE)
              + p.n_pairs * (CAST(ma._sa AS DOUBLE) / ma._na)
                          * (CAST(mb._sb AS DOUBLE) / mb._nb))
           / NULLIF(sqrt((CAST(ma._ssa AS DOUBLE)
                     - 2.0 * (CAST(ma._sa AS DOUBLE) / ma._na)
                           * CAST(ma._sa AS DOUBLE)
                     + ma._na * (CAST(ma._sa AS DOUBLE) / ma._na)
                              * (CAST(ma._sa AS DOUBLE) / ma._na))
                  * (CAST(mb._ssb AS DOUBLE)
                     - 2.0 * (CAST(mb._sb AS DOUBLE) / mb._nb)
                           * CAST(mb._sb AS DOUBLE)
                     + mb._nb * (CAST(mb._sb AS DOUBLE) / mb._nb)
                              * (CAST(mb._sb AS DOUBLE) / mb._nb))), 0) AS r
    FROM per_lag p CROSS JOIN ma CROSS JOIN mb
    """,
)
def ccf_view_purchase(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-correlation of the daily view-count series against the
    daily purchase-count series at lags −7..+7
    (operators/timeseries.ccf): the lead–lag diagnostic behind
    attribution windows ("views today correlate with purchases in L
    days"). Exact DECIMAL sums → double combination → IEEE-correctly-
    rounded sqrt, identical to the oracle's tree → bit-exact. The
    1-row moment CTEs are literal cross joins of scalars in BOTH
    engines — the Spark side broadcasts them, nothing quadratic
    anywhere. One corpus scan per series arm (persisted day spines)."""
    from .operators.timeseries import ccf

    ev = load(spark, sf, "events")

    def daily(et: str) -> DataFrame:
        return cache.track(
            ev.filter(F.col("event_type") == et)
            .groupBy(
                F.datediff(
                    F.to_date(F.date_trunc("day", F.col("ts"))),
                    F.lit("1990-01-01").cast("date"),
                ).alias("s")
            )
            .agg(F.count(F.lit(1)).cast("decimal(14,2)").alias("x"))
            .withColumn("_k", F.lit(1))
        )

    return ccf(
        daily("view"), daily("purchase"), ["_k"], "s", "x", max_lag=7
    ).select("lag", "n_pairs", "r")


@register(
    "pmi_collocations",
    """
    WITH arrs AS (
      SELECT regexp_extract_all(lower(text), '[a-z]+') AS l FROM documents),
    uni AS (SELECT UNNEST(l) AS w FROM arrs),
    ucnt AS (SELECT w, COUNT(*) AS n FROM uni GROUP BY w),
    nw AS (SELECT COUNT(*) AS n FROM uni),
    big AS (
      SELECT UNNEST(l[1:len(l)-1]) AS w1, UNNEST(l[2:len(l)]) AS w2
      FROM arrs),
    bcnt AS (
      SELECT w1, w2, COUNT(*) AS n_ab FROM big
      GROUP BY 1, 2 HAVING COUNT(*) >= 5),
    nb AS (SELECT SUM(greatest(len(l) - 1, 0)) AS n FROM arrs)
    SELECT b.w1, b.w2, CAST(b.n_ab AS BIGINT) AS n_ab,
           ((CAST(b.n_ab AS DOUBLE) * CAST(nw.n AS DOUBLE))
              * CAST(nw.n AS DOUBLE))
           / ((CAST(nb.n AS DOUBLE) * CAST(u1.n AS DOUBLE))
              * CAST(u2.n AS DOUBLE)) AS lift
    FROM bcnt b
    JOIN ucnt u1 ON u1.w = b.w1
    JOIN ucnt u2 ON u2.w = b.w2
    CROSS JOIN nw CROSS JOIN nb
    ORDER BY lift DESC, w1, w2 LIMIT 50
    """,
)
def pmi_collocations(spark: SparkSession, sf: str) -> DataFrame:
    """Collocation mining over the documents corpus
    (operators/text.collocations): adjacent-bigram lift ranking, the
    phrase-induction primitive. Bigrams come from a map-side
    zip-with-next transform (never a positional self-join); lift stays
    a ratio of exact integer counts (log-PMI would hit non-correctly-
    rounded libm differences between engines) → bit-exact through the
    deterministic (lift, w1, w2) top-50."""
    from .operators.text import collocations

    return collocations(
        load(spark, sf, "documents"), "text", min_count=5, top_k=50
    )


@register(
    "quality_classifier_scores",
    """
    WITH arrs AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS l
      FROM documents),
    feats AS (
      SELECT doc_id, UNNEST(l) AS f FROM arrs
      UNION ALL
      SELECT doc_id, w1 || ' ' || w2 AS f FROM (
        SELECT doc_id, UNNEST(l[1:len(l)-1]) AS w1, UNNEST(l[2:len(l)]) AS w2
        FROM arrs)),
    wts AS (
      SELECT doc_id,
        (CAST(concat('0x', substr(md5(concat('wquality-v1:',
             CAST(CAST(concat('0x', substr(md5(f), 1, 15)) AS BIGINT) % 1024
                  AS VARCHAR))), 1, 15)) AS BIGINT)
         % 2001) - 1000 AS w
      FROM feats)
    SELECT doc_id, COUNT(*) AS n_features,
           CAST(SUM(w) AS BIGINT) AS logit_sum,
           CAST(SUM(w) AS DOUBLE) / COUNT(*) AS score,
           CAST(CAST(SUM(w) AS BIGINT) >= 0 * COUNT(*) AS INT) AS keep
    FROM wts GROUP BY doc_id
    """,
    bench=True,
)
def quality_classifier_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Model-based quality gate over the documents corpus
    (operators/classifier.score_documents): fastText-style hashed
    unigram+bigram linear scoring — the classifier-filter stage of LLM
    data pipelines. Weights are a deterministic pure function of the
    bucket id (stand-in for trained coefficients; a real model
    broadcasts a MAP literal of the same shape), so scoring is one map
    pass + one partial-aggregated groupBy(doc_id) and the logit stays
    an exact BIGINT sum — bit-exact through the single final division.
    The keep gate compares integers (logit_sum >= t·n), never floats."""
    from .operators.classifier import score_documents

    out = score_documents(load(spark, sf, "documents"))
    return out.withColumn("keep", F.col("keep").cast("int"))


_WINNOW_ORACLE = r"""
    WITH words AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      FROM documents),
    eligible AS (
      SELECT doc_id, ws, len(ws) AS nw FROM words WHERE len(ws) >= 5),
    grams AS (
      SELECT doc_id, CAST(i AS INT) AS i, nw,
             CAST(concat('0x', substr(md5(array_to_string(
                 ws[CAST(i AS INT):CAST(i + 4 AS INT)], ' ')), 1, 15))
               AS BIGINT) AS h
      FROM eligible, UNNEST(range(1, nw - 5 + 2)) AS t(i)),
    wmins AS (
      SELECT doc_id, i, nw,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
      FROM grams),
    fps AS (
      SELECT DISTINCT doc_id, nw, wmin
      FROM wmins WHERE i <= (nw - 5 + 1) - 3)
"""


@register(
    "winnowing_fingerprints",
    _WINNOW_ORACLE
    + """
    SELECT doc_id, COUNT(*) AS n_fingerprints,
           CAST(MAX(nw) - 7 AS BIGINT) AS n_windows,
           CAST(COUNT(*) AS DOUBLE) / (MAX(nw) - 7) AS density
    FROM fps GROUP BY doc_id
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing fingerprint profile per document (MOSS — Schleimer et
    al. SIGMOD'03; operators/dedup.winnow_fingerprints): k=5-word
    shingle hashes, window-of-4 minima, distinct selected values.
    density = |fingerprints| / |windows| shows the ~2/(w+1) storage
    compression the algorithm guarantees. Shingling is map-side; the
    only window is PARTITIONED BY DOCUMENT; one distinct shuffle —
    bit-exact (integer hash values, one final exact-int division)."""
    docs = load(spark, sf, "documents")
    fp = D.winnow_fingerprints(docs, "text", "doc_id", k=5, w=4)
    nw = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    widths = docs.select(
        "doc_id", (nw - F.lit(7)).cast("long").alias("n_windows")
    )
    return (
        fp.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_fingerprints"))
        .join(widths, "doc_id")
        .select(
            "doc_id",
            "n_fingerprints",
            "n_windows",
            (
                F.col("n_fingerprints").cast("double") / F.col("n_windows")
            ).alias("density"),
        )
    )


@register(
    "winnowing_dup_pairs",
    _WINNOW_ORACLE
    + """
    , cnt AS (SELECT wmin, COUNT(*) AS df FROM fps GROUP BY wmin),
    ok AS (
      SELECT f.doc_id, f.wmin FROM fps f
      JOIN cnt c ON f.wmin = c.wmin WHERE c.df BETWEEN 2 AND 20),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ok a JOIN ok b ON a.wmin = b.wmin AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, COUNT(*) AS n_shared
    FROM pairs GROUP BY id_a, id_b HAVING COUNT(*) >= 2
    """,
)
def winnowing_dup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """MOSS similarity candidates: document pairs sharing >= 2
    winnowing fingerprints (operators/dedup.winnow_dup_pairs). The
    pair stream comes from exploding fingerprint POSTING LISTS capped
    at max_df=20 docs (MOSS's too-common cutoff — the bound that keeps
    the explosion O(max_df^2) per fingerprint and drops boilerplate),
    never a corpus self-join. Bit-exact."""
    return D.winnow_dup_pairs(
        load(spark, sf, "documents"), "text", "doc_id",
        k=5, w=4, min_shared=2, max_df=20,
    )


_RP_PS = ",\n           ".join(
    f"CAST(SUM(CASE WHEN j = {j} THEN t END) AS DOUBLE) / 40000.0 AS p{j}"
    for j in range(16)
)

_RP_ORACLE = f"""
    WITH q AS (
      SELECT vec_id, CAST(i - 1 AS INT) AS i,
             CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                        * 10000.0 + 0.5) AS BIGINT) AS q
      FROM embeddings, UNNEST(range(1, 65)) t(i)),
    s AS (
      SELECT CAST(ti.i AS INT) AS i, CAST(tj.j AS INT) AS j,
             CASE WHEN CAST(concat('0x', substr(md5(concat('rp-v1:',
                      CAST(tj.j AS VARCHAR), ':', CAST(ti.i AS VARCHAR))),
                      1, 15)) AS BIGINT) % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM (SELECT UNNEST(range(0, 64)) AS i) ti,
           (SELECT UNNEST(range(0, 16)) AS j) tj),
    t AS (
      SELECT q.vec_id, s.j, SUM(s.sgn * q.q) AS t
      FROM q JOIN s ON q.i = s.i GROUP BY q.vec_id, s.j)
    SELECT vec_id,
           {_RP_PS}
    FROM t GROUP BY vec_id
"""


@register("embedding_random_projection", _RP_ORACLE, bench=True)
def embedding_random_projection(spark: SparkSession, sf: str) -> DataFrame:
    """Johnson–Lindenstrauss ±1 random projection R^64 -> R^16
    (operators/projection.random_project; Achlioptas PODS'01). The
    sign matrix is a pure md5 function of (out_dim, in_dim) — nothing
    to ship, reproducible in any engine. Components quantize to exact
    BIGINTs (floor(v·1e4 + 0.5), the float-origin-safe rounding), the
    projection is an integer sum with ONE final double division →
    bit-exact. Plan: posexplode → 1:1 broadcast join with the 64-row
    sign table → 16 partial-aggregated sums per vector; the exchange
    carries 16 longs per vector, nothing quadratic."""
    from .operators.projection import random_project

    return random_project(load(spark, sf, "embeddings"), k=16)


@register(
    "embedding_gram_matrix",
    """
    WITH cells AS (
      SELECT CAST(a.i - 1 AS INT) AS i, CAST(b.j - 1 AS INT) AS j,
             CAST(floor(CAST(embedding[CAST(a.i AS INT)] AS DOUBLE)
                        * 10000.0 + 0.5) AS BIGINT)
             * CAST(floor(CAST(embedding[CAST(b.j AS INT)] AS DOUBLE)
                          * 10000.0 + 0.5) AS BIGINT) AS p
      FROM embeddings, UNNEST(range(1, 65)) a(i), UNNEST(range(1, 65)) b(j)
      WHERE b.j >= a.i)
    SELECT i, j, CAST(SUM(p) AS BIGINT) AS gram
    FROM cells GROUP BY i, j
    """,
)
def embedding_gram_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Exact integer Gramian X'X of the quantized embedding corpus
    (operators/projection.gram_matrix) — the one-pass sufficient
    statistic behind distributed PCA/covariance/whitening. Partial
    d×d Gramians accumulate per partition in numpy int64 (Arrow
    batches), then ONE groupBy over the 2080 upper-triangle cells —
    the exchange is constant in corpus size; the driver never sees a
    row. Pure integer arithmetic end-to-end → bit-exact."""
    from .operators.projection import gram_matrix

    return gram_matrix(load(spark, sf, "embeddings"))


@register("embedding_pca_variance", None)  # driver-side eigh → rows-only
def embedding_pca_variance(spark: SparkSession, sf: str) -> DataFrame:
    """PCA spectrum of the embedding corpus
    (operators/projection.pca_loadings): top-8 explained variances
    from eigendecomposing the exact-integer-Gramian covariance on the
    driver (d² numbers collected, never rows). Deterministic given the
    bit-exact Gramian (same numpy eigh on the same matrix); the
    eigensolve itself is not SQL-expressible → rows-only check, with
    numerical invariants pinned in test_projection.py."""
    import numpy as np

    from .operators.projection import pca_loadings

    _, variances, n = pca_loadings(load(spark, sf, "embeddings"), 8)
    total = float(np.sum(variances)) if variances else 1.0
    rows = [
        (c, float(v), float(v) / total if total else 0.0)
        for c, v in enumerate(variances)
    ]
    return spark.createDataFrame(
        rows, "component int, variance double, top8_share double"
    )


@register("embedding_pca_project", None)  # float dot products → rows-only
def embedding_pca_project(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus projected onto its top-4 principal axes
    (operators/projection.pca_project): loadings learned from the
    exact Gramian re-enter the plan as broadcast LITERALS, so the
    projection is a pure codegen'd map — zero shuffles, the serving
    shape. Float dot products (loadings are eigh output) → rows-only;
    variance/orthogonality invariants live in test_projection.py."""
    from .operators.projection import pca_loadings, pca_project

    emb = load(spark, sf, "embeddings")
    loadings, _, _ = pca_loadings(emb, 4)
    return pca_project(emb, loadings)


@register("dsir_select_english_like", None)  # libm log → rows-only
def dsir_select_english_like(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR data selection (Xie et al. NeurIPS'23;
    operators/dsir.select_top_k): from the non-English pool, the 50
    documents whose unigram statistics best match the lang='en' target
    set — log importance ratio of add-1-smoothed unigram LMs, exact
    integer counts everywhere except the final libm logs (hence
    rows-only; the shift property is pinned in test_dsir.py). Two
    partial-aggregated count passes + one vocab-keyed join + one
    TakeOrdered — no driver loops, nothing quadratic."""
    from .operators.dsir import select_top_k

    return select_top_k(
        load(spark, sf, "documents"), F.col("lang") == "en", k=50
    )


@register(
    "hybrid_search_rrf",
    r"""
    WITH toks AS (
      SELECT doc_id, w
      FROM documents, UNNEST(regexp_split_to_array(lower(trim(text)), '\s+')) t(w)
      WHERE w <> ''),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl),
    tf AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks WHERE w IN ('vector', 'hash', 'stream')
      GROUP BY doc_id, w),
    df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
    contrib AS (
      SELECT tf.doc_id, tf.w,
             ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf * (CAST(1.2 AS DOUBLE) + 1.0))
               / (tf.tf + CAST(1.2 AS DOUBLE)
                  * (1.0 - CAST(0.75 AS DOUBLE)
                     + CAST(0.75 AS DOUBLE) * dl.dl / stats.avgdl)) AS c
      FROM tf JOIN df ON tf.w = df.w
              JOIN dl ON tf.doc_id = dl.doc_id
              CROSS JOIN stats),
    bm25s AS (
      SELECT doc_id,
             round(COALESCE(SUM(CASE WHEN w = 'vector' THEN c END), 0)
                   + COALESCE(SUM(CASE WHEN w = 'hash' THEN c END), 0)
                   + COALESCE(SUM(CASE WHEN w = 'stream' THEN c END), 0),
                   9) AS bm25
      FROM contrib GROUP BY doc_id),
    bm25_ranked AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
      FROM bm25s QUALIFY rank <= 20),
    norms AS (
      SELECT vec_id,
             SUM(CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000000.0 + 0.5) AS DECIMAL(19,0))
               * CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000000.0 + 0.5) AS DECIMAL(19,0))) AS n2
      FROM embeddings, UNNEST(range(1, 65)) t(i) GROUP BY vec_id),
    dots AS (
      SELECT c.vec_id AS cand_id,
             SUM(CAST(floor(CAST(q.embedding[CAST(i AS INT)] AS DOUBLE) * 1000000000.0 + 0.5) AS DECIMAL(19,0))
               * CAST(floor(CAST(c.embedding[CAST(i AS INT)] AS DOUBLE) * 1000000000.0 + 0.5) AS DECIMAL(19,0))) AS dot
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id,
           UNNEST(range(1, 65)) t(i)
      WHERE q.vec_id = 0 GROUP BY 1),
    ann_ranked AS (
      SELECT cand_id AS doc_id,
             row_number() OVER (
               ORDER BY round(CAST(d.dot AS DOUBLE)
                 / (sqrt(CAST((SELECT n2 FROM norms WHERE vec_id = 0) AS DOUBLE))
                    * sqrt(CAST(nc.n2 AS DOUBLE))), 9) DESC,
               cand_id) AS rank
      FROM dots d JOIN norms nc ON d.cand_id = nc.vec_id
      QUALIFY rank <= 20)
    SELECT COALESCE(b.doc_id, a.doc_id) AS doc_id,
           b.rank AS rank_bm25,
           a.rank AS rank_ann,
           COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + b.rank), 0)
             + COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + a.rank), 0)
             AS rrf
    FROM bm25_ranked b FULL OUTER JOIN ann_ranked a ON b.doc_id = a.doc_id
    """,
    bench=True,
)
def hybrid_search_rrf(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval (operators/hybrid.rrf_fuse; Cormack et al.
    SIGIR'09): BM25 top-20 for the query {vector, hash, stream} fused
    with cosine top-20 around query vector 0 via Reciprocal Rank
    Fusion, RRF = Σ 1/(60 + rank). Rank-based fusion sidesteps the
    arms' incomparable score scales AND stays bit-exact: integer
    ranks, one double division per term, fixed-order addition. Each
    arm is a bounded top-k, so the fusion join is broadcast-sized —
    constant in corpus size."""
    from .operators.hybrid import rrf_fuse
    from .operators import similarity as _sim

    docs_sf = sf  # both arms read the same scale dir
    b = bm25_topk(spark, docs_sf)
    # Rank the (already top-20, bounded) BM25 arm with the bounded-
    # frame rank — no unpartitioned window (plan-audit invariant), and
    # no range-sampling/persist/offsets machinery either: the arm is
    # O(k) rows by construction (SCALE.md rank-free audit).
    b_ranked = with_bounded_rank(
        # pin=False: single consumer (the fusion join) — no branch can
        # re-execute the upstream, so skip the materialization job.
        b, [F.desc("bm25"), F.asc("doc_id")], out="rank", pin=False
    ).select("doc_id", F.col("rank").cast("int").alias("rank")).filter(
        F.col("rank") <= 20
    )
    emb = load(spark, sf, "embeddings")
    a = _sim.brute_force_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=20
    ).select(F.col("cand_id").alias("doc_id"), "rank")
    return rrf_fuse([("bm25", b_ranked), ("ann", a)])


@register(
    "bottomk_uniform_sample",
    """
    SELECT event_type, event_id, prio FROM (
      SELECT event_type, event_id,
             CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS prio,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)),
                            1, 15)) AS BIGINT), event_id) AS rn
      FROM events) t
    WHERE rn <= 32
    """,
)
def bottomk_uniform_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type bottom-k-by-hash uniform sample
    (operators/sampling.bottomk_sample, k=32): the deterministic,
    MERGEABLE reservoir — bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ B).
    One group-partitioned window; md5 priorities are engine-portable
    → bit-exact."""
    from .operators.sampling import bottomk_sample

    return bottomk_sample(
        load(spark, sf, "events"), ["event_type"], "event_id", k=32
    ).select("event_type", "event_id", "prio")


@register(
    "boilerplate_coverage",
    r"""
    WITH words AS (
      SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS ws
      FROM documents),
    eligible AS (
      SELECT doc_id, source, ws, len(ws) AS nw
      FROM words WHERE len(ws) >= 10),
    spans AS (
      SELECT doc_id, source,
             md5(array_to_string(ws[CAST(i AS INT):CAST(i + 9 AS INT)], ' '))
               AS win_hash
      FROM eligible, UNNEST(range(1, nw - 10 + 2)) t(i)),
    hot AS (
      SELECT source, win_hash FROM spans
      GROUP BY source, win_hash HAVING COUNT(DISTINCT doc_id) >= 2)
    SELECT s.doc_id, s.source, COUNT(*) AS n_windows,
           CAST(SUM(CASE WHEN h.win_hash IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boiler,
           CAST(SUM(CASE WHEN h.win_hash IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS coverage
    FROM spans s
    LEFT JOIN hot h ON s.source = h.source AND s.win_hash = h.win_hash
    GROUP BY s.doc_id, s.source
    """,
    bench=True,
)
def boilerplate_coverage_q(spark: SparkSession, sf: str) -> DataFrame:
    """Template/boilerplate detection per document
    (operators/dedup.boilerplate_coverage): fraction of each doc's
    10-word windows that also appear in ANOTHER document of the same
    source — the RefinedWeb-style site-template signal (headers/nav
    repeat across a site's pages, prose doesn't). Map-side window
    hashing, one partial-aggregated (source, hash) pass, one join
    back, one per-doc aggregate; integer counts + one division →
    bit-exact."""
    return D.boilerplate_coverage(
        load(spark, sf, "documents"), "text", "doc_id", "source", w=10
    )


@register(
    "ab_test_welch_priority",
    """
    WITH m AS (
      SELECT CAST(year(o_orderdate) AS INT) AS order_year,
             CAST(COUNT(CASE WHEN o_orderpriority = '1-URGENT'
                             THEN o_totalprice END) AS BIGINT) AS n_a,
             CAST(COUNT(CASE WHEN o_orderpriority = '5-LOW'
                             THEN o_totalprice END) AS BIGINT) AS n_b,
             SUM(CASE WHEN o_orderpriority = '1-URGENT'
                      THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS s_a,
             SUM(CASE WHEN o_orderpriority = '5-LOW'
                      THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS s_b,
             SUM(CASE WHEN o_orderpriority = '1-URGENT'
                      THEN CAST(o_totalprice AS DECIMAL(18,2))
                           * CAST(o_totalprice AS DECIMAL(18,2)) END) AS ss_a,
             SUM(CASE WHEN o_orderpriority = '5-LOW'
                      THEN CAST(o_totalprice AS DECIMAL(18,2))
                           * CAST(o_totalprice AS DECIMAL(18,2)) END) AS ss_b
      FROM orders GROUP BY 1),
    se AS (
      SELECT order_year, n_a, n_b, s_a, s_b,
             ((CAST(ss_a AS DOUBLE)
               - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / n_a)
              / (n_a - 1)) / n_a AS se_a,
             ((CAST(ss_b AS DOUBLE)
               - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / n_b)
              / (n_b - 1)) / n_b AS se_b
      FROM m WHERE n_a >= 2 AND n_b >= 2)
    SELECT order_year, n_a, n_b,
           round(CAST(s_a AS DOUBLE) / n_a, 9) AS mean_a,
           round(CAST(s_b AS DOUBLE) / n_b, 9) AS mean_b,
           round((CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)
                 / NULLIF(sqrt(se_a + se_b), 0), 9) AS t_stat,
           round(CASE WHEN se_a + se_b = 0 THEN NULL
                 ELSE ((se_a + se_b) * (se_a + se_b))
                      / (se_a * se_a / (n_a - 1) + se_b * se_b / (n_b - 1))
                 END, 9) AS df_welch
    FROM se
    """,
)
def ab_test_welch_priority(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped A/B significance screen (operators/stats.welch_t): per
    order-year Welch two-sample t statistic (+ Welch–Satterthwaite df)
    comparing URGENT vs LOW order values. One hash aggregate folds
    both arms' exact DECIMAL moments; t/df derive in a fixed double-op
    order (sqrt is IEEE-correctly-rounded) → bit-exact under the
    round(9) guard. No p-value by design: erf/Student CDFs are
    non-correctly-rounded libm calls — consumers threshold on |t|."""
    from .operators.stats import welch_t

    orders = load(spark, sf, "orders")
    return welch_t(
        orders.withColumn(
            "order_year", F.year("o_orderdate").cast("int")
        ),
        ["order_year"],
        F.col("o_orderpriority") == "1-URGENT",
        F.col("o_orderpriority") == "5-LOW",
        "o_totalprice",
    )


@register(
    "cms_word_estimates",
    r"""
    WITH toks AS (
      SELECT w
      FROM documents, UNNEST(regexp_split_to_array(lower(trim(text)), '\s+')) t(w)
      WHERE w <> ''),
    tot AS (SELECT COUNT(*) AS n FROM toks),
    truec AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS true_cnt
              FROM toks GROUP BY w),
    probes AS (
      SELECT w, true_cnt FROM truec, tot WHERE true_cnt * 500 >= tot.n),
    cells AS (
      SELECT ds.d,
             CAST(CAST(concat('0x', substr(md5(concat('cms-v1:',
                    CAST(ds.d AS VARCHAR), ':', w)), 1, 15)) AS BIGINT)
                  % 256 AS INT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks, (SELECT UNNEST(range(0, 4)) AS d) ds
      GROUP BY 1, 2),
    pcells AS (
      SELECT p.w, p.true_cnt, ds.d,
             CAST(CAST(concat('0x', substr(md5(concat('cms-v1:',
                    CAST(ds.d AS VARCHAR), ':', p.w)), 1, 15)) AS BIGINT)
                  % 256 AS INT) AS bucket
      FROM probes p, (SELECT UNNEST(range(0, 4)) AS d) ds),
    est AS (
      SELECT pc.w, pc.true_cnt,
             MIN(COALESCE(c.cnt, 0)) AS est
      FROM pcells pc
      LEFT JOIN cells c ON c.d = pc.d AND c.bucket = pc.bucket
      GROUP BY 1, 2)
    SELECT w AS word, true_cnt, CAST(est AS BIGINT) AS cms_est,
           CAST(est - true_cnt AS BIGINT) AS overcount
    FROM est
    """,
    bench=True,
)
def cms_word_estimates(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min sketch round trip (Cormode & Muthukrishnan 2005;
    operators/sketches.cms_build/cms_estimate): sketch the corpus word
    stream into 4×256 exact-BIGINT cells (ONE partial-aggregated
    groupBy over a constant cell space — mergeable across
    days/shards), then point-estimate the exact heavy words (freq ≥
    N/500) against it. est ≥ true always; overcount ≤ εN with
    ε = e/width. md5 bucket hashing keeps every cell and estimate
    bit-identical in any engine."""
    from .operators.sketches import CMS_DEPTH, CMS_WIDTH, cms_build

    # Deliberately NOT spread_for_cpu_map (a spread here once cost
    # +23%): unlike the dedup family's ~1300-hash-per-doc
    # shingle maps, the per-row work here is ONE regex split — a cheap,
    # I/O-shaped map. A/B at sf0.1 warm best-of-3 (×2): spread 0.85 /
    # 0.98 s vs unspread 0.68 s — the repartition shuffles the raw text
    # for no CPU win and costs an extra AQE stage. The single-task
    # fusion a spread would target is cold-JIT, not steady state.
    # At 100 TB the corpus is many files → the scan is already wide.
    docs = load(spark, sf, "documents").select("text")
    toks = docs.select(
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("w")
    ).filter(F.col("w") != "")
    # ONE pass over the token stream: everything downstream (total,
    # probes, sketch) derives from the vocab-sized counts table, so
    # the persisted frame is |vocab| rows, not |tokens|, and the d×N
    # md5 hashing in cms_build runs per WORD (weight_col), not per
    # occurrence — bit-identical cells, ~stream/vocab fewer hashes.
    truec = cache.track(
        toks.groupBy("w").agg(F.count(F.lit(1)).alias("true_cnt"))
    )
    sketch = cms_build(truec, "w", weight_col="true_cnt")
    # The sketch already CONTAINS the stream
    # total — each depth row counts every occurrence exactly once, so
    # n = Σ cnt over the d=0 slice, an exact integer identity with
    # Σ true_cnt. Folding n into the same 1-row cell-map aggregate
    # that cms_estimate's lookup shape uses lets the heavy-hitter
    # filter AND the estimates run as pure expressions on ONE
    # broadcast row: no tot-aggregate (a second pass over the cached
    # vocab), no broadcast of it, no probes×sketch join and no
    # est-back-to-probes join — 5 jobs at sf0.1 instead of 12,
    # bit-identical output (same md5 buckets, same min-over-depth,
    # same integer threshold compare).
    smap = sketch.agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    (
                        F.col("d").cast("long") * F.lit(CMS_WIDTH)
                        + F.col("bucket")
                    ).alias("k"),
                    F.col("cnt").alias("v"),
                )
            )
        ).alias("_cells"),
        F.sum(F.when(F.col("d") == 0, F.col("cnt"))).alias("n"),
    )
    lookups = [
        F.coalesce(
            F.element_at(
                F.col("_cells"),
                F.lit(d * CMS_WIDTH)
                + (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    ":",
                                    F.lit("cms-v1"),
                                    F.lit(d),
                                    F.col("w").cast("string"),
                                )
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % F.lit(CMS_WIDTH)
                ),
            ),
            F.lit(0).cast("long"),
        )
        for d in range(CMS_DEPTH)
    ]
    return (
        truec.crossJoin(F.broadcast(smap))
        .filter(F.col("true_cnt") * 500 >= F.col("n"))
        .select(
            F.col("w").alias("word"),
            "true_cnt",
            F.least(*lookups).cast("bigint").alias("cms_est"),
            (F.least(*lookups) - F.col("true_cnt")).cast("bigint").alias(
                "overcount"
            ),
        )
    )


@register(
    "mutual_nn_pairs",
    """
    WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE label = 0),
    norms AS (
      SELECT vec_id,
             SUM(CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000000.0 + 0.5) AS DECIMAL(19,0))
               * CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000000.0 + 0.5) AS DECIMAL(19,0))) AS n2
      FROM sub, UNNEST(range(1, 65)) t(i) GROUP BY vec_id),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             SUM(CAST(floor(CAST(q.embedding[CAST(i AS INT)] AS DOUBLE) * 1000000000.0 + 0.5) AS DECIMAL(19,0))
               * CAST(floor(CAST(c.embedding[CAST(i AS INT)] AS DOUBLE) * 1000000000.0 + 0.5) AS DECIMAL(19,0))) AS dot
      FROM sub q JOIN sub c ON c.vec_id <> q.vec_id,
           UNNEST(range(1, 65)) t(i)
      GROUP BY 1, 2),
    nn AS (
      SELECT query_id, cand_id, cosine FROM (
        SELECT query_id, cand_id,
               round(CAST(d.dot AS DOUBLE)
                 / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))), 9) AS cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY round(CAST(d.dot AS DOUBLE)
                 / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))), 9) DESC,
                                  cand_id) AS rank
        FROM dots d JOIN norms nq ON d.query_id = nq.vec_id
                    JOIN norms nc ON d.cand_id = nc.vec_id) r
      WHERE rank = 1)
    SELECT a.query_id AS id_a, a.cand_id AS id_b, a.cosine
    FROM nn a JOIN nn b
      ON a.query_id = b.cand_id AND a.cand_id = b.query_id
    WHERE a.query_id < a.cand_id
    """,
)
def mutual_nn_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Mutual-nearest-neighbor pairs within label 0 — the reciprocal-
    top-1 criterion (each vector is the other's closest): the
    conservative merge rule of embedding-dedup / record-merge
    pipelines, far stricter than a cosine threshold. Reuses
    operators/similarity.brute_force_topk at k=1 (decimal-exact
    arithmetic, broadcast queries × partitioned corpus, per-query
    hash-partitioned window) and closes mutuality with a self-join of
    the |corpus|-row top-1 relation — never a second all-pairs pass.
    Bit-exact. At 100 TB the same composition runs on top of the IVF/
    LSH candidate paths instead of the brute-force arm."""
    emb = load(spark, sf, "embeddings").filter(F.col("label") == 0)
    nn = cache.track(
        SIM.brute_force_topk(emb, emb, k=1).select(
            "query_id", "cand_id", "cosine"
        )
    )
    other = nn.select(
        F.col("query_id").alias("_b_q"), F.col("cand_id").alias("_b_c")
    )
    return (
        nn.join(
            other,
            (F.col("query_id") == F.col("_b_c"))
            & (F.col("cand_id") == F.col("_b_q")),
        )
        .filter(F.col("query_id") < F.col("cand_id"))
        .select(
            F.col("query_id").alias("id_a"),
            F.col("cand_id").alias("id_b"),
            "cosine",
        )
    )


@register(
    "t_closeness_report",
    """
    WITH base AS (
      SELECT CAST(year(o_orderdate) AS INT) AS order_year,
             o_orderpriority AS pri
      FROM orders),
    g AS (SELECT order_year, pri, COUNT(*) AS cg FROM base GROUP BY 1, 2),
    dom AS (SELECT DISTINCT pri FROM base),
    gdist AS (SELECT pri, COUNT(*) AS ca FROM base GROUP BY 1),
    nall AS (SELECT COUNT(*) AS na FROM base),
    grps AS (SELECT order_year, COUNT(*) AS ng FROM base GROUP BY 1),
    grid AS (
      SELECT gr.order_year, d.pri, gr.ng, gl.ca, nall.na,
             COALESCE(g.cg, 0) AS cg
      FROM grps gr CROSS JOIN dom d
      LEFT JOIN g ON g.order_year = gr.order_year AND g.pri = d.pri
      JOIN gdist gl ON gl.pri = d.pri
      CROSS JOIN nall),
    pref AS (
      SELECT order_year, ng, na,
             abs(CAST(SUM(cg) OVER (PARTITION BY order_year ORDER BY pri)
                      AS BIGINT) * na
                 - CAST(SUM(ca) OVER (PARTITION BY order_year ORDER BY pri)
                        AS BIGINT) * ng) AS ar
      FROM grid)
    SELECT order_year, CAST(MAX(ng) AS BIGINT) AS n_rows,
           CAST(SUM(ar) AS DOUBLE)
             / (CAST(MAX(ng) AS DOUBLE) * MAX(na) * 4.0) AS emd
    FROM pref GROUP BY order_year
    """,
)
def t_closeness_report(spark: SparkSession, sf: str) -> DataFrame:
    """t-closeness privacy audit (Li et al. ICDE'07;
    operators/stats.t_closeness) — completes the k-anonymity /
    l-diversity / t-closeness trio: per order-year equivalence class,
    the ordered-domain EMD between the class's order-priority
    distribution and the global one. Prefix differences stay in the
    exact integer cross-product form (cum_g·N − cum_all·n_g); one
    final division → bit-exact. The only window partitions BY GROUP
    over the m=5 domain rows; the domain and global tables
    broadcast."""
    from .operators.stats import t_closeness

    orders = load(spark, sf, "orders").select(
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.col("o_orderpriority").alias("pri"),
    )
    return t_closeness(orders, ["order_year"], "pri")


@register(
    "events_sliding_rates",
    """
    WITH assigned AS (
      SELECT time_bucket(INTERVAL '15 minutes', ts)
               - to_minutes(CAST(15 * i AS BIGINT)) AS ws,
             event_type, user_id
      FROM events, UNNEST(range(0, 4)) t(i))
    SELECT ws AS window_start,
           ws + INTERVAL '1 hour' AS window_end,
           event_type,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM assigned GROUP BY 1, 2, 3
    """,
)
def events_sliding_rates(spark: SparkSession, sf: str) -> DataFrame:
    """Hopping-window event rates (1 h window, 15 min hop): Spark's
    native window() assignment puts each event in exactly window/slide
    = 4 windows map-side (an explode, never a range self-join), then one
    partial-aggregated groupBy(window, type). The oracle reproduces
    the epoch-aligned bucket arithmetic with time_bucket, proving the
    two engines agree on window identity — bit-exact."""
    ev = load(spark, sf, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "n_users",
        )
    )


@register("coreset_kcenter", None)  # k collect rounds → rows-only
def coreset_kcenter(spark: SparkSession, sf: str) -> DataFrame:
    """Diverse subset selection (operators/coreset.k_center_greedy;
    Gonzalez'85 / Sener & Savarese ICLR'18): farthest-point-first
    traversal picking 8 maximally-spread embedding vectors — the
    2-approximate k-center cover used for eval panels / annotation
    seeds. Exact-integer distances (quantized components) make the
    traversal deterministic; per round the corpus only MAPS (broadcast
    single-center distance update) and reduces to one argmax row.
    Iterative driver loop → rows-only; python-model parity and radius
    monotonicity pinned in test_coreset.py."""
    from .operators.coreset import k_center_greedy

    return k_center_greedy(load(spark, sf, "embeddings"), k=8)


@register(
    "differential_join_priority_revenue",
    """
    SELECT o.o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE)
             AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def differential_join_priority_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-adaptive differential join
    (operators/skew.differential_join): revenue per order priority
    through a join whose plan AUTO-SPLITS on sampled hot keys — hot
    rows take the salted path (small side replicated, key scattered
    across 8 salts), cold rows the plain join, unioned. The oracle is
    the PLAIN join: the exotic plan must be bit-identical (join
    distributes over the key-predicate partition of the big side),
    whatever keys the sample promotes — the logical-level twin of
    AQE's skew-join split for engines/paths AQE can't see."""
    from .operators.skew import differential_join

    li = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders")
    j = differential_join(
        li,
        orders.select(
            F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
        ),
        ["l_orderkey"],
        "l_linenumber",
        hot_share=0.001,
    )
    rev = F.sum(
        _m("l_extendedprice") * (F.lit(1) - _m("l_discount"))
    ).cast("double")
    return j.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        rev.alias("revenue"),
    )


@register(
    "classifier_threshold_sweep",
    """
    WITH arrs AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS l
      FROM documents),
    feats AS (
      SELECT doc_id, UNNEST(l) AS f FROM arrs
      UNION ALL
      SELECT doc_id, w1 || ' ' || w2 AS f FROM (
        SELECT doc_id, UNNEST(l[1:len(l)-1]) AS w1, UNNEST(l[2:len(l)]) AS w2
        FROM arrs)),
    wts AS (
      SELECT doc_id,
        (CAST(concat('0x', substr(md5(concat('wquality-v1:',
             CAST(CAST(concat('0x', substr(md5(f), 1, 15)) AS BIGINT) % 1024
                  AS VARCHAR))), 1, 15)) AS BIGINT)
         % 2001) - 1000 AS w
      FROM feats),
    scored AS (
      SELECT doc_id, COUNT(*) AS nf, CAST(SUM(w) AS BIGINT) AS ls
      FROM wts GROUP BY doc_id),
    tot AS (SELECT COUNT(*) AS n FROM scored),
    sweep AS (
      SELECT CAST(-200 + 50 * i AS INT) AS threshold_milli
      FROM UNNEST(range(0, 9)) t(i))
    SELECT s.threshold_milli,
           CAST(SUM(CASE WHEN sc.ls >= s.threshold_milli * sc.nf
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           CAST(SUM(CASE WHEN sc.ls >= s.threshold_milli * sc.nf
                         THEN 1 ELSE 0 END) AS DOUBLE) / MAX(tot.n) AS keep_share
    FROM sweep s CROSS JOIN scored sc CROSS JOIN tot
    GROUP BY s.threshold_milli
    """,
)
def classifier_threshold_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Operating curve for the hashed quality classifier: keep count /
    share at 9 milli-logit thresholds — the report a curation run uses
    to pick its cut. Scores once (integer milli-logits), explodes the
    9-row threshold spine map-side, decides each (doc, t) on the
    INTEGER form logit_sum >= t·n_features, aggregates — integer
    counts + one division → bit-exact. The doc×9 fan-out is map-side
    and collapses in the partial aggregate."""
    from .operators.classifier import score_documents

    scored = score_documents(load(spark, sf, "documents")).select(
        "doc_id", "n_features", "logit_sum"
    )
    thresholds = spark.range(0, 9).select(
        (F.lit(-200) + F.lit(50) * F.col("id")).cast("int").alias(
            "threshold_milli"
        )
    )
    tot = scored.agg(F.count(F.lit(1)).alias("n"))
    keep = F.when(
        F.col("logit_sum")
        >= F.col("threshold_milli").cast("bigint") * F.col("n_features"),
        1,
    ).otherwise(0)
    return (
        scored.crossJoin(F.broadcast(thresholds))
        .crossJoin(F.broadcast(tot))
        .groupBy("threshold_milli")
        .agg(
            F.sum(keep).cast("bigint").alias("n_keep"),
            (
                F.sum(keep).cast("double") / F.max("n")
            ).alias("keep_share"),
        )
    )


@register(
    "cusum_daily_drift",
    """
    WITH RECURSIVE daily AS (
      SELECT event_type, date_trunc('day', ts) AS d,
             CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) / COUNT(*) AS x
      FROM events GROUP BY 1, 2),
    numbered AS (
      SELECT event_type, d, x,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn
      FROM daily),
    counts AS (SELECT event_type, COUNT(*) AS n FROM daily GROUP BY 1),
    firsts AS (SELECT event_type, x AS mu FROM numbered WHERE rn = 1),
    cs AS (
      SELECT n.event_type, n.rn, f.mu,
             CAST(0.0 AS DOUBLE) AS sp, CAST(0.0 AS DOUBLE) AS sn,
             CAST(0 AS BIGINT) AS na
      FROM numbered n JOIN firsts f ON f.event_type = n.event_type
      WHERE n.rn = 1
      UNION ALL
      SELECT n.event_type, n.rn, cs.mu,
             greatest(CAST(0.0 AS DOUBLE),
                      cs.sp + (n.x - cs.mu - CAST(0.0625 AS DOUBLE))),
             greatest(CAST(0.0 AS DOUBLE),
                      cs.sn + (cs.mu - CAST(0.0625 AS DOUBLE) - n.x)),
             cs.na + CASE WHEN greatest(CAST(0.0 AS DOUBLE),
                            cs.sp + (n.x - cs.mu - CAST(0.0625 AS DOUBLE)))
                            > CAST(0.5 AS DOUBLE)
                        OR greatest(CAST(0.0 AS DOUBLE),
                            cs.sn + (cs.mu - CAST(0.0625 AS DOUBLE) - n.x))
                            > CAST(0.5 AS DOUBLE)
                       THEN 1 ELSE 0 END
      FROM cs JOIN numbered n
        ON n.event_type = cs.event_type AND n.rn = cs.rn + 1)
    SELECT cs.event_type, CAST(c.n AS BIGINT) AS n_steps,
           cs.sp AS cusum_pos, cs.sn AS cusum_neg,
           CAST(cs.na AS BIGINT) AS n_alarms
    FROM cs JOIN counts c
      ON c.event_type = cs.event_type AND cs.rn = c.n
    """,
)
def cusum_daily_drift(spark: SparkSession, sf: str) -> DataFrame:
    """CUSUM drift monitor over the daily MEAN event value per type
    (operators/timeseries.cusum_control; Page 1954): two-sided
    cumulative sums against the first day's reference with allowance
    2⁻⁴ and threshold 0.5 — the small-persistent-shift detector that
    complements the EWMA band. One codegen fold per key; only
    +/−/max double ops, replayed identically by the recursive-CTE
    oracle → bit-exact."""
    from .operators.timeseries import cusum_control

    ev = load(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(14,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("x")
    )
    return cusum_control(
        daily, ["event_type"], "d", "x", k=0.0625, h=0.5
    )


@register(
    "langid_confusion",
    r"""
    WITH scored AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b')) AS score_de,
             len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|it)\b')) AS score_en,
             len(regexp_extract_all(lower(text), '\b(el|la|los|de|que|y|en)\b')) AS score_es,
             len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|dans)\b')) AS score_fr
      FROM documents),
    pred AS (
      SELECT lang,
             CASE WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
                  WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
                  WHEN score_es >= score_fr THEN 'es'
                  ELSE 'fr' END AS predicted_lang
      FROM scored),
    tot AS (SELECT lang, COUNT(*) AS n_lang FROM pred GROUP BY 1)
    SELECT p.lang, p.predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) AS DOUBLE) / MAX(t.n_lang) AS share_of_label
    FROM pred p JOIN tot t ON t.lang = p.lang
    GROUP BY p.lang, p.predicted_lang
    """,
)
def langid_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID quality audit: confusion matrix of the corpus's
    labeled ``lang`` column vs the marker-word classifier's
    prediction, with per-label shares — the agreement report a
    curation run uses to decide whether heuristic lang-ID is safe for
    routing. Composition of operators/text.predict_language + two
    partial-aggregated counts; integer counts + one division →
    bit-exact."""
    from .operators.text import predict_language

    docs = load(spark, sf, "documents")
    pred = predict_language(docs, "text", "doc_id").select(
        "doc_id", "predicted_lang"
    )
    lab = docs.select("doc_id", "lang")
    joined = cache.track(lab.join(pred, "doc_id"))
    tot = joined.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    return (
        joined.groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(tot), "lang")
        .select(
            "lang",
            "predicted_lang",
            "n",
            (F.col("n").cast("double") / F.col("n_lang")).alias(
                "share_of_label"
            ),
        )
    )


@register(
    "gdpr_delete_audit",
    """
    WITH doomed AS (SELECT c_custkey FROM customer WHERE c_custkey % 100 = 0),
    o_doomed AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM doomed)),
    c AS (
      SELECT 'customer' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_before,
             CAST(SUM(CASE WHEN c_custkey % 100 = 0 THEN 0 ELSE 1 END)
                  AS BIGINT) AS n_after
      FROM customer),
    o AS (
      SELECT 'orders' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_before,
             CAST(SUM(CASE WHEN o_custkey IN (SELECT c_custkey FROM doomed)
                           THEN 0 ELSE 1 END) AS BIGINT) AS n_after
      FROM orders),
    l AS (
      SELECT 'lineitem' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_before,
             CAST(SUM(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM o_doomed)
                           THEN 0 ELSE 1 END) AS BIGINT) AS n_after
      FROM lineitem)
    SELECT tbl, n_before, n_after, n_before - n_after AS n_deleted
    FROM (SELECT * FROM c UNION ALL SELECT * FROM o UNION ALL SELECT * FROM l)
    """,
)
def gdpr_delete_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Right-to-erasure impact audit
    (operators/maintenance.cascade_delete): for a deletion request
    (every 100th customer), the per-table before/after/deleted counts
    after propagating the doomed key set DOWN the FK graph
    (customer → orders → lineitem) — children pruned in inverse
    writer-FK order via broadcast semi/anti equi-joins, the
    set-oriented twin of the reference writer's FK-ordered cascade.
    Integer counts → bit-exact."""
    from .operators.maintenance import cascade_delete

    frames = {
        "customer": load(spark, sf, "customer"),
        "orders": load(spark, sf, "orders"),
        "lineitem": load(spark, sf, "lineitem"),
    }
    edges = [
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ]
    doomed = frames["customer"].filter(
        F.col("c_custkey") % 100 == 0
    ).select("c_custkey")
    pruned = cascade_delete(frames, edges, "customer", doomed)
    parts = []
    for tbl in ("customer", "orders", "lineitem"):
        before = frames[tbl].agg(
            F.count(F.lit(1)).cast("bigint").alias("n_before")
        )
        after = pruned[tbl].agg(
            F.count(F.lit(1)).cast("bigint").alias("n_after")
        )
        parts.append(
            before.crossJoin(after).select(
                F.lit(tbl).alias("tbl"),
                "n_before",
                "n_after",
                (F.col("n_before") - F.col("n_after")).alias("n_deleted"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "nearest_centroid_confusion",
    """
    WITH comps AS (
      SELECT vec_id, label AS lt, CAST(i - 1 AS INT) AS i,
             CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                        * 10000.0 + 0.5) AS BIGINT) AS q
      FROM embeddings, UNNEST(range(1, 65)) t(i)),
    lsums AS (
      SELECT lt AS lc, i, CAST(SUM(q) AS BIGINT) AS s
      FROM comps GROUP BY 1, 2),
    cnt AS (
      SELECT lt AS lc, CAST(COUNT(*) / 64 AS BIGINT) AS n
      FROM comps GROUP BY 1),
    lmeta AS (
      SELECT ls.lc, CAST(SUM(ls.s * ls.s) AS BIGINT) AS ss, MAX(cnt.n) AS n
      FROM lsums ls JOIN cnt ON cnt.lc = ls.lc
      GROUP BY ls.lc),
    xx AS (
      SELECT vec_id, lt, CAST(SUM(q * q) AS BIGINT) AS xx
      FROM comps GROUP BY 1, 2),
    xs AS (
      SELECT c.vec_id, ls.lc, CAST(SUM(c.q * ls.s) AS BIGINT) AS xs
      FROM comps c JOIN lsums ls ON c.i = ls.i GROUP BY 1, 2),
    scored AS (
      SELECT xs.vec_id, xx.lt, xs.lc,
             CAST(m.n * m.n * xx.xx - 2 * m.n * xs.xs + m.ss AS DOUBLE)
               / CAST(m.n * m.n AS DOUBLE) AS d2
      FROM xs JOIN lmeta m ON m.lc = xs.lc
              JOIN xx ON xx.vec_id = xs.vec_id),
    assigned AS (
      SELECT vec_id, lt, lc,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, lc) AS rn
      FROM scored)
    SELECT lt AS label_true, lc AS label_pred,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM assigned WHERE rn = 1 GROUP BY 1, 2
    """,
)
def nearest_centroid_confusion_q(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-quality screen
    (operators/clustering.nearest_centroid_confusion): assign every
    vector to its nearest label centroid and count the (true,
    assigned) confusion cells. The argmin over FLOAT centroids stays
    engine-exact by clearing denominators: rank on
    (n²·‖x‖² − 2n·(x·s) + ‖s‖²)/n² — exact BIGINTs up to one
    correctly-rounded division. Label sums broadcast; the per-vector
    argmin is a |labels|-row partitioned window — nothing quadratic
    in the corpus. Bit-exact."""
    from .operators.clustering import nearest_centroid_confusion

    return nearest_centroid_confusion(load(spark, sf, "embeddings"))


@register(
    "pointintime_features",
    """
    WITH ev AS (
      SELECT user_id, event_type, ts, event_id,
             CAST(value AS DECIMAL(14,2)) AS v
      FROM events),
    feats AS (
      SELECT user_id, event_id, ts,
             COUNT(*) OVER w - 1 AS n_prior_events,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    OVER w
                  - CASE WHEN event_type = 'view' THEN 1 ELSE 0 END
                  AS BIGINT) AS n_prior_views,
             CAST(SUM(v) OVER w - v AS DOUBLE) AS prior_value_sum
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT f.user_id, f.event_id, f.n_prior_events, f.n_prior_views,
           f.prior_value_sum
    FROM feats f JOIN ev e ON e.event_id = f.event_id
    WHERE e.event_type = 'purchase'
    """,
)
def pointintime_features(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-free training-set assembly: for every purchase event,
    activity features computed ONLY from the user's STRICTLY EARLIER
    events (prior event count, prior view count, prior value sum) —
    the point-in-time-correct feature join that keeps offline training
    honest. One user-partitioned cumulative window with the current
    row subtracted out (an inclusive frame + self-exclusion is one
    window pass; an explicit 1-PRECEDING frame would be a second sort
    consumer); exact DECIMAL value sums → bit-exact. Total order
    inside a user is (ts, event_id) so replays rank identically."""
    ev = load(spark, sf, "events").select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.col("value").cast("decimal(14,2)").alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_view = F.when(F.col("event_type") == "view", 1).otherwise(0)
    feats = ev.select(
        "user_id",
        "event_id",
        "event_type",
        (F.count(F.lit(1)).over(w) - 1).alias("n_prior_events"),
        (F.sum(is_view).over(w) - is_view).cast("bigint").alias(
            "n_prior_views"
        ),
        (F.sum("v").over(w) - F.col("v")).cast("double").alias(
            "prior_value_sum"
        ),
    )
    return feats.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        "n_prior_events",
        "n_prior_views",
        "prior_value_sum",
    )


@register(
    "negative_sampling_weights",
    r"""
    WITH toks AS (
      SELECT w
      FROM documents, UNNEST(regexp_split_to_array(lower(trim(text)), '\s+')) t(w)
      WHERE w <> ''),
    cnts AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY w)
    SELECT w AS word, cnt,
           sqrt(CAST(cnt AS DOUBLE)) * sqrt(sqrt(CAST(cnt AS DOUBLE)))
             AS weight
    FROM cnts
    ORDER BY weight DESC, word
    LIMIT 50
    """,
)
def negative_sampling_weights(spark: SparkSession, sf: str) -> DataFrame:
    """word2vec-style negative-sampling table: unigram counts raised
    to the 3/4 power (Mikolov et al. 2013 — flattens the head so rare
    words get sampled). c^0.75 is computed as sqrt(c)·sqrt(sqrt(c)):
    pow() is NOT a correctly-rounded libm call and may differ across
    engines, but IEEE sqrt IS — the composed form is bit-identical
    everywhere. One partial-aggregated word count + TakeOrdered
    top-50; the normalizing constant is deliberately left to the
    consumer (a float SUM over an unordered vocab is not
    order-stable — rank and relative weight are)."""
    docs = load(spark, sf, "documents")
    cnts = (
        docs.select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    c = F.col("cnt").cast("double")
    weight = F.sqrt(c) * F.sqrt(F.sqrt(c))
    return (
        cnts.select("word", "cnt", weight.alias("weight"))
        .orderBy(F.desc("weight"), F.asc("word"))
        .limit(50)
    )


@register("kll_value_quantiles", None)  # sketch approximation → rows-only
def kll_value_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Store-and-merge quantiles (operators/sketches.quantile_rollup):
    daily KLL sketches of event value per type, merged up to the type
    level and read at permille labels q_500/q_950/q_990 — the mergeable twin of
    percentile_approx that lets 100 TB answer any later quantile
    question from stored 4-KB summaries. Sketch estimates → rows-only;
    the error bound vs exact percentiles and the merge law are pinned
    in test_sketches.py."""
    from .operators.sketches import merge_quantile_rollup, quantile_rollup

    ev = load(spark, sf, "events")
    daily = quantile_rollup(
        ev.withColumn("d", F.date_trunc("day", F.col("ts"))),
        ["event_type", "d"],
        "value",
    )
    return merge_quantile_rollup(daily, ["event_type"])


@register("audience_overlap_theta", None)  # sketch estimate → rows-only
def audience_overlap_theta(spark: SparkSession, sf: str) -> DataFrame:
    """Theta-sketch set algebra (operators/sketches.audience_overlap):
    estimated distinct users who view, who purchase, who do BOTH, and
    view-only — the intersection/difference questions HLL cannot
    answer from its union-only sketches. One conditional-aggregation
    pass builds both 4-KB summaries. Estimates → rows-only; accuracy
    vs exact distinct counts pinned in test_sketches.py."""
    from .operators.sketches import audience_overlap

    ev = load(spark, sf, "events")
    return audience_overlap(ev, "event_type", "user_id", ("view", "purchase"))


@register(
    "pseudonymized_top_customers",
    """
    WITH p AS (
      SELECT md5(concat('pii-v1:', CAST(o_custkey AS VARCHAR))) AS cust_token,
             o_orderkey
      FROM orders)
    SELECT cust_token, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM p GROUP BY cust_token
    ORDER BY n_orders DESC, cust_token
    LIMIT 10
    """,
)
def pseudonymized_top_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Pseudonymized analytics (operators/maintenance.pseudonymize):
    top customers by order count with the customer key replaced by a
    salted md5 token — the GDPR-grade export that keeps joins and
    aggregations intact without exposing identifiers. Tokenization is
    a pure map (no mapping table to leak); md5 is engine-portable →
    bit-exact. FK consistency (same token across tables) is pinned in
    test_incremental.py."""
    from .operators.maintenance import pseudonymize

    frames = pseudonymize(
        {"orders": load(spark, sf, "orders")},
        {"orders": ["o_custkey"]},
        salt="pii-v1",
    )
    return (
        frames["orders"]
        .groupBy(F.col("o_custkey").alias("cust_token"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("cust_token"))
        .limit(10)
    )


@register(
    "basket_part_triples",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    freq_pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 3),
    cands AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             c.l_partkey AS part_c
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey
                  AND a.l_partkey < b.l_partkey
      JOIN freq_pairs fp ON fp.part_a = a.l_partkey
                        AND fp.part_b = b.l_partkey
      JOIN items c ON a.l_orderkey = c.l_orderkey
                  AND b.l_partkey < c.l_partkey)
    SELECT part_a, part_b, part_c, CAST(COUNT(*) AS BIGINT) AS support
    FROM cands GROUP BY 1, 2, 3
    """,
)
def basket_part_triples(spark: SparkSession, sf: str) -> DataFrame:
    """Frequent itemset mining, Apriori candidate generation at
    level 3: every part triple whose PREFIX PAIR is frequent
    (support >= 3), with its exact support — the C3 table whose
    HAVING-s cut yields L3. The monotonicity prune (a triple's
    sub-pair support bounds its own) keeps the in-basket fan-out at
    |frequent pairs|·basket instead of basket³. All joins are
    basket-keyed equi-joins; counts exact integers → bit-exact."""
    items = cache.track(
        load(spark, sf, "lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    a = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b"))
    c = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_c"))
    freq_pairs = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 3)
        .drop("_n")
    )
    cands = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .join(freq_pairs, ["part_a", "part_b"], "left_semi")
        .join(c, "ok")
        .filter(F.col("part_b") < F.col("part_c"))
    )
    return (
        cands.groupBy("part_a", "part_b", "part_c")
        .agg(F.count(F.lit(1)).alias("support"))
    )


@register(
    "cascaded_time_rollup",
    """
    SELECT event_type, date_trunc('day', ts) AS d,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def cascaded_time_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-resolution rollup reuse: the daily aggregate computed
    FROM THE HOURLY ROLLUP (sum of hourly decimal partials), not from
    raw events — the materialized-rollup cascade that lets a 100 TB
    store answer month/day questions from hour tables at 1/3600 of
    the scan. The oracle aggregates raw events directly: exact
    DECIMAL sums are associative, so the cascade must match
    bit-for-bit — which is precisely the property that makes stored
    partials trustworthy."""
    ev = load(spark, sf, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(14,2)")).alias("tv"),
    )
    return hourly.groupBy(
        "event_type", F.date_trunc("day", F.col("h")).alias("d")
    ).agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.sum("tv").cast("double").alias("total_value"),
    )


@register(
    "data_contract_orders",
    """
    WITH agg AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
             CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS v1,
             CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
                            AND (o_totalprice < 0 OR o_totalprice > 1000000)
                           THEN 1 ELSE 0 END) AS BIGINT) AS v2,
             CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
                            AND o_orderpriority NOT IN
                                ('1-URGENT','2-HIGH','3-MEDIUM',
                                 '4-NOT SPECIFIED','5-LOW')
                           THEN 1 ELSE 0 END) AS BIGINT) AS v3,
             CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                            AND NOT regexp_matches(o_orderstatus, '^[FOP]$')
                           THEN 1 ELSE 0 END) AS BIGINT) AS v4,
             CAST(SUM(CASE WHEN NOT COALESCE(
                             o_orderdate >= TIMESTAMP '1992-01-01 00:00:00',
                             FALSE)
                           THEN 1 ELSE 0 END) AS BIGINT) AS v5
      FROM orders)
    SELECT r.rule_id, r.col AS "column", r.chk AS "check",
           CASE r.rule_id WHEN 0 THEN v0 WHEN 1 THEN v1 WHEN 2 THEN v2
                          WHEN 3 THEN v3 WHEN 4 THEN v4 ELSE v5 END
             AS n_violations,
           CAST(n AS BIGINT) AS n_rows,
           CAST(CASE r.rule_id WHEN 0 THEN v0 WHEN 1 THEN v1 WHEN 2 THEN v2
                               WHEN 3 THEN v3 WHEN 4 THEN v4 ELSE v5 END = 0
                AS INT) AS passed
    FROM agg, (VALUES (0, 'o_orderkey', 'not_null'),
                      (1, 'o_orderkey', 'unique'),
                      (2, 'o_totalprice', 'range'),
                      (3, 'o_orderpriority', 'in_set'),
                      (4, 'o_orderstatus', 'regex'),
                      (5, '', 'expression')) AS r(rule_id, col, chk)
    """,
)
def data_contract_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Declarative data contract over orders
    (operators/expectations.check_contract): six rules — key
    nullability + uniqueness, price range, priority reference set,
    status format regex, and an arbitrary SQL predicate — compiled to
    ONE aggregate scan (conditional sums + a distinct count on the
    same pass). Exact integer violation counts → bit-exact. The
    publish gate an ingestion run checks before a snapshot goes
    live."""
    from .operators.expectations import check_contract

    rules = [
        {"column": "o_orderkey", "check": "not_null"},
        {"column": "o_orderkey", "check": "unique"},
        {"column": "o_totalprice", "check": "range", "min": 0, "max": 1_000_000},
        {
            "column": "o_orderpriority",
            "check": "in_set",
            "values": [
                "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
            ],
        },
        {"column": "o_orderstatus", "check": "regex", "pattern": "^[FOP]$"},
        {"check": "expression", "sql": "o_orderdate >= timestamp'1992-01-01'"},
    ]
    return check_contract(load(spark, sf, "orders"), rules)


@register(
    "recency_weighted_ltv",
    """
    WITH base AS (
      SELECT o_custkey,
             CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)
               AS cents,
             LEAST(CAST(floor(date_diff('day', o_orderdate,
                                        TIMESTAMP '2001-08-01 00:00:00')
                              / 64.0) AS BIGINT), 20) AS b
      FROM orders),
    w AS (
      SELECT o_custkey,
             SUM(cents * (CAST(1 AS BIGINT) << CAST(20 - b AS INT)))
               AS scaled,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM base GROUP BY o_custkey)
    SELECT o_custkey AS custkey, n_orders,
           CAST(CAST(scaled AS BIGINT) AS DOUBLE)
             / (CAST(100.0 AS DOUBLE) * 1048576.0) AS decayed_ltv
    FROM w
    ORDER BY decayed_ltv DESC, custkey
    LIMIT 20
    """,
)
def recency_weighted_ltv(spark: SparkSession, sf: str) -> DataFrame:
    """Recency-weighted customer lifetime value: order totals decayed
    by 2^-(age/64 days), top-20 customers. Exponential decay with a
    POWER-OF-TWO base stays bit-exact where e^-λt cannot: the decayed
    sum is computed as Σ cents·2^(20−bucket) in BIGINT (scaling by a
    power of two is exact; the bucket caps at 20, below which the
    weight is economically zero) with ONE final double division. One
    partial-aggregated groupBy(custkey) + TakeOrdered — the decayed
    aggregate the retention/valuation pipelines run at any scale."""
    orders = load(spark, sf, "orders")
    ref = F.lit("2001-08-01 00:00:00").cast("timestamp")
    cents = F.round(F.col("o_totalprice").cast("double") * 100).cast(
        "bigint"
    )
    b = F.least(
        F.floor(
            F.datediff(F.to_date(ref), F.to_date("o_orderdate")) / 64.0
        ).cast("bigint"),
        F.lit(20).cast("bigint"),
    )
    base = orders.select(
        "o_custkey",
        cents.alias("cents"),
        b.alias("b"),
    )
    w = base.groupBy("o_custkey").agg(
        F.sum(
            F.col("cents")
            * F.expr("shiftleft(CAST(1 AS BIGINT), CAST(20 - b AS INT))")
        ).alias("scaled"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        w.select(
            F.col("o_custkey").alias("custkey"),
            "n_orders",
            (
                F.col("scaled").cast("double")
                / (F.lit(100.0) * F.lit(1048576.0))
            ).alias("decayed_ltv"),
        )
        .orderBy(F.desc("decayed_ltv"), F.asc("custkey"))
        .limit(20)
    )


@register(
    "user_event_diversity",
    """
    WITH c AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    u AS (
      SELECT user_id,
             CAST(SUM(n) AS BIGINT) AS n_events,
             CAST(SUM(n * n) AS BIGINT) AS ss,
             CAST(COUNT(*) AS BIGINT) AS n_types
      FROM c GROUP BY user_id)
    SELECT user_id, n_events, n_types,
           1 - CAST(ss AS DOUBLE) / (CAST(n_events AS DOUBLE) * n_events)
             AS simpson_diversity
    FROM u
    """,
)
def user_event_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Behavioral diversity per user via the Gini–Simpson index
    1 − Σp²: the diversity metric that, unlike Shannon entropy, needs
    NO logarithm — every input is an exact integer count, so the
    single division is bit-reproducible (log-based entropy hits
    non-correctly-rounded libm differences between engines). Two
    partial-aggregated passes (type counts → user moments); flags
    single-behavior accounts (diversity 0) for bot/quality screens."""
    ev = load(spark, sf, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    u = c.groupBy("user_id").agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("ss"),
        F.count(F.lit(1)).alias("n_types"),
    )
    return u.select(
        "user_id",
        "n_events",
        "n_types",
        (
            F.lit(1)
            - F.col("ss").cast("double")
            / (F.col("n_events").cast("double") * F.col("n_events"))
        ).alias("simpson_diversity"),
    )


@register(
    "crosslingual_dup_groups",
    r"""
    WITH w AS (
      SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS ws
      FROM documents),
    fp AS (
      SELECT doc_id, lang,
             md5(array_to_string(ws[1:10], ' ')) AS content_key
      FROM w WHERE len(ws) >= 10)
    SELECT content_key,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           MIN(doc_id) AS canonical_id
    FROM fp
    GROUP BY content_key
    HAVING COUNT(*) > 1
    """,
)
def crosslingual_dup_groups(spark: SparkSession, sf: str) -> DataFrame:
    """Label-consistency screen: NEAR-dup groups (shared 10-word
    prefix — the cheap content key; swap in minhash bands for fuzzier
    matching) with member counts and how many DISTINCT language
    labels each carries — n_langs > 1 flags mislabeled metadata or
    untranslated boilerplate, which poison per-language curation
    stats. One map-side key pass + one hash aggregate; integer counts
    → bit-exact."""
    docs = load(spark, sf, "documents")
    ws = F.split(F.trim(F.col("text")), r"\s+")
    fp = (
        docs.select("doc_id", "lang", ws.alias("_ws"))
        .filter(F.size("_ws") >= 10)
        .select(
            "doc_id",
            "lang",
            F.md5(F.concat_ws(" ", F.slice("_ws", 1, 10))).alias(
                "content_key"
            ),
        )
    )
    return (
        fp.groupBy("content_key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("doc_id").alias("canonical_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


@register(
    "naive_split_leakage",
    r"""
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      FROM documents),
    fp AS (
      SELECT doc_id,
             md5(array_to_string(ws[1:10], ' ')) AS content_key,
             CASE WHEN CAST(concat('0x', substr(md5(concat('naive:',
                      CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
                       % 10 < 8
                  THEN 'train' ELSE 'eval' END AS naive_split,
             CASE WHEN CAST(concat('0x', substr(md5(concat('safe:',
                      md5(array_to_string(ws[1:10], ' ')))), 1, 15))
                       AS BIGINT) % 10 < 8
                  THEN 'train' ELSE 'eval' END AS safe_split
      FROM w WHERE len(ws) >= 10),
    groups AS (
      SELECT content_key,
             COUNT(DISTINCT naive_split) AS n_naive,
             COUNT(DISTINCT safe_split) AS n_safe,
             COUNT(*) AS n
      FROM fp GROUP BY content_key
      HAVING COUNT(*) > 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_groups,
           CAST(COALESCE(SUM(CASE WHEN n_naive > 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS naive_leaked_groups,
           CAST(COALESCE(SUM(CASE WHEN n_safe > 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS safe_leaked_groups
    FROM groups
    """,
)
def naive_split_leakage(spark: SparkSession, sf: str) -> DataFrame:
    """Split-leakage audit — the measurement that justifies
    content-keyed splits: near-dup groups (shared 10-word prefix)
    crossing a naive BY-ID train/eval split vs a leakage-safe
    BY-CONTENT-KEY split (hash the content key, so near-identical
    docs land on the same side — the operators/sampling leakage-safe
    rule). safe_leaked_groups is 0 by construction;
    naive_leaked_groups counts the eval contamination a raw random
    split would ship. Integer counts → bit-exact."""
    docs = load(spark, sf, "documents")
    from .operators.lits import md5_60bit as h60

    ws = F.split(F.trim(F.col("text")), r"\s+")
    key = F.md5(F.concat_ws(" ", F.slice("_ws", 1, 10)))
    fp = (
        docs.select("doc_id", ws.alias("_ws"))
        .filter(F.size("_ws") >= 10)
        .select(
            key.alias("content_key"),
            F.when(
                h60(
                    F.concat(F.lit("naive:"), F.col("doc_id").cast("string"))
                )
                % 10
                < 8,
                "train",
            )
            .otherwise("eval")
            .alias("naive_split"),
            F.when(h60(F.concat(F.lit("safe:"), key)) % 10 < 8, "train")
            .otherwise("eval")
            .alias("safe_split"),
        )
    )
    groups = (
        fp.groupBy("content_key")
        .agg(
            F.countDistinct("naive_split").alias("n_naive"),
            F.countDistinct("safe_split").alias("n_safe"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n") > 1)
    )
    return groups.agg(
        F.count(F.lit(1)).alias("n_dup_groups"),
        F.coalesce(
            F.sum(F.when(F.col("n_naive") > 1, 1).otherwise(0)), F.lit(0)
        )
        .cast("bigint")
        .alias("naive_leaked_groups"),
        F.coalesce(
            F.sum(F.when(F.col("n_safe") > 1, 1).otherwise(0)), F.lit(0)
        )
        .cast("bigint")
        .alias("safe_leaked_groups"),
    )


@register("doc_compression_ratio", None)  # DEFLATE not SQL-replayable
def doc_compression_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """Compression-ratio quality signal per document
    (operators/text.compression_ratio): zlib-deflated size over raw
    size — repetitive/templated text compresses hard, high-entropy
    noise doesn't; both tails get flagged by curation. Arrow-batched
    mapInPandas (the justified Python-kernel case — DEFLATE has no
    JVM expression), pure map, no shuffle. Rows-only; the
    discrimination property is pinned in pytest."""
    from .operators.text import compression_ratio

    return compression_ratio(load(spark, sf, "documents"))


@register(
    "dow_seasonal_residuals",
    """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d,
             CAST(dayofweek(date_trunc('day', ts)) + 1 AS INT) AS dow,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    med AS (
      SELECT dow, CAST(median(n) AS DOUBLE) AS dow_median
      FROM daily GROUP BY dow)
    SELECT daily.d, daily.dow, daily.n, med.dow_median,
           CAST(daily.n AS DOUBLE) - med.dow_median AS residual,
           CAST(abs(CAST(daily.n AS DOUBLE) - med.dow_median)
                > CAST(0.5 AS DOUBLE) * med.dow_median AS INT) AS flagged
    FROM daily JOIN med ON med.dow = daily.dow
    """,
)
def dow_seasonal_residuals(spark: SparkSession, sf: str) -> DataFrame:
    """Robust weekly-seasonality decomposition: daily event counts
    minus their DAY-OF-WEEK MEDIAN — the median (an exact order
    statistic; for even counts the midpoint of two integers, exactly
    representable) deseasonalizes without fitting anything, and
    residuals beyond 50% of the dow median get flagged. This is the
    robust twin of the z-score detector (daily_event_anomaly): a
    single outlier Monday cannot drag its own baseline. Two partial-
    aggregated passes + a 7-row broadcast join → bit-exact."""
    ev = load(spark, sf, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("d"),
    ).agg(F.count(F.lit(1)).alias("n")).select(
        "d", F.dayofweek(F.col("d")).cast("int").alias("dow"), "n"
    )
    med = daily.groupBy("dow").agg(
        F.median("n").cast("double").alias("dow_median")
    )
    resid = F.col("n").cast("double") - F.col("dow_median")
    return daily.join(F.broadcast(med), "dow").select(
        "d",
        "dow",
        "n",
        "dow_median",
        resid.alias("residual"),
        (
            F.abs(resid) > F.lit(0.5) * F.col("dow_median")
        ).cast("int").alias("flagged"),
    )


@register(
    "association_rules",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    freq AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS f
             FROM items GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS ant, b.l_partkey AS cons,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 3)
    SELECT p.ant, p.cons, p.n_both, fa.f AS n_ant,
           CAST(p.n_both AS DOUBLE) / fa.f AS confidence
    FROM pairs p JOIN freq fa ON fa.l_partkey = p.ant
    """,
)
def association_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Directed association rules (Agrawal et al. 1993): for every
    ordered part pair bought together in >= 3 orders, the confidence
    P(cons | ant) = support(both)/support(ant) — the directional
    complement of basket_part_pairs' symmetric lift (confidence is
    what a recommender thresholds; lift corrects for popularity).
    Basket-keyed self-join bounded by basket size, broadcast
    frequency join, one exact division → bit-exact."""
    items = cache.track(
        load(spark, sf, "lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    freq = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("f"))
    a = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("ant"))
    b = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("cons"))
    # Aggregate each unordered pair ONCE (ant < cons) and mirror the
    # symmetric count into both rule directions afterward — halves the
    # pair shuffle vs running (x,y) and (y,x) through the aggregate
    # (the basket_part_pairs / strong-edge convention).
    half = (
        a.join(b, "ok")
        .filter(F.col("ant") < F.col("cons"))
        .groupBy("ant", "cons")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 3)
    )
    pairs = half.unionByName(
        half.select(
            F.col("cons").alias("ant"),
            F.col("ant").alias("cons"),
            "n_both",
        )
    )
    # No broadcast hint: freq is |distinct parts|-sized and scales
    # with the catalog — let the planner decide (it auto-broadcasts
    # when genuinely small).
    return (
        pairs.join(
            freq.select(F.col("l_partkey").alias("ant"), F.col("f").alias("n_ant")),
            "ant",
        )
        .select(
            "ant",
            "cons",
            "n_both",
            "n_ant",
            (F.col("n_both").cast("double") / F.col("n_ant")).alias(
                "confidence"
            ),
        )
    )


@register(
    "time_to_convert_profile",
    """
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END)
               AS first_purchase
      FROM events GROUP BY user_id),
    deltas AS (
      SELECT CAST(date_diff('second', first_view, first_purchase)
                  AS BIGINT) AS secs
      FROM firsts
      WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
        AND first_purchase >= first_view)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converters,
           CAST(MIN(secs) AS BIGINT) AS min_s,
           CAST(median(secs) AS DOUBLE) AS median_s,
           CAST(quantile_cont(secs, 0.9) AS DOUBLE) AS p90_s,
           CAST(MAX(secs) AS BIGINT) AS max_s
    FROM deltas
    """,
)
def time_to_convert_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Conversion-latency profile: seconds from a user's FIRST view to
    their FIRST purchase (converters only), summarized by exact order
    statistics — min/median/p90/max over integer second deltas (the
    interpolated quantiles are midpoint/linear combinations of two
    BIGINTs, exactly representable → bit-exact, the same exact-
    percentile discipline as stats_quantiles). One conditional-min
    aggregate per user + one global profile row; the funnel metric
    product teams watch weekly."""
    ev = load(spark, sf, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
    )
    deltas = firsts.filter(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    ).select(
        (
            F.unix_timestamp("first_purchase")
            - F.unix_timestamp("first_view")
        ).alias("secs")
    )
    return deltas.agg(
        F.count(F.lit(1)).alias("n_converters"),
        F.min("secs").alias("min_s"),
        F.median("secs").cast("double").alias("median_s"),
        F.percentile(F.col("secs"), F.lit(0.9)).cast("double").alias("p90_s"),
        F.max("secs").alias("max_s"),
    )


@register(
    "haar_event_volume",
    """
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS d,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    anchor AS (SELECT MIN(d) AS d0 FROM daily),
    spine AS (
      SELECT t.event_type, CAST(i AS BIGINT) AS idx
      FROM (SELECT DISTINCT event_type FROM daily) t,
           UNNEST(range(0, 32)) s(i)),
    padded AS (
      SELECT s.event_type, s.idx,
             COALESCE(dd.n, 0) AS v
      FROM spine s
      LEFT JOIN (
        SELECT event_type,
               CAST(date_diff('day', anchor.d0, d) AS BIGINT) AS idx, n
        FROM daily CROSS JOIN anchor
        WHERE date_diff('day', anchor.d0, d) < 32) dd
      ON dd.event_type = s.event_type AND dd.idx = s.idx),
    l1 AS (
      SELECT event_type, idx // 2 AS idx,
             SUM(CASE WHEN idx % 2 = 0 THEN v ELSE 0 END) AS l,
             SUM(CASE WHEN idx % 2 = 1 THEN v ELSE 0 END) AS r
      FROM padded GROUP BY 1, 2),
    l2 AS (
      SELECT event_type, idx // 2 AS idx,
             SUM(CASE WHEN idx % 2 = 0 THEN l + r ELSE 0 END) AS l,
             SUM(CASE WHEN idx % 2 = 1 THEN l + r ELSE 0 END) AS r
      FROM l1 GROUP BY 1, 2),
    l3 AS (
      SELECT event_type, idx // 2 AS idx,
             SUM(CASE WHEN idx % 2 = 0 THEN l + r ELSE 0 END) AS l,
             SUM(CASE WHEN idx % 2 = 1 THEN l + r ELSE 0 END) AS r
      FROM l2 GROUP BY 1, 2),
    l4 AS (
      SELECT event_type, idx // 2 AS idx,
             SUM(CASE WHEN idx % 2 = 0 THEN l + r ELSE 0 END) AS l,
             SUM(CASE WHEN idx % 2 = 1 THEN l + r ELSE 0 END) AS r
      FROM l3 GROUP BY 1, 2),
    l5 AS (
      SELECT event_type, idx // 2 AS idx,
             SUM(CASE WHEN idx % 2 = 0 THEN l + r ELSE 0 END) AS l,
             SUM(CASE WHEN idx % 2 = 1 THEN l + r ELSE 0 END) AS r
      FROM l4 GROUP BY 1, 2)
    SELECT event_type, 1 AS level, idx,
           CAST(l + r AS BIGINT) AS approx, CAST(l - r AS BIGINT) AS detail
    FROM l1
    UNION ALL SELECT event_type, 2, idx, CAST(l + r AS BIGINT),
                     CAST(l - r AS BIGINT) FROM l2
    UNION ALL SELECT event_type, 3, idx, CAST(l + r AS BIGINT),
                     CAST(l - r AS BIGINT) FROM l3
    UNION ALL SELECT event_type, 4, idx, CAST(l + r AS BIGINT),
                     CAST(l - r AS BIGINT) FROM l4
    UNION ALL SELECT event_type, 5, idx, CAST(l + r AS BIGINT),
                     CAST(l - r AS BIGINT) FROM l5
    """,
)
def haar_event_volume(spark: SparkSession, sf: str) -> DataFrame:
    """Haar wavelet pyramid of the daily event volume per type
    (operators/timeseries.haar_decompose; Chan & Fu ICDE'99): 30 days
    zero-padded to a 32-slot dyadic spine, five levels of pairwise
    sums/differences — level-ℓ details localize volume CHANGES at the
    2^ℓ-day scale (the multi-resolution feature behind wavelet
    compression and similarity search). Unnormalized coefficients stay
    pure BIGINT → bit-exact; per level one partial-agg groupBy over a
    halving series."""
    from .operators.timeseries import haar_decompose

    ev = load(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    anchor = daily.agg(F.min("d").alias("d0"))
    indexed = (
        daily.crossJoin(F.broadcast(anchor))
        .select(
            "event_type",
            F.datediff(F.to_date("d"), F.to_date("d0"))
            .cast("long")
            .alias("idx"),
            "n",
        )
        .filter(F.col("idx") < 32)
    )
    spine = (
        daily.select("event_type")
        .distinct()
        .crossJoin(
            F.broadcast(
                spark.range(0, 32).select(F.col("id").alias("idx"))
            )
        )
    )
    padded = spine.join(indexed, ["event_type", "idx"], "left").select(
        "event_type", "idx", F.coalesce(F.col("n"), F.lit(0)).alias("v")
    )
    return haar_decompose(padded, ["event_type"], "idx", "v", levels=5)


@register(
    "forecast_backtest_mase",
    """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d,
             SUM(CAST(value AS DECIMAL(14,2))) AS v
      FROM events GROUP BY 1),
    idx AS (
      SELECT d, v,
             CAST(date_diff('day', (SELECT MIN(d) FROM daily), d)
                  AS BIGINT) AS i
      FROM daily),
    joined AS (
      SELECT t.i, t.v AS actual, s.v AS snaive, n.v AS naive
      FROM idx t
      JOIN idx s ON s.i = t.i - 7
      JOIN idx n ON n.i = t.i - 1
      WHERE t.i >= (SELECT MAX(i) FROM idx) - 4)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(abs(actual - snaive)) AS DOUBLE) AS mae_seasonal,
           CAST(SUM(abs(actual - naive)) AS DOUBLE) AS mae_naive,
           CAST(SUM(abs(actual - snaive)) AS DOUBLE)
             / CAST(SUM(abs(actual - naive)) AS DOUBLE) AS mase
    FROM joined
    """,
)
def forecast_backtest_mase(spark: SparkSession, sf: str) -> DataFrame:
    """Forecast backtest with MASE (Hyndman & Koehler 2006): over the
    last 5 days of daily revenue, the seasonal-naive forecast (value 7
    days earlier) scored against the one-step naive (yesterday) —
    MASE < 1 means weekly seasonality carries real signal. Absolute
    errors accumulate as exact DECIMALs (order-insensitive), ONE
    final division → bit-exact. Lag features come from integer-step
    self-joins on the persisted day spine, never a global window —
    the evaluation harness any forecasting pipeline needs before
    trusting a model."""
    ev = load(spark, sf, "events")
    daily = cache.track(
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
            F.sum(F.col("value").cast("decimal(14,2)")).alias("v")
        )
    )
    anchor = daily.agg(
        F.min("d").alias("d0"), F.max("d").alias("dmax")
    )
    idx = cache.track(
        daily.crossJoin(F.broadcast(anchor)).select(
            F.datediff(F.to_date("d"), F.to_date("d0"))
            .cast("long")
            .alias("i"),
            "v",
            F.datediff(F.to_date("dmax"), F.to_date("d0"))
            .cast("long")
            .alias("imax"),
        )
    )
    t = idx.select("i", F.col("v").alias("actual"), "imax").filter(
        F.col("i") >= F.col("imax") - 4
    )
    s = idx.select((F.col("i") + 7).alias("i"), F.col("v").alias("snaive"))
    n = idx.select((F.col("i") + 1).alias("i"), F.col("v").alias("naive"))
    joined = t.join(s, "i").join(n, "i")
    mae_s = F.sum(F.abs(F.col("actual") - F.col("snaive")))
    mae_n = F.sum(F.abs(F.col("actual") - F.col("naive")))
    return joined.agg(
        F.count(F.lit(1)).alias("n_days"),
        mae_s.cast("double").alias("mae_seasonal"),
        mae_n.cast("double").alias("mae_naive"),
        (mae_s.cast("double") / mae_n.cast("double")).alias("mase"),
    )


@register(
    "trimmed_mean_order_value",
    """
    WITH ranked AS (
      SELECT o_orderpriority AS priority,
             CAST(o_totalprice AS DECIMAL(14,2)) AS v,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders),
    kept AS (
      SELECT priority, v, n FROM ranked
      WHERE rn > CAST(floor(n * 0.05) AS BIGINT)
        AND rn <= n - CAST(floor(n * 0.05) AS BIGINT))
    SELECT priority,
           CAST(MAX(n) AS BIGINT) AS n_total,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(v) AS DOUBLE) / COUNT(*) AS trimmed_mean
    FROM kept GROUP BY priority
    """,
)
def trimmed_mean_order_value(spark: SparkSession, sf: str) -> DataFrame:
    """Robust grouped mean: per order priority, the 5%-trimmed mean of
    order values — each tail's floor(0.05·n) EXACT order statistics
    dropped via a group-partitioned rank (total order (value, key), so
    ties cut identically in any engine), then one exact DECIMAL mean.
    The outlier-resistant aggregate that reports central tendency a
    single whale order can't drag. Group-partitioned windows only;
    integer trim boundaries → bit-exact."""
    orders = load(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    cnt = Window.partitionBy("o_orderpriority")
    ranked = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("decimal(14,2)").alias("v"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(cnt).alias("n"),
    )
    lo = F.floor(F.col("n") * 0.05).cast("bigint")
    kept = ranked.filter(
        (F.col("rn") > lo) & (F.col("rn") <= F.col("n") - lo)
    )
    return kept.groupBy("priority").agg(
        F.max("n").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).alias("n_kept"),
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias(
            "trimmed_mean"
        ),
    )


@register(
    "customer_survival_km",
    """
    WITH RECURSIVE span AS (
      SELECT o_custkey,
             CAST(date_diff('day', MIN(o_orderdate), MAX(o_orderdate))
                  AS BIGINT) AS t,
             MAX(o_orderdate) AS last_o
      FROM orders GROUP BY o_custkey),
    hz AS (SELECT MAX(last_o) AS h FROM span),
    subj AS (
      SELECT t,
             CASE WHEN date_diff('day', last_o, hz.h) > 90
                  THEN 1 ELSE 0 END AS ev
      FROM span CROSS JOIN hz),
    per_t AS (
      SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
             CAST(SUM(1 - ev) AS BIGINT) AS c
      FROM subj GROUP BY t),
    ordered AS (
      SELECT t, d, c, row_number() OVER (ORDER BY t) AS rn FROM per_t),
    n0 AS (SELECT SUM(d + c) AS n FROM per_t),
    maxrn AS (SELECT MAX(rn) AS m FROM ordered),
    km AS (
      SELECT o.rn, o.t, CAST(n0.n AS BIGINT) AS n_risk, o.d, o.c,
             CAST(1.0 AS DOUBLE)
               * (CAST(1.0 AS DOUBLE) - CAST(o.d AS DOUBLE) / n0.n)
               AS s
      FROM ordered o CROSS JOIN n0 WHERE o.rn = 1
      UNION ALL
      SELECT o.rn, o.t, km.n_risk - km.d - km.c, o.d, o.c,
             km.s * (CAST(1.0 AS DOUBLE)
                     - CAST(o.d AS DOUBLE)
                       / (km.n_risk - km.d - km.c))
      FROM km JOIN ordered o ON o.rn = km.rn + 1)
    SELECT t, n_risk, d AS d_events, c AS n_censored, s AS survival
    FROM km
    """,
)
def customer_survival_km(spark: SparkSession, sf: str) -> DataFrame:
    """Customer churn survival curve (Kaplan–Meier;
    operators/stats.kaplan_meier): subject = customer, duration =
    days between first and last order, right-censored when the last
    order falls within 90 days of the dataset horizon (still active —
    leaves the risk set without a churn event). The sequential
    survival product runs as ONE codegen array fold over the bounded
    duration domain; the recursive-CTE oracle replays the identical
    IEEE multiplication order → bit-exact. The retention curve
    product analytics reads tenure risk off."""
    from .operators.stats import kaplan_meier

    orders = load(spark, sf, "orders")
    span = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.to_date(F.max("o_orderdate")),
            F.to_date(F.min("o_orderdate")),
        )
        .cast("long")
        .alias("t"),
        F.max("o_orderdate").alias("last_o"),
    )
    hz = span.agg(F.max("last_o").alias("h"))
    subj = span.crossJoin(F.broadcast(hz)).select(
        "t",
        F.when(
            F.datediff(F.to_date("h"), F.to_date("last_o")) > 90, 1
        )
        .otherwise(0)
        .alias("ev"),
    )
    return kaplan_meier(subj, "t", "ev")
