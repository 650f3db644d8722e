"""The query-registry pass of a traced run.

Every traced run ends with passes over a few registry queries, each
built through ``REGISTRY[name].build`` and executed with ``collect``,
on small TPC-H-shaped tables generated from the run's seed. The
queries are a light scan-and-aggregate control, a six-way join and the
iterative graph operator (four min-label rounds over a persisted edge
list). Each result is compared, outside the timed region, with the
query's own DuckDB oracle over the same tables.
"""

from __future__ import annotations

import os
import time
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

QUERIES = ("q1_pricing_summary", "q5_region_revenue", "graph_components_census")
WARM_PASSES = 1
TIMED_PASSES = 2

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
# The 25 TPC-H nations and their region keys.
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _money(rng, lo: int, hi: int, n: int) -> np.ndarray:
    """Doubles with exactly two decimals (cents / 100)."""
    return rng.integers(lo, hi, n) / 100.0


def _days(base: str, offsets: np.ndarray) -> pa.Array:
    ts = np.datetime64(base, "us") + offsets.astype("timedelta64[D]")
    return pa.array(ts.astype("datetime64[us]"), pa.timestamp("us"))


def tables(rng, out_dir: str, n_orders: int = 5_000, n_parts: int = 1_000) -> str:
    """Write the six tables the queries read, as parquet, with the
    column types of the repository's test tables (``catalog.TABLES``).
    With a thousand parts about as many part pairs share two orders, so
    the co-purchase graph splits into components of many sizes and all
    four label rounds do work."""
    os.makedirs(out_dir)
    n_cust, n_supp = n_orders // 10, max(25, n_orders // 50)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    order_keys = np.sort(rng.choice(np.arange(1, 4 * n_orders + 1), n_orders, replace=False))
    order_days = rng.integers(0, 2400, n_orders)
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    li_order = np.repeat(np.arange(n_orders), lines)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    out = {
        "region": {"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)},
        "nation": {
            "n_nationkey": i32(range(25)),
            "n_name": pa.array([n for n, _ in NATIONS]),
            "n_regionkey": i32([r for _, r in NATIONS]),
        },
        "customer": {
            "c_custkey": i64(np.arange(1, n_cust + 1)),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(1, n_cust + 1)]),
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": pa.array(_money(rng, -99_999, 999_999, n_cust)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
        },
        "supplier": {
            "s_suppkey": i64(np.arange(1, n_supp + 1)),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(1, n_supp + 1)]),
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": pa.array(_money(rng, -99_999, 999_999, n_supp)),
        },
        "orders": {
            "o_orderkey": i64(order_keys),
            "o_custkey": i64(rng.integers(1, n_cust + 1, n_orders)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
            "o_totalprice": pa.array(_money(rng, 100_000, 50_000_000, n_orders)),
            "o_orderdate": _days("1992-01-01", order_days),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders)),
        },
        "lineitem": {
            "l_orderkey": i64(order_keys[li_order]),
            "l_partkey": i64(rng.integers(1, n_parts + 1, n_li)),
            "l_suppkey": i64(rng.integers(1, n_supp + 1, n_li)),
            "l_linenumber": i32(linenumber),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 90_000, 10_000_000, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
            "l_shipdate": _days("1992-01-01",
                                order_days[li_order] + rng.integers(1, 122, n_li)),
        },
    }
    for name, cols in out.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def _canonical(columns: list[str], rows) -> Counter:
    """Rows as a multiset of tuples, columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return Counter(tuple(r[i] for i in order) for r in rows)


class QueryOracle:
    """Each query's expected rows, from its registered DuckDB SQL."""

    def __init__(self, sf_dir: str):
        import duckdb

        from tensei_agent_spark.queries import REGISTRY

        con = duckdb.connect()
        for name in ("region", "nation", "customer", "supplier", "orders", "lineitem"):
            path = os.path.join(sf_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        self.expected = {}
        for q in QUERIES:
            cur = con.execute(REGISTRY[q].oracle)
            self.expected[q] = _canonical([d[0] for d in cur.description], cur.fetchall())
        con.close()

    def mismatches(self, results: dict[str, tuple[list[str], list]]) -> dict[str, int]:
        bad = {}
        for q, (columns, rows) in results.items():
            diff = self.expected[q] - _canonical(columns, rows)
            extra = _canonical(columns, rows) - self.expected[q]
            n = sum(diff.values()) + sum(extra.values())
            if n:
                bad[q] = n
        return bad


def query_pass(spark, rec, sf_dir: str, pass_id: str) -> tuple[dict, dict]:
    """Build and execute every query once: ({query: (columns, rows)},
    {query: (build s, exec s)})."""
    from tensei_agent_spark.queries import REGISTRY

    rec.pass_id = pass_id
    results, times = {}, {}
    for q in QUERIES:
        rec.describe(f"query:{q}")
        t0 = time.perf_counter()
        with rec.span("queries.build", q):
            df = REGISTRY[q].build(spark, sf_dir)
        t1 = time.perf_counter()
        with rec.span("queries.exec", q):
            rows = df.collect()
        times[q] = (t1 - t0, time.perf_counter() - t1)
        results[q] = (df.columns, [tuple(r) for r in rows])
    return results, times


def measure(spark, rec, run, rng, work: str) -> dict[str, dict[str, tuple[float, float]]]:
    """Warm-up and timed query passes, each checked against the oracle;
    {pass id: {query: (build s, exec s)}} of the timed passes that
    completed and were correct."""
    from tensei_agent_spark.cache import release_all

    sf_dir = tables(rng, os.path.join(work, "tpch"))
    oracle = QueryOracle(sf_dir)
    was_enabled, timed = rec.enabled, {}
    for i in range(WARM_PASSES + TIMED_PASSES):
        pass_id = f"q{i}"
        rec.enabled = i >= WARM_PASSES
        r = run.capped(spark, f"query pass {i}",
                       lambda: query_pass(spark, rec, sf_dir, pass_id))
        if run.wedged:
            break
        release_all()
        spark.catalog.clearCache()
        if r is None:
            continue
        bad = oracle.mismatches(r[0])
        if bad:
            run.fail(f"query pass {i} returned wrong rows: {bad}")
        elif rec.enabled:
            timed[pass_id] = r[1]
    rec.enabled = was_enabled
    return timed
