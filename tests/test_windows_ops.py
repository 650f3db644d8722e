"""operators/windows.py: the distributed global-order primitives must
be BIT-EQUAL to their single-partition Window counterparts — they are
substituted into oracle-checked queries, so any divergence is a
correctness bug, not a tolerance."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tensei_agent_spark.operators.windows import (
    ntile_from_rank,
    row_index,
    with_global_prefix_sum,
)


@pytest.fixture(scope="module")
def skewed(spark):
    # 997 rows, duplicate values (ties broken by id), several partitions.
    return (
        spark.range(997)
        .select(
            F.col("id"),
            (F.col("id") % 13).alias("v"),
            (F.col("id") % 7).cast("decimal(10,2)").alias("d"),
        )
        .repartition(9)
    )


def test_global_rank_equals_row_number(skewed):
    got = row_index(skewed, ["v", "id"], "i", start=1)
    want = skewed.select(
        "id", F.row_number().over(Window.orderBy("v", "id")).alias("i")
    )
    assert (
        got.select("id", "i").exceptAll(want).count() == 0
        and want.exceptAll(got.select("id", "i")).count() == 0
    )


def test_bounded_rank_equals_global_rank(skewed):
    """with_bounded_rank must be bit-equal to row_index (and so to
    row_number) on the same total order — it substitutes for it in
    oracle-checked queries whose ranked frame is bounded."""
    from tensei_agent_spark.operators.windows import with_bounded_rank

    got = with_bounded_rank(skewed, [F.desc("v"), F.col("id")], out="i")
    want = row_index(skewed, [F.desc("v"), F.col("id")], "i", start=1)
    assert (
        got.select("id", "i").exceptAll(want.select("id", "i")).count() == 0
        and want.select("id", "i").exceptAll(got.select("id", "i")).count() == 0
    )


def test_bounded_rank_multibranch_consumption_consistent(skewed):
    """With pin=False the bounded rank has NO persist — determinism
    across independent re-executions must be structural (total order
    into one partition), not pinned. Exercise the r9 corruption shape:
    two branches of one plan read the ranked frame and equi-join on
    the rank (lag pattern); a desynchronized rank would duplicate/drop
    rows."""
    from tensei_agent_spark.operators.windows import with_bounded_rank

    r = with_bounded_rank(skewed, ["v", "id"], out="i", pin=False)
    prev = r.select((F.col("i") + 1).alias("i"), F.col("id").alias("prev_id"))
    joined = r.join(prev, "i", "left")
    assert joined.count() == 997  # no duplicated/dropped ranks
    # the lag really is the previous row in (v, id) order
    row = joined.filter(F.col("i") == 2).select("prev_id").collect()[0]
    first = skewed.orderBy("v", "id").limit(1).collect()[0]["id"]
    assert row["prev_id"] == first


def test_global_rank_desc_order(skewed):
    got = row_index(skewed, [F.desc("v"), F.col("id")], "i", start=1)
    want = skewed.select(
        "id", F.row_number().over(Window.orderBy(F.desc("v"), "id")).alias("i")
    )
    assert got.select("id", "i").exceptAll(want).count() == 0


def test_global_prefix_sum_equals_running_window(skewed):
    got = with_global_prefix_sum(skewed, ["v", "id"], "d", out="cum")
    w = Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, 0)
    want = skewed.select("id", F.sum("d").over(w).alias("cum"))
    joined = got.select("id", "cum").join(
        want.withColumnRenamed("cum", "want"), "id"
    )
    assert joined.filter(F.col("cum") != F.col("want")).count() == 0
    assert joined.count() == 997


def test_global_prefix_sum_rejects_float():
    import tensei_agent_spark  # noqa: F401 - spark fixture not needed

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    df = spark.range(5).select(F.col("id").cast("double").alias("x"))
    with pytest.raises(TypeError, match="exact value type"):
        with_global_prefix_sum(df, ["x"], "x")


@pytest.mark.parametrize("n,tiles", [(997, 4), (8, 4), (3, 4), (1000, 5), (7, 3)])
def test_ntile_formula_matches_spark_ntile(spark, n, tiles):
    df = spark.range(n).repartition(5)
    got = row_index(df, ["id"], "i", start=1).select(
        "id", ntile_from_rank(F.col("i"), F.lit(n).cast("long"), tiles).alias("q")
    )
    want = df.select("id", F.ntile(tiles).over(Window.orderBy("id")).alias("q"))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_empty_input(spark):
    df = spark.range(0).select(F.col("id"), F.col("id").alias("v"))
    assert row_index(df, ["v", "id"]).count() == 0


def test_ntile_non_power_of_two_matches_sql(spark):
    """tiles=3 boundaries must match Spark's own ntile; tiles=0 raises
    (the old power-of-two test let 0 through as shift=-1)."""
    import pytest
    from pyspark.sql import Window

    from tensei_agent_spark.operators.windows import ntile_from_rank

    df = spark.range(1, 11).withColumn("v", F.col("id"))
    w = Window.orderBy("v")
    expect = df.withColumn("t", F.ntile(3).over(w))
    got = df.withColumn("r", F.row_number().over(w)).withColumn(
        "t2", ntile_from_rank(F.col("r"), F.lit(10), 3)
    )
    pairs = {
        r["id"]: r["t"] for r in expect.collect()
    }, {r["id"]: r["t2"] for r in got.collect()}
    assert pairs[0] == pairs[1]
    with pytest.raises(ValueError, match="tiles"):
        ntile_from_rank(F.col("r"), F.lit(10), 0)


def test_global_prefix_max_inclusive_exclusive(spark):
    from tensei_agent_spark.operators.windows import with_global_prefix_max

    df = spark.createDataFrame(
        [(1, 5), (2, 3), (3, 9), (4, 2), (5, 9)], "k int, v int"
    ).repartition(3)
    inc = {
        r["k"]: r["m"]
        for r in with_global_prefix_max(df, ["k"], "v", out="m").collect()
    }
    assert inc == {1: 5, 2: 5, 3: 9, 4: 9, 5: 9}
    exc = {
        r["k"]: r["m"]
        for r in with_global_prefix_max(
            df, ["k"], "v", out="m", exclusive=True
        ).collect()
    }
    assert exc == {1: None, 2: 5, 3: 5, 4: 9, 5: 9}


def test_skyline_2d_matches_bruteforce(spark):
    """Random points incl. duplicates and NULLs: the sort-based skyline
    must equal the O(n^2) dominance definition computed in Python."""
    import random

    from tensei_agent_spark.operators.skyline import skyline_2d

    rng = random.Random(99)
    pts = [(i, rng.randint(0, 20), rng.randint(0, 20)) for i in range(200)]
    pts += [(1000 + i, x, y) for i, (_, x, y) in enumerate(pts[:10])]  # dups
    pts += [(2000, None, 5), (2001, 3, None)]  # excluded by convention
    df = spark.createDataFrame(pts, "id long, x int, y int").repartition(7)

    got = {r["id"] for r in skyline_2d(df, "x", "y").collect()}

    clean = [(i, x, y) for i, x, y in pts if x is not None and y is not None]
    want = set()
    for i, x, y in clean:
        dominated = any(
            qx <= x and qy >= y and (qx < x or qy > y)
            for _, qx, qy in clean
        )
        if not dominated:
            want.add(i)
    assert got == want and len(want) > 0


def test_skyline_nd_matches_bruteforce(spark):
    """3-D two-phase skyline (local mapInPandas + global merge) equals
    the O(n^2) dominance definition, under a hostile partition layout."""
    import random

    from tensei_agent_spark.operators.skyline import skyline_nd

    rng = random.Random(5)
    pts = [
        (i, rng.randint(0, 12), rng.randint(0, 12), rng.randint(0, 12))
        for i in range(300)
    ]
    pts += [(1000 + i, x, y, z) for i, (_, x, y, z) in enumerate(pts[:5])]
    df = spark.createDataFrame(pts, "id long, x int, y int, z int").repartition(11)

    got = {r["id"] for r in skyline_nd(df, ["x"], ["y", "z"]).collect()}

    want = set()
    for i, x, y, z in pts:
        dominated = any(
            qx <= x and qy >= y and qz >= z and (qx < x or qy > y or qz > z)
            for _, qx, qy, qz in pts
        )
        if not dominated:
            want.add(i)
    assert got == want and len(want) > 0


def test_skyline_nd_global_phase_spans_arrow_batches(spark):
    """The global merge must check dominance ACROSS Arrow batches: with
    a tiny batch size and a candidate union much larger than one batch,
    a batch-local final sweep would leak dominated rows."""
    import random

    from tensei_agent_spark.operators.skyline import skyline_nd

    rng = random.Random(17)
    # 300 diagonal points (x=y=z=i): under (min x, max y, max z) every
    # pair trades off (smaller x ⇒ smaller y), so ALL are on the front
    # — the local phase prunes nothing and the global phase sees them
    # all across many Arrow batches
    pts = [(i, i, i, i) for i in range(300)]
    # 300 strictly dominated points interleaved into the same stream
    for i in range(300):
        _, x, y, z = pts[rng.randrange(300)]
        pts.append((10_000 + i, x + 1, max(y - 1, 0), max(z - 1, 0)))
    df = spark.createDataFrame(pts, "id long, x int, y int, z int").repartition(5)

    orig = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        got = {r["id"] for r in skyline_nd(df, ["x"], ["y", "z"]).collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", orig)

    want = set()
    for i, x, y, z in pts:
        dominated = any(
            qx <= x and qy >= y and qz >= z and (qx < x or qy > y or qz > z)
            for _, qx, qy, qz in pts
        )
        if not dominated:
            want.add(i)
    assert got == want
    assert len(want) > 200  # the anti-correlated front really is large


def test_global_prefix_max_matches_pandas_cummax(spark):
    """Random data, random-ish layout: distributed prefix max equals
    pandas cummax over the same total order — both inclusive and
    exclusive frames."""
    import random

    import pandas as pd

    from tensei_agent_spark.operators.windows import with_global_prefix_max

    rng = random.Random(3)
    rows = [(i, rng.randint(-1000, 1000)) for i in range(500)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k int, v int").repartition(13)

    pdf = pd.DataFrame(sorted(rows), columns=["k", "v"])
    want_inc = dict(zip(pdf["k"], pdf["v"].cummax()))
    want_exc = dict(zip(pdf["k"], pdf["v"].cummax().shift(1)))

    got_inc = {
        r["k"]: r["m"]
        for r in with_global_prefix_max(df, ["k"], "v", out="m").collect()
    }
    got_exc = {
        r["k"]: r["m"]
        for r in with_global_prefix_max(
            df, ["k"], "v", out="m", exclusive=True
        ).collect()
    }
    assert got_inc == want_inc
    for k, v in want_exc.items():
        import math

        expect = None if isinstance(v, float) and math.isnan(v) else int(v)
        assert got_exc[k] == expect, (k, got_exc[k], expect)


def test_rank_survives_release_before_execute(spark):
    """release_all() between BUILDING a positional plan and EXECUTING it
    must not corrupt it. The row index holds no helper-side persist
    (its sequence node caches its own child during the one execution).
    The prefix sum's correctness persist is released here before
    execution: unpersist() drops cache entries/blocks but never
    rewrites built plans, so the executed plan still reads both _pid
    branches through the one InMemoryRelation substituted at build
    time, whose single cached-RDD lineage pins one set of range bounds
    even when every block recomputes. Heavy ties + enough rows to
    straddle partition bounds make a desynchronized exchange show up
    as duplicated/dropped ranks or wrong running sums."""
    from pyspark.sql import functions as F

    from tensei_agent_spark.cache import release_all

    df = spark.range(100_000).select(
        (F.col("id") % 997).alias("v"), F.col("id").alias("tb")
    )
    ranked = row_index(df, ["v", "tb"], "i", start=1)
    cum = with_global_prefix_sum(df, ["v", "tb"], "tb", out="cum")
    release_all()  # strip the correctness persist BEFORE executing
    spark.catalog.clearCache()
    ranks = sorted(r["i"] for r in ranked.select("i").collect())
    assert ranks == list(range(1, 100_001))
    got = sorted(r["cum"] for r in cum.select("cum").collect())
    tbs = [r["tb"] for r in df.orderBy("v", "tb").select("tb").collect()]
    want, acc = [], 0
    for t in tbs:
        acc += t
        want.append(acc)
    assert got == want


def test_stats_quantiles_exact_matches_numpy(spark):
    """The registry's exact-percentile query must agree with numpy's
    linear-interpolation percentile (the quantile_cont definition) —
    an oracle-independent pin: DuckDB and Spark could in principle
    share a bug; numpy's implementation is a third party to both.
    float64 round-trip of DECIMAL(12,2) cents is exact, and both
    sides interpolate from identical doubles, so agreement is to the
    ULP (allow 1 ULP for the a+f*(b-a) vs numpy fused forms)."""
    import math

    import numpy as np

    from tensei_agent_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    got = {
        r["p"]: r["value"]
        for r in REGISTRY["stats_quantiles_exact"].build(spark, sf).collect()
    }
    vals = np.array(
        [
            float(r["c_acctbal"])
            for r in spark.read.parquet(f"{sf}/customer.parquet")
            .select("c_acctbal")
            .collect()
        ],
        dtype=np.float64,
    )
    for p, v in got.items():
        want = float(np.percentile(vals, p * 100, method="linear"))
        assert math.isclose(v, want, rel_tol=0, abs_tol=abs(want) * 2.3e-16 + 5e-12), (
            p, v, want,
        )


def test_bounded_rank_unbounded_caller_fails_loudly(skewed):
    """The r12 runtime guard: a frame larger than max_rows must raise
    (loudly) instead of silently serializing a corpus-sized relation
    into one task. Uses a tiny ceiling so the red path is cheap; the
    assert is woven into the rank column so pruning can't elide it."""
    import pytest
    from tensei_agent_spark.operators.windows import with_bounded_rank

    r = with_bounded_rank(
        skewed, ["v", "id"], out="i", pin=False, max_rows=100
    )
    with pytest.raises(Exception, match="bounded-.?caller ceiling"):
        # count() would column-prune the rank away entirely (and with
        # it the frame's only reason to exist); materialize the rank
        # column the way any real consumer does.
        r.select("i").write.format("noop").mode("overwrite").save()


def test_bounded_rank_guard_inert_below_ceiling(skewed):
    """Same call, ceiling above the frame: values identical to the
    unguarded contract (rank 1..n over the total order)."""
    from tensei_agent_spark.operators.windows import with_bounded_rank

    r = with_bounded_rank(
        skewed, ["v", "id"], out="i", pin=False, max_rows=10_000
    )
    got = [x["i"] for x in r.orderBy("i").select("i").collect()]
    assert got == list(range(1, len(got) + 1))
