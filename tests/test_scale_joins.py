"""Scale-toolbox join tests: salting correctness, interval joins, and
the distributed row-index invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from tensei_agent_spark.operators.windows import row_index
from tensei_agent_spark.operators.skew import salted_join


def test_salted_join_matches_plain_join(spark):
    """Salting must not change the result set — only the distribution."""
    # skewed: 10k rows of one hot key + a tail
    hot = spark.range(10_000).select(F.lit(1).alias("k"), F.col("id").alias("v"))
    tail = spark.range(100).select((F.col("id") + 2).alias("k"), F.col("id").alias("v"))
    skewed = hot.unionByName(tail)
    dim = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 10).alias("w"))

    plain = skewed.join(dim, "k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("w").alias("s")
    ).first()
    salted = salted_join(skewed, dim, ["k"], salt_src="v", n_salt=8).agg(
        F.count(F.lit(1)).alias("n"), F.sum("w").alias("s")
    ).first()
    assert (plain["n"], plain["s"]) == (salted["n"], salted["s"])


def test_row_index_dense_and_ordered(spark):
    df = spark.range(0, 10_000).select(
        (F.lit(9_999) - F.col("id")).alias("key")  # descending input
    ).repartition(16)
    out = row_index(df, ["key"], "rn").collect()
    pairs = sorted((r["rn"], r["key"]) for r in out)
    # dense 0..N-1 index, aligned with the requested total order
    assert [p[0] for p in pairs] == list(range(10_000))
    assert [p[1] for p in pairs] == list(range(10_000))


def test_salted_join_rejects_right_preserving(spark):
    """Replication duplicates unmatched replicated-side rows once per
    salt value — right/full joins must be rejected, not silently wrong."""
    import pytest

    a = spark.createDataFrame([(1, "x")], "k long, v string")
    b = spark.createDataFrame([(1, "y")], "k long, w string")
    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(a, b, ["k"], salt_src="v", how="full")


def test_interval_overlap_join_exact_and_once(spark):
    """Bucketed overlap join must equal the theta-join result with each
    overlapping pair emitted exactly once — including pairs spanning
    many shared buckets and touching-endpoint pairs."""
    from tensei_agent_spark.operators.joins import interval_overlap_join

    a = spark.createDataFrame(
        [
            (1, 10, 0, 100),     # long: overlaps both b-intervals
            (1, 11, 500, 510),   # disjoint from everything
            (1, 12, 200, 200),   # degenerate point interval
            (2, 13, 0, 50),      # other key: must not cross keys
        ],
        "k int, id_a int, sa long, ea long",
    ).select(
        "k", "id_a",
        F.timestamp_seconds("sa").alias("sa"),
        F.timestamp_seconds("ea").alias("ea"),
    )
    b = spark.createDataFrame(
        [
            (1, 20, 90, 300),    # overlaps 10 (90..100) and contains 12
            (1, 21, 100, 100),   # touches 10 exactly at its end point
            (1, 22, 301, 400),   # disjoint
        ],
        "k int, id_b int, sb long, eb long",
    ).select(
        "k", "id_b",
        F.timestamp_seconds("sb").alias("sb"),
        F.timestamp_seconds("eb").alias("eb"),
    )
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in interval_overlap_join(
            a, b, "k", "sa", "ea", "sb", "eb", bucket="1 minute"
        ).collect()
    )
    assert got == [(10, 20), (10, 21), (12, 20)]


def test_interval_overlap_join_empty_sides(spark):
    from tensei_agent_spark.operators.joins import interval_overlap_join

    a = spark.createDataFrame(
        [], "k int, id_a int, sa timestamp, ea timestamp"
    )
    b = spark.createDataFrame(
        [], "k int, id_b int, sb timestamp, eb timestamp"
    )
    assert interval_overlap_join(a, b, "k", "sa", "ea", "sb", "eb").count() == 0


def test_row_aligned_merge_collect_is_exact_at_sf01(spark):
    """Regression found by the sf0.1 strict sweep: an offsets-based
    row index whose two branches matched rows on the physical
    partition id, without a persist of the range shuffle, sampled
    DIFFERENT partition bounds in two executions of the exchange —
    collect()/toPandas() of this exact composite returned 1022 rows
    (duplicated ranks, rank 914 missing) while count() said 1000. The
    distributed-sequence index numbers rows inside one node that
    caches its own sorted child, so the index is dense by
    construction; these inputs (supplier's 1000 rows over 32 sampled
    range partitions) keep pinning it."""
    import os

    from tensei_agent_spark.catalog import load as cat_load
    from tensei_agent_spark.operators.joins import row_aligned_merge

    sf = "/root/testdata/sf0.1"
    if not os.path.isdir(sf):
        import pytest

        pytest.skip("sf0.1 testdata not present")
    cust = cat_load(spark, sf, "customer").select("c_custkey", "c_name")
    supp = cat_load(spark, sf, "supplier").select("s_suppkey", "s_name")
    out = row_aligned_merge(
        cust, supp, ["c_custkey"], ["s_suppkey"], "rn"
    )
    rows = out.collect()  # the failing path was collect, NOT count
    assert len(rows) == 1000
    rns = sorted(r["rn"] for r in rows)
    assert rns == list(range(1000)), "ranks must be dense and unique"
