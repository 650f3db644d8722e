"""Incremental MinHash-LSH index, and the FK-graph maintenance
operators (cascade delete, pseudonymization)."""

from __future__ import annotations

import pytest


def test_minhash_index_incremental_matches_full_batch(spark, tmp_path):
    """Incremental LSH over two increments == full-batch minhash_lsh_pairs
    restricted to pairs touching each increment — bit-identical (md5
    signature path is deterministic)."""
    from pyspark.sql import functions as F

    from tensei_agent_spark.operators.dedup import minhash_lsh_pairs
    from tensei_agent_spark.operators.incremental import MinHashIndex

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    batch1 = docs.filter("doc_id % 3 != 0")
    batch2 = docs.filter("doc_id % 3 = 0")

    idx = MinHashIndex(spark, str(tmp_path / "lsh_index"))

    pairs1, bands1 = idx.match_new(batch1)
    got1 = {(r["id_a"], r["id_b"]) for r in pairs1.collect()}
    idx.commit(bands1)

    pairs2, bands2 = idx.match_new(batch2)
    got2 = {(r["id_a"], r["id_b"]) for r in pairs2.collect()}
    idx.commit(bands2)

    # full-batch ground truth
    full = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs).collect()
    }
    b1_ids = {r["doc_id"] for r in batch1.select("doc_id").collect()}
    want1 = {p for p in full if p[0] in b1_ids and p[1] in b1_ids}
    want2 = {p for p in full if p[0] not in b1_ids or p[1] not in b1_ids}
    assert got1 == want1
    assert got2 == want2
    assert got1 | got2 == full

    # index now covers everything: an already-seen doc matches itself's
    # cohort but adds nothing new
    stored = idx.stored_bands()
    assert stored.select("doc_id").distinct().count() == docs.count()


def test_incremental_clusters_equal_batch_clusters(spark, tmp_path):
    """The cluster-and-keep-one production path —
    MinHashIndex increments + incremental_components per batch — must
    land on EXACTLY the clusters of a one-shot full recompute
    (minhash_lsh_pairs over the whole corpus → connected_components_star)
    on the same corpus. Labels are canonical min-ids on both paths, so
    the (node → label) maps compare directly, not just the partitions."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from tensei_agent_spark.operators.dedup import (
        connected_components_star,
        incremental_components,
        minhash_lsh_pairs,
    )
    from tensei_agent_spark.operators.incremental import MinHashIndex

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    idx = MinHashIndex(spark, str(tmp_path / "lsh_index"))
    labels = spark.createDataFrame(
        [],
        StructType(
            [StructField("node", LongType()), StructField("lbl", LongType())]
        ),
    )
    for m in range(3):  # three daily batches partition the corpus
        batch = docs.filter(F.col("doc_id") % 3 == m)
        pairs, bands = idx.match_new(batch)
        labels = incremental_components(labels, pairs).localCheckpoint(
            eager=True
        )
        idx.commit(bands)

    got = {r["node"]: r["lbl"] for r in labels.collect()}
    full = connected_components_star(minhash_lsh_pairs(docs))
    want = {r["node"]: r["component"] for r in full.collect()}
    assert got == want
    assert len(got) > 0  # the corpus has near-dup clusters by design


def test_minhash_index_rejects_parameter_mismatch(spark, tmp_path):
    from tensei_agent_spark.operators.incremental import MinHashIndex

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text").limit(20)
    path = str(tmp_path / "idx")
    idx = MinHashIndex(spark, path, bands=4)
    _, bands = idx.match_new(docs)
    idx.commit(bands)

    other = MinHashIndex(spark, path, bands=8)
    with pytest.raises(ValueError, match="refusing to mix"):
        other.match_new(docs)
    with pytest.raises(ValueError, match="refusing to mix"):
        other.commit(bands)
    # same parameters still fine
    pairs, bands2 = MinHashIndex(spark, path, bands=4).match_new(docs)
    pairs.count()


def test_cascade_delete_prunes_fk_chain(spark):
    from tensei_agent_spark.operators.maintenance import cascade_delete

    cust = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "c_custkey long, name string"
    )
    orders = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 2), (13, 3)],
        "o_orderkey long, o_custkey long",
    )
    items = spark.createDataFrame(
        [(10, 1), (10, 2), (11, 1), (12, 1), (13, 1)],
        "l_orderkey long, l_linenumber long",
    )
    edges = [
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ]
    doomed = spark.createDataFrame([(1,)], "c_custkey long")
    out = cascade_delete(
        {"customer": cust, "orders": orders, "lineitem": items},
        edges,
        "customer",
        doomed,
    )
    assert {r["c_custkey"] for r in out["customer"].collect()} == {2, 3}
    assert {r["o_orderkey"] for r in out["orders"].collect()} == {12, 13}
    assert {
        (r["l_orderkey"], r["l_linenumber"])
        for r in out["lineitem"].collect()
    } == {(12, 1), (13, 1)}


def test_cascade_delete_rejects_cycles(spark):
    import pytest

    from tensei_agent_spark.operators.maintenance import cascade_delete

    a = spark.createDataFrame([(1, 1)], "ak long, bfk long")
    b = spark.createDataFrame([(1, 1)], "bk long, afk long")
    edges = [("b", "afk", "a", "ak"), ("a", "bfk", "b", "bk")]
    doomed = spark.createDataFrame([(1,)], "ak long")
    with pytest.raises(ValueError, match="cycle"):
        # Force evaluation of the BFS (it happens at plan-build time).
        cascade_delete({"a": a, "b": b}, edges, "a", doomed)


def test_pseudonymize_preserves_joins_and_drops_pii(spark):
    from tensei_agent_spark.operators.maintenance import pseudonymize

    cust = spark.createDataFrame(
        [(1, "Alice"), (2, "Bob")], "c_custkey long, c_name string"
    )
    orders = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 2)], "o_orderkey long, o_custkey long"
    )
    out = pseudonymize(
        {"customer": cust, "orders": orders},
        {"customer": ["c_custkey"], "orders": ["o_custkey"]},
        salt="s1",
        drop_cols={"customer": ["c_name"]},
    )
    assert "c_name" not in out["customer"].columns
    joined = out["orders"].join(
        out["customer"],
        out["orders"]["o_custkey"] == out["customer"]["c_custkey"],
    )
    assert joined.count() == 3  # referential integrity survives
    # Same value -> same token; different salt -> different token.
    toks = {r["o_custkey"] for r in out["orders"].collect()}
    assert len(toks) == 2 and all(len(t) == 32 for t in toks)
    other = pseudonymize(
        {"orders": orders}, {"orders": ["o_custkey"]}, salt="s2"
    )
    assert toks != {r["o_custkey"] for r in other["orders"].collect()}


def test_cascade_delete_handles_stacked_diamonds(spark):
    from tensei_agent_spark.operators.maintenance import cascade_delete

    # root -> a/b -> m -> c/d -> z : two stacked diamonds (4 paths to
    # z). Path-enumerating traversals blow up exponentially here and
    # can false-positive the cycle guard; the level-merged BFS must
    # prune every table exactly once per level.
    def t(*rows, schema):
        return spark.createDataFrame(list(rows), schema)

    frames = {
        "root": t((1,), (2,), schema="rk long"),
        "a": t((10, 1), (11, 2), schema="ak long, rfk long"),
        "b": t((20, 1), (21, 2), schema="bk long, rfk long"),
        "m": t((30, 10, 20), (31, 11, 21), schema="mk long, afk long, bfk long"),
        "c": t((40, 30), (41, 31), schema="ck long, mfk long"),
        "d": t((50, 30), (51, 31), schema="dk long, mfk long"),
        "z": t((60, 40, 50), (61, 41, 51), schema="zk long, cfk long, dfk long"),
    }
    edges = [
        ("a", "rfk", "root", "rk"),
        ("b", "rfk", "root", "rk"),
        ("m", "afk", "a", "ak"),
        ("m", "bfk", "b", "bk"),
        ("c", "mfk", "m", "mk"),
        ("d", "mfk", "m", "mk"),
        ("z", "cfk", "c", "ck"),
        ("z", "dfk", "d", "dk"),
    ]
    doomed = spark.createDataFrame([(1,)], "rk long")
    out = cascade_delete(frames, edges, "root", doomed)
    assert {r["rk"] for r in out["root"].collect()} == {2}
    assert {r["mk"] for r in out["m"].collect()} == {31}
    assert {r["zk"] for r in out["z"].collect()} == {61}
