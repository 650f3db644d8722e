"""Multimodal + SimHash operator tests: Spark-side plumbing must be
real (schema, Arrow batching, partition behavior) with the codec stubbed."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from tensei_agent_spark.operators.dedup import (
    simhash_fingerprints,
    simhash_near_dup_pairs,
)
from tensei_agent_spark.operators.multimodal import (
    attach_asset_metadata,
    decode_stub,
    extract_features,
    frame_sample_plan,
)


@pytest.fixture
def assets(spark):
    rows = [(i, f"payload-{i}".encode() * (i + 1)) for i in range(20)]
    return spark.createDataFrame(rows, "asset_id long, payload binary").repartition(4)


def test_metadata_is_jvm_side(spark, assets):
    out = attach_asset_metadata(assets, "payload", "image", "png")
    row = out.filter(F.col("asset_id") == 3).select("asset_meta.*").first()
    payload = b"payload-3" * 4
    assert row["n_bytes"] == len(payload)
    assert row["digest"] == hashlib.md5(payload).hexdigest()
    assert row["modality"] == "image" and row["format"] == "png"


def test_decode_stub_gated():
    with pytest.raises(NotImplementedError, match="codec"):
        decode_stub(b"x", "image", deterministic_fake=False)
    w, h, dur, feat = decode_stub(b"x", "image", deterministic_fake=True)
    assert 16 <= w < 80 and 16 <= h < 80 and dur == 0.0 and len(feat) == 8
    # deterministic: same bytes → same features
    assert decode_stub(b"x", "image", True) == (w, h, dur, feat)


def test_extract_features_distributed(spark, assets):
    out = extract_features(assets, "payload", "asset_id", "image",
                           deterministic_fake=True)
    rows = {r["asset_id"]: r for r in out.collect()}
    assert len(rows) == 20
    payload = b"payload-7" * 8
    w, h, dur, feat = decode_stub(payload, "image", True)
    got = rows[7]
    assert (got["width"], got["height"]) == (w, h)
    assert got["digest"] == hashlib.md5(payload).hexdigest()
    assert list(got["feature"]) == pytest.approx(feat)
    # no shuffle introduced: partition count preserved through mapInPandas
    assert out.rdd.getNumPartitions() == assets.rdd.getNumPartitions()


def test_audio_duration_nonzero(spark, assets):
    out = extract_features(assets, "payload", "asset_id", "audio",
                           deterministic_fake=True)
    assert out.filter(F.col("duration_s") > 0).count() > 0


def test_frame_sample_plan(spark, assets):
    planned = frame_sample_plan(
        attach_asset_metadata(assets, "payload", "video", "mp4"),
        "asset_id",
    )
    rows = planned.collect()
    assert all(r["sample_ts_s"] == r["frame_idx"] * 1.0 for r in rows)
    assert planned.groupBy("asset_id").count().count() == 20


def test_simhash_identical_and_perturbed(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # identical → same fingerprint, hamming 0
            (3, base + " extra tail token"),  # near dup
            (4, "completely different content about database engines"),
        ],
        "doc_id long, text string",
    )
    sig = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}
    assert sig[1] == sig[2]
    assert bin(sig[1] ^ sig[3]).count("1") <= 4  # near dup: tiny hamming
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(docs, max_hamming=4).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs


def test_extract_features_custom_decoder(spark, assets):
    """A user-supplied decoder callable must ship to the executors and
    run inside the mapInPandas batch loop. Defined
    locally so cloudpickle serializes it by VALUE — a module-level
    function in a test file pickles by reference and executors cannot
    import the test module (the same constraint a real user's notebook
    decoder has)."""

    def _toy_decoder(payload: bytes, modality: str):
        return (
            len(payload) % 100, 7, 1.5,
            [float(payload[0]), float(len(payload))],
        )

    out = extract_features(
        assets, "payload", "asset_id", modality="video", decoder=_toy_decoder
    ).collect()
    assert len(out) == 20
    by_id = {r["asset_id"]: r for r in out}
    for i in range(20):
        payload = f"payload-{i}".encode() * (i + 1)
        r = by_id[i]
        assert r["width"] == len(payload) % 100
        assert r["height"] == 7
        assert r["duration_s"] == 1.5
        assert r["feature"] == [float(payload[0]), float(len(payload))]
        assert r["digest"] == hashlib.md5(payload).hexdigest()


def test_decoder_closure_serializes(spark, assets):
    """Closures (captured state) must survive pickling to executors."""
    scale = 3.0
    out = extract_features(
        assets, "payload", "asset_id",
        decoder=lambda p, m: (1, 1, 0.0, [scale * len(p)]),
    )
    got = {r["asset_id"]: r["feature"][0] for r in out.collect()}
    assert got[4] == 3.0 * len(b"payload-4" * 5)


def test_binary_file_source_feeds_multimodal(spark, tmp_path):
    """binaryFile source → opaque payload column → extract_features:
    the realistic multimodal ingest path, with glob pushdown."""
    from pyspark.sql import functions as F

    from tensei_agent_spark.operators.multimodal import extract_features
    from tensei_agent_spark.plans.spec import Field, SourceSpec
    from tensei_agent_spark.sources import read_source

    (tmp_path / "a.png").write_bytes(b"\x89PNG fakedata A")
    (tmp_path / "b.png").write_bytes(b"\x89PNG fakedata BB")
    (tmp_path / "skip.txt").write_bytes(b"not an image")
    spec = SourceSpec(
        "imgs", "binary", str(tmp_path),
        (Field("path"), Field("length", "long"), Field("content", "binary")),
        {"pathGlobFilter": "*.png"},
    )
    df = read_source(spark, spec)
    assert df.count() == 2  # glob filter pruned the .txt
    feats = extract_features(
        df.select(F.col("path").alias("doc_id"), F.col("content").alias("payload")),
        "payload", "doc_id", modality="image", deterministic_fake=True,
    )
    rows = feats.collect()
    assert len(rows) == 2 and all(r["feature"] is not None for r in rows)


def test_transform_assets_roundtrip_and_gate(spark):
    """Payload->payload transform: fake kernel halves each asset through
    the distributed path; a custom kernel plugs in; no kernel raises the
    documented gate."""
    import pytest
    from pyspark.sql import functions as F

    from tensei_agent_spark.operators.multimodal import transform_assets

    df = spark.createDataFrame(
        [(1, bytearray(b"0123456789")), (2, bytearray(b"abcd"))],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: r for r in
           transform_assets(df, "payload", "doc_id",
                            deterministic_fake=True).collect()}
    assert bytes(out[1]["payload"]) == b"01234" and out[1]["n_bytes_out"] == 5
    assert out[2]["n_bytes_in"] == 4 and out[2]["n_bytes_out"] == 2

    rev = transform_assets(df, "payload", "doc_id", kernel=lambda b: b[::-1])
    got = {r["doc_id"]: bytes(r["payload"]) for r in rev.collect()}
    assert got[2] == b"dcba"

    with pytest.raises(NotImplementedError, match="kernel"):
        transform_assets(df, "payload", "doc_id")
