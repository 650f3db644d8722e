"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Beyond-reference surface for training-data pipelines. The contract:

- a multimodal asset is a **binary column** plus a **metadata struct**
  (modality, format, width/height/duration, n_bytes, content digest);
- per-asset compute (decode, feature-extract, resize, frame-sample)
  runs as **Arrow-batched ``mapInPandas``** — the only sane shape at
  100 TB: binary stays columnar end-to-end, batches amortize Python
  crossing, partitioning is untouched (no shuffle), and each batch
  bounds memory regardless of corpus size.

No codec (PIL/ffmpeg/soundfile) is a dependency: the decode kernel is
pluggable (``extract_features(decoder=...)``, ``transform_assets(
kernel=...)``). Without one, ``decode_stub`` raises
``NotImplementedError`` unless ``deterministic_fake=True``, whose
md5-seeded pseudo-features keep the plumbing — schema, batch shape,
partition behavior — testable. Swapping in a real codec changes ONE
inner function, nothing in the Spark plan.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

ASSET_META_SCHEMA = StructType(
    [
        StructField("modality", StringType()),  # image | audio | video
        StructField("format", StringType()),  # png/jpeg/wav/mp4/...
        StructField("n_bytes", LongType()),
        StructField("digest", StringType()),  # md5 of the payload
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("modality", StringType()),
        StructField("n_bytes", LongType()),
        StructField("digest", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_s", DoubleType()),
        StructField("feature", ArrayType(DoubleType())),
    ]
)


def attach_asset_metadata(
    df: DataFrame,
    binary_col: str,
    modality: str,
    fmt: str,
    out_col: str = "asset_meta",
) -> DataFrame:
    """Typed metadata struct for a binary column — all JVM expressions
    (md5/length run in codegen; no Python for the cheap path)."""
    payload = F.col(binary_col)
    return df.withColumn(
        out_col,
        F.struct(
            F.lit(modality).alias("modality"),
            F.lit(fmt).alias("format"),
            F.length(payload).cast("long").alias("n_bytes"),
            F.md5(payload).alias("digest"),
        ),
    )


def decode_stub(payload: bytes, modality: str, deterministic_fake: bool):
    """Decode kernel — REPLACE with a real codec (PIL/soundfile/ffmpeg).

    With ``deterministic_fake`` the 'decoded' dimensions/features are
    md5-derived from the bytes: stable across runs/partitions, so tests
    can assert exact values through the full distributed path.
    """
    if not deterministic_fake:
        raise NotImplementedError(
            "no image/audio codec installed in this environment; pass "
            "deterministic_fake=True or plug a real decoder into "
            "extract_features(decoder=...)"
        )
    d = hashlib.md5(payload).digest()
    width = 16 + d[0] % 64
    height = 16 + d[1] % 64
    duration = round(d[2] / 16.0, 3) if modality in ("audio", "video") else 0.0
    feature = [round(b / 255.0, 6) for b in d[:8]]
    return width, height, duration, feature


def extract_features(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    modality: str = "image",
    deterministic_fake: bool = False,
    batch_hint: int = 1024,
    decoder: Callable[[bytes, str], tuple] | None = None,
) -> DataFrame:
    """Decode + featurize every asset via mapInPandas.

    ``decoder`` is the pluggable decode kernel: a picklable callable
    ``(payload: bytes, modality: str) -> (width, height, duration_s,
    feature: list[float])`` shipped to the executors and applied inside
    the Arrow batch loop — wrap PIL/soundfile/ffmpeg here. When absent,
    :func:`decode_stub` is used (``deterministic_fake`` for the tested
    fake, else a clear capability error).

    Scale shape: narrow map over existing partitions (no shuffle, no
    driver traffic); each Arrow batch carries ≤ ``batch_hint`` assets so
    executor memory is bounded by batch × asset size, not partition
    size. Output follows FEATURE_SCHEMA.
    """
    kernel = decoder or (
        lambda payload, mod: decode_stub(payload, mod, deterministic_fake)
    )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = {k: [] for k in (
                "asset_id", "modality", "n_bytes", "digest",
                "width", "height", "duration_s", "feature",
            )}
            for asset_id, payload in zip(pdf[id_col], pdf[binary_col]):
                raw = bytes(payload)
                w, h, dur, feat = kernel(raw, modality)
                rows["asset_id"].append(asset_id)
                rows["modality"].append(modality)
                rows["n_bytes"].append(len(raw))
                rows["digest"].append(hashlib.md5(raw).hexdigest())
                rows["width"].append(w)
                rows["height"].append(h)
                rows["duration_s"].append(dur)
                rows["feature"].append(feat)
            yield pd.DataFrame(rows)

    # asset_id keeps the INPUT id column's type (string paths from the
    # binaryFile source are ids too, not just numeric keys).
    id_type = df.schema[id_col].dataType
    schema = StructType(
        [StructField("asset_id", id_type)] + list(FEATURE_SCHEMA.fields[1:])
    )
    src = df.select(F.col(id_col), F.col(binary_col))
    return src.mapInPandas(
        run, schema, barrier=False
    ).withColumn("feature", F.col("feature").cast("array<double>"))


def frame_sample_plan(
    df: DataFrame,
    id_col: str,
    meta_col: str = "asset_meta",
    every_s: float = 1.0,
    max_frames: int = 16,
) -> DataFrame:
    """Frame-sampling plan for video assets: which timestamps to decode.

    Pure JVM expression (sequence + explode) — the expensive decode of
    the chosen frames then runs through :func:`extract_features`-style
    mapInPandas. Emitting the plan separately keeps the shuffle-free
    decode stage maximally parallel.
    """
    dur = F.col(f"{meta_col}.n_bytes") / F.lit(65536.0)  # stub duration proxy
    n = F.least(F.ceil(dur / every_s).cast("int"), F.lit(max_frames))
    # sequence is INCLUSIVE of both ends: 0..n-1 yields exactly n frames
    # (0..n would emit one frame over the max_frames cap).
    last = F.greatest(n - F.lit(1), F.lit(0))
    return (
        df.select(
            F.col(id_col), F.explode(F.sequence(F.lit(0), last)).alias("frame_idx")
        )
        .withColumn("sample_ts_s", F.col("frame_idx") * every_s)
    )


def transform_assets(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    kernel: "Callable[[bytes], bytes] | None" = None,
    deterministic_fake: bool = False,
) -> DataFrame:
    """Payload → payload transform (resize / transcode / re-encode):
    the write-side twin of :func:`extract_features`, same Arrow-batched
    ``mapInPandas`` shape — binary in, binary out, partitioning
    untouched, no shuffle, memory bounded per batch.

    ``kernel`` is a picklable ``bytes -> bytes`` (wrap PIL resize or an
    ffmpeg transcode here). ``deterministic_fake=True`` installs a
    testable stand-in (truncate-to-half; min 1 byte for NON-empty
    input, empty stays empty — slicing b'' cannot produce a byte) so
    the distributed plumbing is exercised without codecs; with
    neither, a clear capability error is raised — not silence.

    Output: (id, <binary_col> transformed, n_bytes_in, n_bytes_out).
    """
    if kernel is None:
        if not deterministic_fake:
            raise NotImplementedError(
                "no transform kernel: pass kernel=(bytes -> bytes) "
                "wrapping your codec, or deterministic_fake=True for "
                "the test stand-in"
            )
        kernel = lambda b: b[: max(len(b) // 2, 1)]  # noqa: E731

    id_type = df.schema[id_col].dataType
    bin_type = df.schema[binary_col].dataType
    schema = StructType(
        [
            StructField(id_col, id_type),
            StructField(binary_col, bin_type),
            StructField("n_bytes_in", LongType()),
            StructField("n_bytes_out", LongType()),
        ]
    )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out_ids, out_bin, n_in, n_out = [], [], [], []
            for asset_id, payload in zip(pdf[id_col], pdf[binary_col]):
                raw = bytes(payload)
                new = kernel(raw)
                out_ids.append(asset_id)
                out_bin.append(new)
                n_in.append(len(raw))
                n_out.append(len(new))
            yield pd.DataFrame(
                {
                    id_col: out_ids, binary_col: out_bin,
                    "n_bytes_in": n_in, "n_bytes_out": n_out,
                }
            )

    return df.select(F.col(id_col), F.col(binary_col)).mapInPandas(
        run, schema, barrier=False
    )
