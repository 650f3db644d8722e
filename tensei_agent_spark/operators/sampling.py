"""Deterministic sampling / splitting operators for training pipelines.

A training corpus needs train/val/test membership that is (a) stable
across runs and engines, (b) a pure map over the rows — no shuffle, no
global state, so it scales to any corpus size — and (c) derived from a
*content key*, not row position, so re-partitioning or appending data
never moves an existing row between splits.

Membership is computed from an engine-portable 60-bit hash of the key
(md5 prefix — bit-identical in Spark and DuckDB, see
``operators/dedup.py``) taken modulo a bucket count. This is the Spark
rethink of sampled profiling in the reference
(`/root/reference/src/main/scala/com/wegtam/tensei/agent/Stats.scala:94-128`,
which samples a percentage of rows while streaming) generalized to
reproducible dataset splitting.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

BUCKETS = 10_000


def hash_bucket(key: Column, buckets: int = BUCKETS, salt: str = "") -> Column:
    """Deterministic bucket in [0, buckets) from a 60-bit md5 prefix.

    Portable: DuckDB twin is
    ``CAST(concat('0x', substr(md5(key), 1, 15)) AS BIGINT) % buckets``.
    """
    h = F.conv(
        F.substring(F.md5(F.concat(key.cast("string"), F.lit(salt))), 1, 15), 16, 10
    ).cast("long")
    return h % buckets


def hash_split(
    df: DataFrame,
    key: str,
    weights: dict[str, float],
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split with the given weights.

    ``weights`` maps split name → fraction (must sum to ≤ 1; any
    remainder falls into the last split). Assignment is a chain of
    half-open bucket ranges, so each row lands in exactly one split and
    the assignment is identical on every engine and cluster layout.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    bucket = hash_bucket(F.col(key), salt=salt)
    names = list(weights)
    expr: Column | None = None
    edge = 0
    for name in names[:-1]:
        edge += int(weights[name] * BUCKETS)
        cond = bucket < edge
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(names[-1])
    return df.withColumn(split_col, expr)


def shuffle_shards(
    df: DataFrame,
    key: str,
    n_shards: int,
    salt: str = "",
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training-data
    loading.

    Training runs need the corpus in a *reproducible* pseudo-random
    order, materialized as N shard files a data loader can stream
    (epoch reshuffle = new ``salt``). A global ``orderBy(rand())`` is
    wrong twice at 100 TB: ``rand()`` depends on partition layout (not
    reproducible), and a total sort is an all-data range exchange.
    Instead:

    - ``shard``: content-keyed hash bucket (pure map, no shuffle) —
      every row's shard is a function of (key, salt) alone, so the
      assignment survives repartitioning, retries, and engine swaps.
    - ``pos``: rank within the shard by the md5 order key. NOT a
      window partitioned by shard — that funnels each shard through ONE
      task (8 shards of a 100 TB corpus = 8 spill-bound sorts). Instead
      a distributed global row index over (shard, okey, key) — every
      shard's rows occupy a contiguous index interval, computed fully
      in parallel — minus a broadcast per-shard offset (an
      n_shards-row aggregate). Bit-equal to the per-shard row_number.

    Shards are independently ordered; a loader interleaving them sees a
    uniform random permutation of the corpus. Write with
    ``df.repartition(shard).sortWithinPartitions(pos)`` (or
    ``partitionBy(shard)``) so each shard lands as one ordered file.
    Portable: the DuckDB twin of the order key is
    ``md5(concat(CAST(key AS VARCHAR), ':', salt))``.
    """
    from ..cache import track
    from .windows import row_index

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    okey = F.md5(
        F.concat(F.col(key).cast("string"), F.lit(":"), F.lit(salt))
    )
    shard = hash_bucket(F.col(key), buckets=n_shards, salt=salt + "#shard")

    # Tracked: the rows and the per-shard base aggregate both read the
    # indexed frame, and each read would otherwise plan its own sort
    # and sequence over the whole corpus.
    ranked = track(
        row_index(
            df.withColumn("_okey", okey).withColumn(shard_col, shard),
            [shard_col, "_okey", key],
            "_grank",
            start=1,
        )
    )
    base = ranked.groupBy(shard_col).agg(
        (F.min("_grank") - 1).alias("_base")
    )
    return (
        ranked.join(F.broadcast(base), shard_col)
        .withColumn(pos_col, (F.col("_grank") - F.col("_base")).cast("int"))
        .drop("_okey", "_grank", "_base")
    )


def weighted_sample_keys(
    weight: Column,
    id_col: str = "doc_id",
    salt: str = "",
) -> Column:
    """Efraimidis–Spirakis A-ES key for exact-k weighted sampling
    WITHOUT replacement: rank rows by ``u^(1/w)`` descending and take
    the top k — each item's inclusion probability is proportional to
    its weight, with no per-row random state (u is the md5-uniform of
    the id, so the draw is deterministic, engine-portable, and
    replayable; a different ``salt`` is a fresh draw).

    Returned as the MONOTONE equivalent ``ln(u)/w`` (avoids pow and
    keeps the magnitudes sane); order by it DESC with the id as the
    tie-break. Distributed top-k by this key is ``orderBy(...).limit``
    — Spark's TakeOrdered, per-partition heaps + one k-row merge,
    never a global sort.

    Pure Column expression — apply to any frame carrying ``id_col``.
    Cross-engine caveat: ``ln`` is transcendental, so unlike the
    +/*/floor quantizations elsewhere its last ULP is not guaranteed
    identical between the JVM and libm; oracle-compared consumers rank
    on ``round(key, 12)`` with the id as tie-break (the established
    cosine-ranking convention) so a 1-ULP drift cannot flip a cut.
    """
    h = F.conv(
        F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 15),
        16,
        10,
    ).cast("bigint")
    # u in (0, 1]: +1 keeps ln defined at h=0
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    return F.log(u) / weight


def bottomk_sample(
    df: DataFrame,
    key_cols: Sequence[str],
    id_col: str,
    k: int = 32,
    salt: str = "",
) -> DataFrame:
    """Per-group bottom-k uniform sample: keep the k rows with the
    smallest md5 priority of the row id (+ optional salt for a fresh
    draw). The bottom-k-by-hash set is a MERGEABLE uniform sample —
    bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B)) — so a
    sample of any split of the input, merged, is bit-identical to this
    one-pass result.

    One group-partitioned window (never global); returns the input
    columns plus ``prio``. Deterministic and replayable: same ids →
    same sample, any epoch, any engine (md5 is portable).
    """
    prio = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy(*key_cols).orderBy("prio", id_col)
    return (
        df.withColumn("prio", prio)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(k))
        .drop("_rn")
    )
