"""Multi-source combination primitives.

The reference engine has no general join; it combines sources three ways
(SURVEY.md §2.4), all reproduced here as scalable DataFrame ops:

1. **Row-aligned merge** — rows matched by position (reference:
   ``processor/RecipeWorker.scala:332-394`` passes ``sequenceRow`` to
   every fetch). Spark: attach a global row index to each side over an
   explicit total order (:func:`~.windows.row_index`, a global sort and
   Spark's distributed sequence), then equi-join on the index.
2. **Mapping-key lookup** — an equi left-join (reference:
   ``processor/MappingOneToOneWorker.scala:232-287`` +
   ``DataTreeDocument.FindDataContainer``).
3. **FK key remap** — child FK values rewritten to the parent's newly
   generated keys (reference: ``transformers/FetchForeignKeyValue.scala``
   + ``processor/AutoIncrementValueBuffer.scala``). Spark: generate the
   key map as a DataFrame and join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .windows import row_index


def row_aligned_merge(
    left: DataFrame,
    right: DataFrame,
    left_order: Sequence[str],
    right_order: Sequence[str],
    index_col: str = "_rn",
) -> DataFrame:
    """Positional zip of two sources: row i of left ++ row i of right.

    Inner join on the row index reproduces the reference's
    ``maxLoops = min(leftRows, rightRows)`` write cap
    (``RecipeWorker.scala:252-316``).
    """
    lhs = row_index(left, left_order, index_col)
    rhs = row_index(right, right_order, index_col)
    return lhs.join(rhs, index_col, "inner")


def mapping_key_join(
    left: DataFrame,
    right: DataFrame,
    key: str | Sequence[str],
    how: str = "left",
    broadcast_right: bool = False,
) -> DataFrame:
    """Equi join on the mapping key (reference MappingKeyFieldDefinition).

    ``broadcast_right=True`` for dimension-sized lookup sides; otherwise
    Catalyst/AQE picks broadcast vs sort-merge from statistics.
    """
    rhs = F.broadcast(right) if broadcast_right else right
    on = [key] if isinstance(key, str) else list(key)
    return left.join(rhs, on, how)


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: Sequence[str] = (),
    tie_col: str | None = None,
) -> DataFrame:
    """Point-in-time (as-of) join: for every left row, the single right
    row with the greatest ``right_ts`` ≤ ``left_ts`` for the same key.

    Implementation is union + forward-fill, NOT a range join: tag both
    sides, sort within each key partition by (ts, side, tie), and carry
    the latest right values forward with ``last(..., ignorenulls)``.
    ONE hash shuffle on the key, no quadratic candidate explosion —
    the shape that survives 100 TB (a naive ``right.ts <= left.ts``
    theta join explodes to O(|left|·|right|) per key).

    Ties on equal right_ts resolve to the largest ``tie_col`` (pass an
    id column for full determinism).
    """
    rcols = list(right_cols) or [
        c for c in right.columns if c not in (key, right_ts)
    ]
    tie = tie_col
    # The right payload travels as ONE struct so the forward-fill always
    # picks all columns from the SAME right row (independent per-column
    # fills would mix rows when right data itself contains nulls).
    r_struct = F.struct(*[F.col(c) for c in rcols]).alias("_r")
    r_tagged = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        (F.col(tie) if tie and tie in right.columns else F.lit(None)).cast("long").alias("_tie"),
        r_struct,
    )
    l_tagged = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        (F.col(tie) if tie and tie in left.columns else F.lit(None)).cast("long").alias("_tie"),
        F.lit(None).cast(r_tagged.schema["_r"].dataType).alias("_r"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_l"),
    )
    r_tagged = r_tagged.withColumn(
        "_l", F.lit(None).cast(l_tagged.schema["_l"].dataType)
    )
    unioned = l_tagged.unionByName(r_tagged)
    # right rows (side 0) sort before left rows at equal ts → inclusive
    # `right_ts <= left_ts`; among equal right ts the largest tie wins.
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_ts"), F.col("_side"), F.col("_tie").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        "_side", "_l", F.last("_r", ignorenulls=True).over(w).alias("_rf")
    )
    return filled.filter(F.col("_side") == 1).select(
        "_l.*", *[F.col(f"_rf.{c}").alias(f"right_{c}") for c in rcols]
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    key: str,
    point_ts: str = "ts",
    start_ts: str = "start",
    end_ts: str = "end",
    bucket: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Join each point row to the interval rows containing it
    (``start_ts <= point_ts <= end_ts``, same key).

    A naive theta join is O(|points|·|intervals|) per key. Instead both
    sides are **time-bucketed**: each interval explodes to the buckets
    it spans, each point maps to its single bucket, and the join is an
    equi-join on (key, bucket) followed by the exact containment filter.
    Candidates per point = intervals overlapping ONE bucket — bounded by
    interval density, not table size. Pick ``bucket`` ≈ median interval
    length (shorter → more interval replication; longer → more false
    candidates filtered).
    """
    secs = {"minutes": 60, "minute": 60, "hours": 3600, "hour": 3600,
            "seconds": 1, "second": 1, "days": 86400, "day": 86400}
    qty, unit = bucket.split()
    width = int(qty) * secs[unit]

    p = points.withColumn(
        "_bkt", (F.unix_timestamp(F.col(point_ts)) / width).cast("long")
    )
    i = intervals.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                (F.unix_timestamp(F.col(start_ts)) / width).cast("long"),
                (F.unix_timestamp(F.col(end_ts)) / width).cast("long"),
            )
        ),
    )
    joined = p.join(i, [key, "_bkt"], how).filter(
        (F.col(point_ts) >= F.col(start_ts)) & (F.col(point_ts) <= F.col(end_ts))
    )
    return joined.drop("_bkt")


def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    key: str,
    a_start: str = "start_a",
    a_end: str = "end_a",
    b_start: str = "start_b",
    b_end: str = "end_b",
    bucket: str = "30 minutes",
) -> DataFrame:
    """Join interval rows of ``a`` to OVERLAPPING interval rows of
    ``b`` (closed intervals, same key): ``a.start <= b.end AND
    b.start <= a.end`` — the interval×interval sibling of
    :func:`range_join`.

    Both sides explode to the time buckets they span and equi-join on
    (key, bucket); the exact overlap predicate filters false bucket
    neighbors. A pair sharing several buckets would surface once PER
    shared bucket — instead of a distinct shuffle, the pair is emitted
    only at its FIRST shared bucket (``greatest`` of the two start
    buckets), the same dedup-free trick as the linkage disjoint
    blocking passes: pure filter, no extra exchange.

    Candidates per row = intervals overlapping its buckets — bounded
    by interval density per key, never |a|·|b|. Column names must not
    collide across sides (alias before calling)."""
    secs = {"minutes": 60, "minute": 60, "hours": 3600, "hour": 3600,
            "seconds": 1, "second": 1, "days": 86400, "day": 86400}
    qty, unit = bucket.split()
    width = int(qty) * secs[unit]

    def bkt(col: str):
        return F.floor(F.unix_timestamp(F.col(col)) / width).cast("long")

    ax = a.withColumn("_fb_a", bkt(a_start)).withColumn(
        "_bkt", F.explode(F.sequence(bkt(a_start), bkt(a_end)))
    )
    bx = b.withColumn("_fb_b", bkt(b_start)).withColumn(
        "_bkt", F.explode(F.sequence(bkt(b_start), bkt(b_end)))
    )
    return (
        ax.join(bx, [key, "_bkt"])
        .filter(
            (F.col(a_start) <= F.col(b_end))
            & (F.col(b_start) <= F.col(a_end))
        )
        .filter(F.col("_bkt") == F.greatest("_fb_a", "_fb_b"))
        .drop("_bkt", "_fb_a", "_fb_b")
    )


def remap_foreign_keys(
    child: DataFrame,
    key_map: DataFrame,
    fk_col: str,
    old_key_col: str = "old_key",
    new_key_col: str = "new_key",
) -> DataFrame:
    """Rewrite ``child.fk_col`` through an (old_key → new_key) map.

    The key map is what a JDBC sink reads back after writing the parent
    table (generated auto-increment keys); it is dimension-sized, so we
    broadcast it. Unmatched FKs become NULL — same as the reference's
    buffer-miss behaviour after retries exhaust.
    """
    km = F.broadcast(
        key_map.select(
            F.col(old_key_col).alias("__old"), F.col(new_key_col).alias("__new")
        )
    )
    return (
        child.join(km, child[fk_col] == F.col("__old"), "left")
        .withColumn(fk_col, F.col("__new"))
        .drop("__old", "__new")
    )
