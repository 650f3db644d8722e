"""Distributed substitutes for unpartitioned global windows.

A bare ``Window.orderBy(...)`` with no ``partitionBy`` funnels the
WHOLE input through one partition (Spark warns ``WindowExec: No
Partition Defined``) — correct, but dead at 100× scale. These helpers
compute the *bit-exact same result* distributed.

:func:`row_index` numbers rows over a global order: a global sort
(range exchange + in-partition sort) and Spark's
``AttachDistributedSequence`` node, the JVM-side ``zipWithIndex``
behind pandas-on-Spark's default index. The node persists its sorted
child for the one execution it serves, counts each partition, and
numbers the rows from those counts, so no helper-side persist or
offsets table is needed.

The prefix helpers (:func:`with_global_prefix_sum`,
:func:`with_global_prefix_max`) carry a value, not a position, across
partitions:

1. ``repartitionByRange`` on the order keys (range partitioner keeps
   global order across partitions),
2. run the window per range partition (hash-partitioned WindowExec,
   fully parallel),
3. shift each partition by the cumulative sum/max of its predecessors
   — a tiny O(num_partitions) offsets table derived from a
   per-partition aggregate and broadcast-joined back.

That is ONE lazy plan: the offsets table is a ``groupBy(_pid)``
aggregate of the SAME range-partitioned frame, and that frame is
PERSISTED (MEMORY_AND_DISK, release-tracked). The persist is a
correctness requirement, not a tuning choice: both branches match rows
on the physical partition id, and two independent executions of a
range exchange can sample DIFFERENT partition bounds (RangePartitioner
seeds by runtime RDD id). AQE's exchange reuse usually prevents the
double execution, but reuse is best-effort; without the persist a
collected 1000-row composite plan once showed zero ReusedExchange and
emitted 1022 rows. The cumulative pass over the per-partition stats
runs in an unpartitioned window, which is safe precisely because that
frame is O(shuffle partitions) rows, not O(input rows).

Exactness contract:

- :func:`row_index` with ``start=1`` equals ``row_number()`` for any
  TOTAL order (callers must tie-break; a non-total order makes
  row_number itself nondeterministic anyway).
- :func:`with_global_prefix_sum` equals a running ``sum() ROWS
  UNBOUNDED PRECEDING`` only for exact value types (DECIMAL / integer)
  — fixed-point addition is associative, float is not. It raises on
  float inputs rather than silently drifting.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.internal import InternalFunction
from pyspark.sql.types import (
    ByteType,
    DecimalType,
    IntegerType,
    LongType,
    ShortType,
)


def _as_columns(order: Sequence[Column | str]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order]


def _n_shuffle(df: DataFrame) -> int:
    """Explicit partition count for the range exchange.

    Pinning N (shuffle origin REPARTITION_BY_NUM) disables AQE
    partition coalescing for that exchange. That is REQUIRED for
    correctness here, not a tuning choice: the prefix helpers read
    the same shuffle from two branches and match rows on the physical
    partition id (_pid). AQE coalescing decisions are per-read — one
    branch can coalesce while the other does not (observed under a
    cached self-join), silently desynchronizing the two _pid columns
    and corrupting the join.
    """
    try:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return 200


def _range_partitioned(df: DataFrame, order: list[Column]) -> DataFrame:
    # No sortWithinPartitions: _pid depends only on the partitioning,
    # and every consumer either aggregates (order-irrelevant) or runs a
    # Window.partitionBy(_pid).orderBy(order) that sorts on its own.
    #
    # PERSISTED for correctness, not speed: the prefix helpers read
    # this frame from two branches and match rows on _pid, and
    # RangePartitioner bounds come from a sample seeded by the runtime
    # RDD id, so two independent executions of the same range exchange
    # can place border rows in different partitions (see the module
    # docstring). The persist pins ONE materialization — the
    # InMemoryScan's partitioning is the cached RDD's, its exchange
    # partitioner is a memoized lazy val, so even cache-evicted
    # partitions recompute against the SAME bounds. Tracked, so the
    # next registry build releases it.
    from ..cache import track

    return track(
        df.repartitionByRange(_n_shuffle(df), *order).withColumn(
            "_pid", F.spark_partition_id()
        )
    )


def _w_prev():
    # Cumulative window over the per-partition stats frame.
    # Unpartitioned on purpose: the frame has one row per shuffle
    # partition (~32-1000), so the single-task window is
    # O(partitions), never O(rows). Built lazily — WindowSpec
    # construction needs an active SparkContext.
    return Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)


def row_index(
    df: DataFrame,
    order: Sequence[Column | str],
    out: str = "_rn",
    start: int = 0,
) -> DataFrame:
    """Attach a dense global row index over *order*: ``start`` on the
    first row, ``start + 1`` on the next, and so on (``start=1`` is
    ``row_number()``).

    *order* must be a total order (include a unique tie-break column).
    Lazy: one plan, no driver action. The plan is a global sort and
    ``AttachDistributedSequence``, which persists its sorted child for
    the execution it serves, counts each partition in one job, numbers
    rows from those counts and unpersists the child afterwards.

    A caller that reads the result from two branches plans two
    sequence nodes. With a total order both give the same index, but
    the upstream runs twice, so such a caller should ``track()`` the
    result.
    """
    seq = InternalFunction.distributed_sequence_id() + F.lit(start)
    return df.orderBy(*_as_columns(order)).withColumn(out, seq)


#: Runtime ceiling for :func:`with_bounded_rank` frames. "Bounded"
#: callers are O(days)/O(top-k)/O(years) relations — thousands of rows;
#: the ceiling is set orders of magnitude above any legitimate caller
#: yet far below corpus size, so a miswired corpus-sized input fails
#: LOUDLY instead of silently serializing the job into one task.
BOUNDED_RANK_MAX_ROWS = 10_000_000


def with_bounded_rank(
    df: DataFrame,
    order: Sequence[Column | str],
    out: str = "i",
    pin: bool = True,
    max_rows: int = BOUNDED_RANK_MAX_ROWS,
) -> DataFrame:
    """Attach a 1-based global ``row_number()`` over *order* for a
    K-BOUNDED frame — a relation whose row count is bounded by
    construction at ANY corpus size (a top-k arm, per-day / per-year
    aggregates over a fixed time domain), never corpus-sized.

    *order* must be a total order (unique tie-break), the same
    contract as :func:`row_index`. The plan is one explicit
    single-partition exchange + in-partition sort; the rank is read
    from ``monotonically_increasing_id``'s documented layout
    (partition 0 → the id IS the 0-based row number in sort order).
    Compared to :func:`row_index` this drops the range-sampling pass
    and the per-partition count job, and NO persist is needed for
    correctness: two independent executions (e.g. a downstream
    self-join) sort the same total order into the same single
    partition and read identical ranks. ``pin=True`` (default) still
    persists the tiny ranked frame — for SCAN COUNT, not determinism:
    a caller that reads the result from several branches (lag joins,
    fan-outs) would otherwise re-execute the corpus-sized UPSTREAM
    once per branch whenever best-effort exchange reuse fails.
    Single-consumer callers pass ``pin=False`` to skip the
    materialization job.

    The single task holds the whole frame: callers MUST guarantee
    boundedness. The rank-free audit in SCALE.md tracks which callers
    are in this class; an unbounded input belongs on
    :func:`row_index`. Boundedness is ALSO enforced at runtime: the
    rank expression carries an ``assert_true(rank ≤ max_rows)`` — a
    per-row comparison on an already-tiny frame, zero extra jobs — so
    a miswired corpus-sized caller fails loudly at ``max_rows`` + 1
    instead of silently serializing in one task. The assert is woven
    INTO the rank column (not a droppable side column) so column
    pruning can never elide it.
    """
    from ..cache import track

    order = _as_columns(order)
    ranked = (
        df.repartition(1)
        .sortWithinPartitions(*order)
        .withColumn(out, F.monotonically_increasing_id() + F.lit(1))
    )
    # Separate projection on the MATERIALIZED rank column: the
    # nondeterministic mono-id stays single-evaluation (CollapseProject
    # keeps a twice-referenced nondeterministic projection split), and
    # the guard rides the rank value itself.
    ranked = ranked.withColumn(
        out,
        F.when(
            F.assert_true(
                F.col(out) <= F.lit(int(max_rows)),
                F.lit(
                    "with_bounded_rank: frame exceeded the bounded-"
                    f"caller ceiling of {int(max_rows)} rows — this "
                    "helper serializes its frame into ONE task and is "
                    "only for provably bounded relations (top-k arms, "
                    "fixed time domains); use row_index for "
                    "corpus-sized inputs"
                ),
            ).isNull(),
            F.col(out),
        ),
    )
    return track(ranked) if pin else ranked


def with_global_prefix_sum(
    df: DataFrame,
    order: Sequence[Column | str],
    value_col: str,
    out: str = "cum",
) -> DataFrame:
    """Attach the running ``sum(value_col) ROWS UNBOUNDED PRECEDING``
    over the global *order*, distributed.

    Only exact value types are accepted (DECIMAL / integer): the
    partition-wise regrouping of a float sum would not be bit-equal to
    the single-partition window.
    """
    vt = df.schema[value_col].dataType
    if not isinstance(vt, (DecimalType, LongType, IntegerType, ShortType, ByteType)):
        raise TypeError(
            f"with_global_prefix_sum needs an exact value type, got {vt}; "
            "cast to DECIMAL first (float addition is not associative)"
        )
    order = _as_columns(order)
    part = _range_partitioned(df, order)
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = part.withColumn("_lcum", F.sum(value_col).over(w))
    sum_type = local.schema["_lcum"].dataType  # sum() widens decimals
    # Per-partition totals -> exclusive running sum = each partition's
    # offset. Exact types only (checked above), so the regrouped
    # addition is associative and bit-equal to the serial sum. Totals
    # come from the same _pid frame (shared exchange), no sort needed.
    offsets = (
        part.groupBy("_pid")
        .agg(F.sum(value_col).alias("_t"))
        .select(
            "_pid",
            F.coalesce(
                F.sum("_t").over(_w_prev()), F.lit(0).cast(sum_type)
            )
            .cast(sum_type)
            .alias("_off"),
        )
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out, (F.col("_lcum") + F.col("_off")).cast(sum_type))
        .drop("_pid", "_lcum", "_off")
    )


def ntile_from_rank(rank: Column, n_rows: Column, tiles: int) -> Column:
    """SQL ``ntile(tiles)`` from a 1-based global rank + total row count,
    in pure integer arithmetic (no division — exact beyond 2^53).

    ntile semantics: the first ``n_rows mod tiles`` buckets get
    ``floor(n/tiles)+1`` rows, the rest ``floor(n/tiles)``; bucket k's
    upper boundary is ``k*base + min(k, rem)``.
    """
    if tiles < 1:
        raise ValueError(f"ntile requires tiles >= 1, got {tiles}")
    if tiles & (tiles - 1) == 0:
        shift = tiles.bit_length() - 1
        base = F.shiftright(n_rows, shift)  # exact n DIV tiles
    else:
        # Exact n DIV tiles without float: subtract the remainder, then
        # divide in DECIMAL (exact when the numerator is divisible) —
        # a '/' double divide rounds above 2^53 and would silently
        # shift every bucket boundary.
        exact_num = (n_rows - F.pmod(n_rows, F.lit(tiles))).cast("decimal(38,0)")
        base = (exact_num / F.lit(tiles)).cast("long")
    rem = n_rows - base * tiles
    expr = F.lit(tiles)
    for k in range(tiles - 1, 0, -1):
        boundary = F.lit(k) * base + F.least(F.lit(k), rem)
        expr = F.when(rank <= boundary, F.lit(k)).otherwise(expr)
    return expr


def with_global_prefix_max(
    df: DataFrame,
    order: Sequence[Column | str],
    value_col: str,
    out: str = "runmax",
    exclusive: bool = False,
) -> DataFrame:
    """Attach the running ``max(value_col)`` over the global *order*,
    distributed (range-partition + local window + broadcast offsets —
    the same shape as ``with_global_prefix_sum``). Unlike the sum, max
    is order-insensitive and exact for every comparable type, so there
    is no exact-type restriction.

    ``exclusive=True`` computes the max over strictly-PRECEDING rows
    (NULL for the global first row) — the dominance test a skyline
    operator needs.

    *order* must be a TOTAL order (same contract as
    ``row_index``): with ties, which tied row "precedes" the
    other is partition-sort luck, so exclusive results on tied keys
    vary run to run. ``skyline_2d`` satisfies this by pre-aggregating
    to one row per key; other callers must add a tie-break column.
    """
    order = _as_columns(order)
    part = _range_partitioned(df, order)
    end = -1 if exclusive else 0
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    local = part.withColumn("_lmax", F.max(value_col).over(w))
    # Offset for partition p = max over all partitions < p (NULL at the
    # global head). max() skips NULLs in both the agg and the window,
    # matching the driver-side acc=None semantics this replaces.
    offsets = (
        part.groupBy("_pid")
        .agg(F.max(value_col).alias("_t"))
        .select("_pid", F.max("_t").over(_w_prev()).alias("_off"))
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        # greatest() skips NULLs: first-row-of-partition exclusive max
        # falls back to the previous partitions' offset (or NULL at the
        # global head).
        .withColumn(out, F.greatest(F.col("_lmax"), F.col("_off")))
        .drop("_pid", "_lmax", "_off")
    )
