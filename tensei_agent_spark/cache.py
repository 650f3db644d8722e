"""Session-scoped tracking of persisted DataFrames.

Operators that persist() large intermediates (edge lists, shingle sets,
fingerprint tables) register the handle here instead of calling
``.persist()`` directly. A long-lived session sweeping many queries
(the driver's correctness run, ``bench.py``) would otherwise accumulate
cached blocks indefinitely; ``release_all()`` drops every tracked cache
and is invoked automatically each time a new registry query is built,
bounding live caches to at most one query's working set.

**Correctness-persists and early release**: the prefix-sum and
prefix-max helpers (``operators/windows.py``) persist their
range-partitioned frame as a CORRECTNESS requirement — two independent
executions of one range exchange can sample different partition bounds
and desynchronize the ``_pid`` positional match. Releasing that persist
between build and execute does NOT reintroduce the corruption:
``unpersist()`` only drops cache entries/blocks, it never rewrites
plans that were already built, so an executed plan still reads BOTH
branches through the one ``InMemoryRelation`` node substituted at build
time — a single cached RDD lineage whose range partitioner is
instantiated once, which pins one set of bounds even when every block
has to be recomputed (empirically pinned by
``test_windows_ops.py::test_rank_survives_release_before_execute``:
prefix sums stay exact after ``release_all()`` strips the persist
pre-execution). What the persist guards against is its *absence from
the plan* (two independent exchange nodes, a plan-audit rule); early
release merely forfeits block reuse and recomputes. The row index
(``row_index``) needs no such persist: its ``AttachDistributedSequence``
node persists its own child for the one execution it serves.

**Build-then-collect contract**: the registry's sweep/bench access
pattern is build query → execute it → build the next. Interleaving
(build A, build B, then execute A) stays CORRECT — including for the
prefix helpers, per the paragraph above — but recomputes A's persisted
intermediates, because building B released A's caches. The tracked
list is also not thread-safe: concurrent builds in one session should
each hold their own handles (call ``persist()`` directly) rather than
share this module-global registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) and register it for release."""
    df.persist()
    _TRACKED.append(df)
    return df


def release_all() -> None:
    """Unpersist every tracked DataFrame (idempotent, exception-safe)."""
    while _TRACKED:
        try:
            _TRACKED.pop().unpersist()
        except Exception:
            pass
