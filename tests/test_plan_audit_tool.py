"""The plan-audit detector (tools/plan_audit.py) is itself logic worth
pinning: a false negative silently voids the 'no global windows
anywhere' claim in SCALE.md. Pure string-level tests — no Spark."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(__file__), os.pardir, "tools")
)

from plan_audit import _top_level_args, global_windows  # noqa: E402

FRAME = "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())"


def test_partitioned_window_is_clean():
    line = f"Window [rank() windowspecdefinition(uid#1L, ts#2 ASC NULLS FIRST, {FRAME})]"
    assert global_windows(line) == []


def test_global_window_detected():
    line = f"Window [rank() windowspecdefinition(ts#2 ASC NULLS FIRST, {FRAME})]"
    assert len(global_windows(line)) == 1


def test_second_spec_on_line_not_masked():
    line = (
        f"Window [sum(x#9L) windowspecdefinition(uid#1L, ts#2 ASC NULLS FIRST, {FRAME}), "
        f"rank() windowspecdefinition(ts#2 ASC NULLS FIRST, {FRAME})]"
    )
    assert len(global_windows(line)) == 1


def test_comma_bearing_order_expression_classifies():
    # partitioned: CASE order key with internal commas must not split
    part = (
        "Window [rank() windowspecdefinition(uid#1L, "
        f"CASE WHEN in(a#3, b#4) THEN 1 END ASC NULLS FIRST, {FRAME})]"
    )
    assert global_windows(part) == []
    # global: same comma-bearing key with no partition column
    glob = (
        "Window [rank() windowspecdefinition("
        f"CASE WHEN in(a#3, b#4) THEN 1 END ASC NULLS FIRST, {FRAME})]"
    )
    assert len(global_windows(glob)) == 1


def test_partition_only_spec_is_clean():
    line = f"Window [count(1) windowspecdefinition(uid#1L, {FRAME})]"
    assert global_windows(line) == []


def test_top_level_args_respects_nesting():
    assert _top_level_args("a#1, f(b#2, c#3) ASC NULLS LAST, d#4") == [
        "a#1",
        "f(b#2, c#3) ASC NULLS LAST",
        "d#4",
    ]


# --- bounded offsets-window exemption (VERDICT r8: the groupBy(_pid)
# cumulative-offset helper is O(shuffle partitions) rows, not O(rows);
# the audit must exempt exactly that shape and nothing else) -----------

OFFSETS_GREEN = """\
+- Project [_pid#5, coalesce(_we0#13L, 0) AS _off#11L]
   +- Window [sum(_n#6L) windowspecdefinition(_pid#5 ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), -1)) AS _we0#13L], [_pid#5 ASC NULLS FIRST]
      +- Sort [_pid#5 ASC NULLS FIRST], false, 0
         +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=66]
            +- HashAggregate(keys=[_pid#5], functions=[count(1)], output=[_pid#5, _n#6L])
               +- Project [SPARK_PARTITION_ID() AS _pid#5]
                  +- Range (0, 1000, step=1, splits=32)
"""


def test_offsets_window_over_pid_aggregate_is_exempt():
    assert global_windows(OFFSETS_GREEN) == []


def test_pid_window_without_pid_aggregate_child_still_flags():
    # same window line, but the child is a raw scan — an unbounded
    # O(rows) single-task window that merely NAMES its column _pid
    red = """\
+- Window [sum(_n#6L) windowspecdefinition(_pid#5 ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), -1)) AS _we0#13L], [_pid#5 ASC NULLS FIRST]
   +- Project [x#1L AS _pid#5]
      +- Range (0, 1000, step=1, splits=32)
"""
    assert len(global_windows(red)) == 1


def test_pid_aggregate_outside_subtree_does_not_exempt():
    # the HashAggregate(keys=[_pid]) sits in a SIBLING branch (indent
    # returns to the window's level first) — must still flag
    red = """\
:- Window [sum(_n#6L) windowspecdefinition(_pid#5 ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), -1)) AS _we0#13L], [_pid#5 ASC NULLS FIRST]
:  +- Range (0, 1000, step=1, splits=32)
+- HashAggregate(keys=[_pid#9], functions=[count(1)])
   +- Range (0, 1000, step=1, splits=32)
"""
    assert len(global_windows(red)) == 1


def test_mixed_specs_on_offsets_line_still_flag():
    # a second, genuinely global spec on the same Window line must not
    # ride the _pid exemption
    red = """\
+- Window [sum(_n#6L) windowspecdefinition(_pid#5 ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), -1)) AS _we0#13L, rank() windowspecdefinition(ts#2 ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS r#14], [_pid#5 ASC NULLS FIRST]
   +- HashAggregate(keys=[_pid#5], functions=[count(1)], output=[_pid#5, _n#6L])
"""
    assert len(global_windows(red)) == 1


# --- r9 rank-corruption class: unpinned range exchange under a _pid
# join (VERDICT r9 #3). The two _pid branches of the rank/offset
# helpers MUST read one persisted materialization of the range
# exchange; two independent exchanges sample different bounds and
# corrupt the positional match. -----------------------------------------


def _broken_global_rank(df, order_col):
    """The removed offsets-based global rank WITHOUT its persist — both
    _pid branches plan their own range exchange."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    shuffled = df.repartitionByRange(32, F.col(order_col))  # NOT persisted
    local = (
        shuffled.sortWithinPartitions(order_col)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftright("_mid", 33).cast("int"))
        .withColumn(
            "_lrn", F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1)) + F.lit(1)
        )
    )
    w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        shuffled.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            "_pid",
            F.coalesce(F.sum("_n").over(w), F.lit(0).cast("long")).alias("_off"),
        )
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn("i", F.col("_lrn") + F.col("_off"))
        .drop("_pid", "_mid", "_lrn", "_off")
    )


def test_unpinned_pid_range_join_flags(spark):
    """The detector must catch the pre-92cf5aa tree's real plan shape."""
    from plan_audit import pid_join_unpinned_range

    df = spark.range(1000).withColumnRenamed("id", "v")
    plan = (
        _broken_global_rank(df, "v")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert len(pid_join_unpinned_range(plan)) >= 1
    spark.catalog.clearCache()


def test_persisted_rank_helper_is_clean(spark):
    """The shipped positional helpers must NOT flag: the row index
    (distributed sequence, no _pid join at all) and the prefix sum,
    whose _pid branches read one persisted range frame."""
    from plan_audit import pid_join_unpinned_range

    from tensei_agent_spark.cache import release_all
    from tensei_agent_spark.operators.windows import (
        row_index,
        with_global_prefix_sum,
    )

    df = spark.range(1000).withColumnRenamed("id", "v")
    for built in (row_index(df, ["v"]), with_global_prefix_sum(df, ["v"], "v")):
        plan = built._jdf.queryExecution().executedPlan().toString()
        assert pid_join_unpinned_range(plan) == []
    release_all()


def test_pid_range_exchange_outside_join_subtree_not_flagged():
    """A raw range exchange in a SIBLING branch (e.g. a sorted-output
    sink) must not trip the _pid rule — only exchanges under the _pid
    join's own subtree are the corruption signature."""
    from plan_audit import pid_join_unpinned_range

    plan = """\
+- Union
   :- BroadcastHashJoin [_pid#5], [_pid#9], Inner, BuildRight, false
   :  :- InMemoryTableScan [_pid#5, x#1L]
   :  :        +- InMemoryRelation [_pid#5, x#1L], StorageLevel(disk, memory)
   :  :              +- Exchange rangepartitioning(x#1L ASC NULLS FIRST, 32), REPARTITION_BY_NUM
   :  :                 +- Range (0, 1000, step=1, splits=32)
   :  +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, int, false]))
   :     +- InMemoryTableScan [_pid#9, _off#11L]
   :           +- InMemoryRelation [_pid#9, _off#11L], StorageLevel(disk, memory)
   :                 +- Exchange rangepartitioning(x#1L ASC NULLS FIRST, 32), REPARTITION_BY_NUM
   :                    +- Range (0, 1000, step=1, splits=32)
   +- Exchange rangepartitioning(y#2L ASC NULLS FIRST, 32), REPARTITION_BY_NUM
      +- Range (0, 1000, step=1, splits=32)
"""
    assert pid_join_unpinned_range(plan) == []


# --- build-time double-action detector (VERDICT r7 #8 / r8 #6) --------


def test_planted_double_collect_flags(spark):
    """A build that collects a shuffled intermediate (the r8
    rank-helper bug shape) must report its non-metadata jobs."""
    from pyspark.sql import functions as F

    from plan_audit import audit_query

    def bad_build(spark, sf):
        agg = (
            spark.range(10_000)
            .groupBy((F.col("id") % 7).alias("k"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        offsets = agg.collect()  # driver-side action over a shuffle
        return spark.createDataFrame(offsets, agg.schema)

    r = audit_query(spark, "planted-double-collect", bad_build, "unused")
    assert r["build_jobs"] >= 1


def test_lazy_build_reports_zero_jobs(spark):
    """A pure-plan build (scan + parquet schema probe only) must report
    zero non-metadata jobs — the footer read is exempt."""
    from tensei_agent_spark.catalog import load
    from plan_audit import audit_query

    def good_build(spark, sf):
        return load(spark, sf, "region").select("r_name")

    r = audit_query(
        spark, "planted-lazy", good_build, "/root/testdata/sf0.001"
    )
    assert r["build_jobs"] == 0
    assert r["global_windows"] == []
    assert not r["cartesian"]


def test_single_partition_bounded_repartition_is_exempt():
    from plan_audit import single_partition_collapses

    plan = (
        "Exchange SinglePartition, REPARTITION_BY_NUM, [plan_id=1]\n"
        "+- HashAggregate(keys=[day#1], functions=[count(1)])\n"
        "   +- Exchange hashpartitioning(day#1, 32), ENSURE_REQUIREMENTS\n"
    )
    assert single_partition_collapses(plan) == []


def test_single_partition_raw_repartition_flags():
    """Code review r11: the exemption must NOT cover a repartition(1)
    whose subtree shows no aggregate/limit — that is the raw-data
    funnel the rule exists to catch, explicit or not."""
    from plan_audit import single_partition_collapses

    plan = (
        "Exchange SinglePartition, REPARTITION_BY_NUM, [plan_id=1]\n"
        "+- Project [doc_id#1L, text#2]\n"
        "   +- FileScan parquet [doc_id#1L,text#2]\n"
    )
    assert len(single_partition_collapses(plan)) == 1


def test_single_partition_planner_collapse_flags():
    from plan_audit import single_partition_collapses

    plan = (
        "Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]\n"
        "+- HashAggregate(keys=[day#1], functions=[count(1)])\n"
    )
    assert len(single_partition_collapses(plan)) == 1


def test_single_partition_pid_offsets_is_exempt():
    from plan_audit import single_partition_collapses

    plan = (
        "Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]\n"
        "+- HashAggregate(keys=[_pid#9], functions=[count(1)])\n"
    )
    assert single_partition_collapses(plan) == []


def test_single_partition_takeordered_subtree_is_exempt():
    from plan_audit import single_partition_collapses

    plan = (
        "Exchange SinglePartition, REPARTITION_BY_NUM, [plan_id=1]\n"
        "+- TakeOrderedAndProject(limit=20, orderBy=[bm25#3 DESC])\n"
        "   +- Project [doc_id#1L, bm25#3]\n"
    )
    assert single_partition_collapses(plan) == []


def test_single_partition_scalar_sortaggregate_is_exempt():
    """Spark renders SortAggregate with the SINGULAR 'key=[' — the
    scalar string max/min shape must not false-flag (code review r11,
    confirmed on Spark 4.1.2)."""
    from plan_audit import single_partition_collapses

    plan = (
        "Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]\n"
        "+- SortAggregate(key=[], functions=[partial_max(text#2)])\n"
        "   +- FileScan parquet [text#2]\n"
    )
    assert single_partition_collapses(plan) == []
