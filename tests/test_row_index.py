"""The distributed row index (``operators/windows.py::row_index``) is the
one positional primitive: a global sort plus Spark's internal
``distributed_sequence_id``. Positional merges, generated keys, FK key
maps and every global rank ride on it, so these tests pin the primitive
itself: a Spark upgrade that drops or re-plans it must fail here."""

from __future__ import annotations

import re

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from tensei_agent_spark.operators.joins import row_aligned_merge
from tensei_agent_spark.operators.windows import row_index
from tensei_agent_spark.plans import (
    ColumnRef,
    Field,
    Mapping,
    Pipeline,
    Recipe,
    SourceSpec,
    TargetSpec,
    run_pipeline,
)

# A positional-merge write (two indexed sides, one join) ran 8 Spark
# jobs when the row index moved onto the distributed sequence; the
# range-partition + broadcast-offsets index it replaced ran 16.
MERGE_WRITE_JOBS = 8

GLOBAL_SORT = re.compile(r"\+- Sort \[.*\], true, \d+$")
PROJECT = re.compile(r"\+- Project \[")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_sequences(plan: str, n: int) -> None:
    """Exactly *n* AttachDistributedSequence nodes, each over a global
    Sort with at most column-pruning Projects between them (the node
    numbers rows in its child's partition order, so only a global sort
    beneath it makes that the requested order)."""
    lines = plan.splitlines()
    nodes = [i for i, ln in enumerate(lines) if "AttachDistributedSequence" in ln]
    assert len(nodes) == n, plan
    for i in nodes:
        below = i + 1
        while PROJECT.search(lines[below]):
            below += 1
        assert GLOBAL_SORT.search(lines[below].rstrip()), (
            f"no global Sort beneath {lines[i].strip()}:\n{plan}"
        )


def _pipeline_frames(spark):
    # ids descend so no source arrives already sorted (a Range sorted on
    # the index order lets Spark drop the Sort as redundant)
    ids = spark.range(500).select((F.lit(500) - F.col("id")).alias("id"))
    persons = ids.select("id", F.concat(F.lit("p"), F.col("id").cast("string")).alias("name"))
    tags = spark.range(300).select((F.col("id") % 17).alias("tag"), F.col("id").alias("n"))
    salaries = ids.select("id", (F.col("id") * 10).cast("decimal(10,2)").alias("salary"))
    return {"persons": persons, "tags": tags, "salaries": salaries}


def test_distributed_sequence_id_is_available(spark):
    from pyspark.sql.internal import InternalFunction

    assert isinstance(InternalFunction.distributed_sequence_id(), Column)


def test_row_aligned_merge_plans_one_sorted_sequence_per_side(spark):
    left = spark.range(1000).select((F.col("id") % 7).alias("k"), F.col("id").alias("u"))
    right = spark.range(600).select((F.col("id") % 3).alias("k2"), F.col("id").alias("u2"))
    _assert_sequences(_plan(row_aligned_merge(left, right, ["k", "u"], ["k2", "u2"])), 2)

    # the executor's positional recipe (combine_sources) plans the same
    p = Pipeline(
        name="zip",
        sources=(
            SourceSpec("persons", "csv", "unused", (Field("id", "long"), Field("name"))),
            SourceSpec("tags", "csv", "unused", (Field("tag", "long"), Field("n", "long"))),
        ),
        targets=(TargetSpec("out", "csv", "unused"),),
        recipes=(
            Recipe(
                "zip", "out",
                order_by={"persons": ["id"], "tags": ["tag", "n"]},
                mappings=(
                    Mapping((ColumnRef("persons", "name"),), ("name",)),
                    Mapping((ColumnRef("tags", "tag"),), ("tag",)),
                ),
            ),
        ),
    )
    out = run_pipeline(spark, p, source_frames=_pipeline_frames(spark), write=False)
    _assert_sequences(_plan(out["zip"]), 2)
    assert out["zip"].count() == 300


def test_fk_remap_key_map_plans_one_sorted_sequence(spark):
    p = Pipeline(
        name="fk",
        sources=(
            SourceSpec("persons", "csv", "unused", (Field("id", "long"), Field("name"))),
            SourceSpec(
                "salaries", "csv", "unused",
                (Field("id", "long"), Field("salary", "decimal(10,2)")),
            ),
        ),
        targets=(
            TargetSpec(
                "people", "parquet", "unused",
                fields=(Field("pk", "long", auto_increment=True), Field("id", "long")),
                options={"natural_key": "id", "auto_increment_start": 1000},
            ),
            TargetSpec(
                "salaries_out", "parquet", "unused",
                fields=(Field("person_fk", "long"), Field("salary", "decimal(10,2)")),
                foreign_keys={"person_fk": ("people", "pk")},
            ),
        ),
        recipes=(
            Recipe("write_people", "people", mappings=(
                Mapping((ColumnRef("persons", "id"),), ("id",)),
            )),
            Recipe("write_salaries", "salaries_out", mappings=(
                Mapping(
                    (ColumnRef("salaries", "id"), ColumnRef("salaries", "salary")),
                    ("person_fk", "salary"),
                ),
            )),
        ),
    )
    out = run_pipeline(spark, p, source_frames=_pipeline_frames(spark), write=False)
    _assert_sequences(_plan(out["write_people"]), 1)
    _assert_sequences(_plan(out["write_salaries"]), 1)
    fks = sorted(r["person_fk"] for r in out["write_salaries"].collect())
    assert fks == list(range(1000, 1500))


def test_row_index_dense_and_ordered_under_ties_and_desc(spark):
    # 20k rows over 5 values: every range bound falls inside a tie run
    df = (
        spark.range(20_000)
        .select(F.col("id"), (F.col("id") % 5).alias("v"))
        .repartition(7)
    )
    order = [F.desc("v"), F.col("id")]
    got = row_index(df, order, "i", start=1).select("id", "i")
    want = df.select("id", F.row_number().over(Window.orderBy(*order)).alias("i"))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0

    idx = sorted(r["i"] for r in row_index(df, ["v", "id"], "i").select("i").collect())
    assert idx == list(range(20_000))


def test_positional_merge_write_job_count(spark):
    """The write of a positional merge stays at or below the job count
    measured when the index moved onto the distributed sequence, and
    leaves no persisted RDD behind (the sequence node unpersists the
    child it cached)."""
    sc = spark.sparkContext
    left = spark.range(5000).select((F.col("id") % 7).alias("k"), F.col("id").alias("u"))
    right = spark.range(3000).select((F.col("id") % 5).alias("k2"), F.col("id").alias("u2"))
    merged = row_aligned_merge(left.repartition(4), right.repartition(3), ["k", "u"], ["k2", "u2"])
    before = set(sc._jsc.getPersistentRDDs().keys())
    sc.setJobGroup("row-index-merge-write", "positional merge write")
    try:
        merged.write.format("noop").mode("overwrite").save()
    finally:
        sc.setJobGroup(None, None)  # type: ignore[arg-type]
    jobs = sc.statusTracker().getJobIdsForGroup("row-index-merge-write")
    assert len(jobs) <= MERGE_WRITE_JOBS, f"{len(jobs)} jobs"
    assert set(sc._jsc.getPersistentRDDs().keys()) <= before
