"""Declarative data contracts: Great-Expectations-style rule suites
compiled to ONE aggregate pass.

The reference validates pipelines structurally (SyntaxValidator /
AccessValidator / checksum preflight — see preflight.py); this module
adds the DATA-side contract an ingestion run checks before publishing:
nullability, uniqueness, ranges, regex shape, reference sets, and
arbitrary SQL predicates, each reported as an exact violation count.

Design: every row-level rule compiles to a conditional-sum Column, so
N rules cost ONE partial-aggregated scan (not N passes); uniqueness
rules fold in as count − count(distinct) on the same pass. The report
is engine-portable integers → bit-exact against any SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _violation(rule: dict) -> Column:
    """Boolean Column that is TRUE when a row VIOLATES the rule.
    NULL semantics: range/regex/in_set rules treat NULL as a pass —
    pair them with an explicit not_null rule (the Great Expectations
    convention, which keeps each rule's count independently
    meaningful)."""
    kind = rule["check"]
    col = F.col(rule["column"]) if "column" in rule else None
    if kind == "not_null":
        return col.isNull()
    if kind == "range":
        lo, hi = rule.get("min"), rule.get("max")
        v = F.lit(False)
        if lo is not None:
            v = v | (col < F.lit(lo))
        if hi is not None:
            v = v | (col > F.lit(hi))
        return col.isNotNull() & v
    if kind == "regex":
        return col.isNotNull() & ~col.rlike(rule["pattern"])
    if kind == "in_set":
        return col.isNotNull() & ~col.isin(*rule["values"])
    if kind == "expression":
        # Rule passes only when the SQL predicate HOLDS: a NULL
        # predicate (e.g. a comparison on a NULL column) is a
        # violation, not a silent pass — otherwise ~NULL = NULL would
        # drop the row from the sum and weaken the publish gate.
        return ~F.coalesce(F.expr(rule["sql"]), F.lit(False))
    raise ValueError(f"unknown check {kind!r}")


def check_contract(df: DataFrame, rules: list[dict]) -> DataFrame:
    """Run a rule suite; returns one row per rule:
    (rule_id, column, check, n_violations, n_rows, passed[int]).

    Row-level rules share a single aggregate scan; each ``unique``
    rule adds a distinct-count on the same pass (Spark plans multiple
    distinct aggregates with one scan via expand). ``passed`` is an
    exact integer comparison — no float thresholds.
    """
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, rule in enumerate(rules):
        if rule["check"] == "unique":
            aggs.append(
                (
                    F.count(F.col(rule["column"]))
                    - F.countDistinct(F.col(rule["column"]))
                )
                .cast("bigint")
                .alias(f"_v{i}")
            )
        else:
            aggs.append(
                F.sum(_violation(rule).cast("long"))
                .cast("bigint")
                .alias(f"_v{i}")
            )
    wide = df.agg(*aggs)
    spark = df.sparkSession
    meta = spark.createDataFrame(
        [
            (
                i,
                rule.get("column", ""),
                rule["check"],
            )
            for i, rule in enumerate(rules)
        ],
        "rule_id int, column string, check string",
    )
    long_rows = None
    for i in range(len(rules)):
        part = wide.select(
            F.lit(i).alias("rule_id"),
            F.col(f"_v{i}").alias("n_violations"),
            F.col("_n").cast("bigint").alias("n_rows"),
        )
        long_rows = part if long_rows is None else long_rows.unionByName(part)
    assert long_rows is not None
    return (
        long_rows.join(F.broadcast(meta), "rule_id")
        .select(
            "rule_id",
            "column",
            "check",
            "n_violations",
            "n_rows",
            (F.col("n_violations") == 0).cast("int").alias("passed"),
        )
    )
