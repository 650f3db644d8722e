from __future__ import annotations

import pytest

from tensei_agent_spark.operators.expectations import check_contract


def test_contract_counts_each_rule(spark):
    df = spark.createDataFrame(
        [
            (1, "A", 10.0),
            (2, "B", -5.0),     # range violation
            (2, "zz", 50.0),    # dup key + set violation
            (None, "A", None),  # null key; null value passes range
        ],
        "k long, cat string, v double",
    )
    rules = [
        {"column": "k", "check": "not_null"},
        {"column": "k", "check": "unique"},
        {"column": "v", "check": "range", "min": 0, "max": 100},
        {"column": "cat", "check": "in_set", "values": ["A", "B"]},
        {"column": "cat", "check": "regex", "pattern": "^[A-Zz]+$"},
        {"check": "expression", "sql": "k IS NULL OR k < 100"},
    ]
    got = {r["rule_id"]: r for r in check_contract(df, rules).collect()}
    assert got[0]["n_violations"] == 1          # one NULL key
    assert got[1]["n_violations"] == 1          # one duplicated key row
    assert got[2]["n_violations"] == 1          # -5.0 (NULL passes)
    assert got[3]["n_violations"] == 1          # 'zz'
    assert got[4]["n_violations"] == 0          # all match the regex
    assert got[5]["n_violations"] == 0
    assert all(r["n_rows"] == 4 for r in got.values())
    assert got[4]["passed"] == 1 and got[0]["passed"] == 0


def test_contract_rejects_unknown_check(spark):
    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="unknown check"):
        check_contract(df, [{"column": "k", "check": "positive"}]).collect()


def test_expression_rule_counts_null_predicates(spark):
    df = spark.createDataFrame(
        [(1.0,), (None,), (-2.0,)], "amount double"
    )
    got = check_contract(
        df, [{"check": "expression", "sql": "amount > 0"}]
    ).collect()[0]
    # NULL predicate = violation, not a silent pass.
    assert got["n_violations"] == 2 and got["passed"] == 0
