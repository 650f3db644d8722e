"""Probabilistic record linkage (operators/linkage.py).

Covers the Fellegi–Sunter pipeline: blocking (equi-joins only, one row
per unordered pair), agreement bits (NULL = disagreement), EM parameter
recovery on a planted mixture, determinism, and literal-weight scoring.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from tensei_agent_spark.operators.linkage import (
    Comparator,
    agreement_vectors,
    blocked_pairs,
    em_fellegi_sunter,
    exact,
    levenshtein_within,
    match_weights,
    numeric_within,
    pattern_counts,
    score_pairs,
)

SF_SMALL = "/root/testdata/sf0.001"


def _people(spark):
    rows = [
        (1, "ann", "x", 10.0),
        (2, "ann", "x", 12.0),   # near-dup of 1 (same block, close bal)
        (3, "bob", "x", 500.0),
        (4, "bob", "y", 501.0),  # blocks with 3 via name, 6 via city
        (5, "eve", "z", 7.0),
        (6, "zed", "y", 900.0),
    ]
    return spark.createDataFrame(rows, "id int, name string, city string, bal double")


def test_blocked_pairs_oriented_unique(spark):
    df = _people(spark)
    pairs = blocked_pairs(
        df, None, ["name", "city"], id_col="id", compare_cols=["name", "bal"]
    ).collect()
    ids = [(r["id_a"], r["id_b"]) for r in pairs]
    # oriented, unique — (1,2) agrees on BOTH blockers yet appears once
    assert all(a < b for a, b in ids)
    assert len(ids) == len(set(ids))
    assert set(ids) == {(1, 2), (3, 4), (1, 3), (2, 3), (4, 6)}
    # comparison columns ride along
    r12 = next(r for r in pairs if (r["id_a"], r["id_b"]) == (1, 2))
    assert (r12["name_a"], r12["name_b"]) == ("ann", "ann")


def test_blocked_pairs_two_sources_keeps_all_orientations(spark):
    a = _people(spark).filter(F.col("id") <= 3)
    b = _people(spark).filter(F.col("id") >= 3)
    pairs = blocked_pairs(
        a, b, ["name"], id_col="id", compare_cols=["bal"]
    ).collect()
    # cross-source linkage has no id_a<id_b cut: (3,3) self-pair stays
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(3, 3), (3, 4)}


def test_blocked_pairs_plan_is_equi_join_no_cartesian(spark):
    df = _people(spark)
    plan = (
        blocked_pairs(df, None, ["name", "city"], "id", ["bal"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_agreement_null_counts_as_disagreement(spark):
    rows = [(1, None, 2, "x")]
    pairs = spark.createDataFrame(
        rows, "id_a int, name_a string, id_b int, name_b string"
    )
    got = agreement_vectors(pairs, [exact("name")]).collect()[0]
    assert got["g_name"] == 0


def test_comparator_builders(spark):
    pairs = spark.createDataFrame(
        [(1, "kitten", 2, "sitten", 10.0, 10.5)],
        "id_a int, s_a string, id_b int, s_b string, v_a double, v_b double",
    )
    got = agreement_vectors(
        pairs,
        [
            levenshtein_within("s", 1),
            numeric_within("v", 1.0),
        ],
    ).collect()[0]
    assert got["g_s"] == 1 and got["g_v"] == 1
    got2 = agreement_vectors(
        pairs, [levenshtein_within("s", 0), numeric_within("v", 0.1)]
    ).collect()[0]
    assert got2["g_s"] == 0 and got2["g_v"] == 0


def _planted_counts(m, u, p, n=1_000_000):
    """Exact expected pattern counts for a planted two-class mixture —
    EM on these must recover (m, u, p) (they are a fixed point)."""
    f = len(m)
    counts = []
    for bits in itertools.product([0, 1], repeat=f):
        pm = p
        pu = 1.0 - p
        for j, g in enumerate(bits):
            pm *= m[j] if g else 1.0 - m[j]
            pu *= u[j] if g else 1.0 - u[j]
        counts.append((list(bits), (pm + pu) * n))
    return counts


def test_em_recovers_planted_parameters():
    m_true = [0.95, 0.85, 0.7]
    u_true = [0.02, 0.2, 0.4]
    p_true = 0.08
    counts = _planted_counts(m_true, u_true, p_true)
    m, u, p = em_fellegi_sunter(counts, n_fields=3)
    for j in range(3):
        assert m[j] == pytest.approx(m_true[j], abs=0.02)
        assert u[j] == pytest.approx(u_true[j], abs=0.02)
    assert p == pytest.approx(p_true, abs=0.01)


def test_em_deterministic():
    counts = _planted_counts([0.9, 0.8], [0.1, 0.3], 0.05)
    a = em_fellegi_sunter(counts, n_fields=2)
    b = em_fellegi_sunter(list(counts), n_fields=2)
    assert a == b


def test_match_weights_signs():
    w = match_weights([0.9], [0.1])
    (wa, wd) = w[0]
    assert wa > 0 > wd  # agreement on an informative field is evidence FOR


def test_score_pairs_literal_weights(spark):
    ag = spark.createDataFrame(
        [(1, 2, 1, 0), (3, 4, 0, 1)], "id_a int, id_b int, g_x int, g_y int"
    )
    m, u = [0.9, 0.8], [0.1, 0.4]
    got = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in score_pairs(ag, ["x", "y"], m, u).collect()
    }
    w = match_weights(m, u)
    assert got[(1, 2)] == pytest.approx(w[0][0] + w[1][1])
    assert got[(3, 4)] == pytest.approx(w[0][1] + w[1][0])
    # scoring adds no exchange: plan stays a single codegen'd map
    plan = (
        score_pairs(ag, ["x", "y"], m, u)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_pattern_counts_total_matches_pairs(spark):
    df = _people(spark)
    pairs = blocked_pairs(df, None, ["city"], "id", ["name", "bal"])
    ag = agreement_vectors(pairs, [exact("name"), numeric_within("bal", 5.0)])
    pc = pattern_counts(ag, ["name", "bal"])
    assert sum(r["n_pairs"] for r in pc.collect()) == pairs.count()


def test_sorted_neighborhood_pairs_exact_window(spark):
    from tensei_agent_spark.operators.linkage import sorted_neighborhood_pairs

    df = spark.createDataFrame(
        [(i, float(i * 10)) for i in range(1, 6)], "id int, v double"
    )
    pairs = sorted_neighborhood_pairs(
        df, ["v", "id"], id_col="id", window=2, compare_cols=["v"]
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (3, 5), (4, 5)}
    r13 = next(r for r in pairs if (r["id_a"], r["id_b"]) == (1, 3))
    assert (r13["v_a"], r13["v_b"]) == (10.0, 30.0)


def test_sorted_neighborhood_no_global_window(spark):
    from tensei_agent_spark.operators.linkage import sorted_neighborhood_pairs

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "id int, v double"
    )
    plan = (
        sorted_neighborhood_pairs(df, ["v", "id"], "id", window=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # rank must come from the per-partition path: every window spec is
    # partitioned (by _pid), never an empty-partition global sort
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            assert "_pid" in line, line


def test_registry_linkage_em_sane_and_deterministic(spark):
    """Registry EM query on real data: all four fields present, every
    m/u a proper probability, and two independent builds bit-identical
    (the EM fixed point must not depend on collect order — the builder
    sorts its pattern input)."""
    from tensei_agent_spark.queries import REGISTRY

    build = REGISTRY["record_linkage_em"].build
    first = {r["field"]: tuple(r) for r in build(spark, SF_SMALL).collect()}
    assert set(first) == {"nation", "seg", "bal", "name"}
    for row in first.values():
        _, m, u, _, _ = row
        assert 0.0 < m < 1.0 and 0.0 < u < 1.0
    second = {r["field"]: tuple(r) for r in build(spark, SF_SMALL).collect()}
    assert first == second


def test_registry_linkage_score_census_covers_all_pairs(spark):
    """The score-band census must account for every candidate pair the
    pattern query counted — no pair silently dropped by scoring."""
    from tensei_agent_spark.queries import REGISTRY

    bands = REGISTRY["record_linkage_scores"].build(spark, SF_SMALL).collect()
    patterns = (
        REGISTRY["linkage_agreement_patterns"].build(spark, SF_SMALL).collect()
    )
    assert sum(r["n_pairs"] for r in bands) == sum(
        r["n_pairs"] for r in patterns
    )
    assert len(bands) >= 2  # the weights actually separate score levels


def test_empty_inputs_do_not_break(spark):
    """Empty batch / empty corpus / single-row frames flow through the
    whole linkage surface without AnalysisExceptions or crashes."""
    from tensei_agent_spark.operators.linkage import (
        agreement_vectors,
        blocked_pairs,
        em_fellegi_sunter,
        exact,
        score_pairs,
        sorted_neighborhood_pairs,
    )

    schema = "id int, name string, city string, bal double"
    empty = spark.createDataFrame([], schema)
    one = spark.createDataFrame([(1, "a", "x", 1.0)], schema)

    assert blocked_pairs(empty, None, ["city"], "id", ["name"]).count() == 0
    assert blocked_pairs(one, None, ["city"], "id", ["name"]).count() == 0
    assert blocked_pairs(one, empty, ["city"], "id", ["name"]).count() == 0
    assert sorted_neighborhood_pairs(empty, ["bal", "id"], "id").count() == 0
    assert sorted_neighborhood_pairs(one, ["bal", "id"], "id").count() == 0
    ag = agreement_vectors(
        spark.createDataFrame([], "id_a int, name_a string, id_b int, name_b string"),
        [exact("name")],
    )
    assert score_pairs(ag, ["name"], [0.9], [0.1]).count() == 0
    # EM with no observed pairs: degenerate, returns the init unchanged
    m, u, p = em_fellegi_sunter([], n_fields=2)
    assert (m, u) == ([0.9, 0.9], [0.1, 0.1])


def test_sorted_neighborhood_rejects_nonpositive_window(spark):
    from tensei_agent_spark.operators.linkage import sorted_neighborhood_pairs

    df = spark.createDataFrame([(1, 1.0)], "id int, v double")
    with pytest.raises(ValueError, match="window"):
        sorted_neighborhood_pairs(df, ["v", "id"], "id", window=0)
