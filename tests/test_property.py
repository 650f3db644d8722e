"""Property-based tests (≙ the reference's ScalaCheck usage, e.g.
``MergeTwoCSV.scala:58-118`` pushing random products through the merge
pipeline). Hypothesis generates the inputs; Spark executes; invariants
are checked against plain-Python models."""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tensei_agent_spark.functions import build as T
from tensei_agent_spark.operators.dedup import ngram_jaccard_pairs
from tensei_agent_spark.plans import (
    ColumnRef,
    Field,
    Mapping,
    Pipeline,
    Recipe,
    SourceSpec,
    TargetSpec,
)

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

words = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
    min_size=1,
    max_size=12,
)


@SLOW
@given(st.lists(words, min_size=1, max_size=6), st.sampled_from(["|", "~", ";"]))
def test_concat_split_roundtrip(spark, parts, sep):
    """split(concat(xs, sep), sep)[i] == xs[i] for separator-free parts."""
    cols = [F.lit(p) for p in parts]
    joined = T("concat", cols, separator=sep)[0]
    back = T("split", [joined], pattern=re.escape(sep),
             selected=list(range(len(parts))))
    row = spark.range(1).select(
        *[c.alias(f"c{i}") for i, c in enumerate(back)]
    ).first()
    assert [row[f"c{i}"] for i in range(len(parts))] == parts


@SLOW
@given(st.lists(st.integers(-10**9, 10**9), min_size=1, max_size=5))
def test_timestamp_calibrate_inverse(spark, secs):
    """reduce(add(x)) == x — the reference's ×1000/÷1000 pair."""
    col = F.array(*[F.lit(s).cast("long") for s in secs])
    added = F.transform(col, lambda c: T("timestamp_calibrate", [c], perform="add")[0])
    back = F.transform(added, lambda c: T("timestamp_calibrate", [c], perform="reduce")[0])
    assert spark.range(1).select(back.alias("v")).first()["v"] == secs


@SLOW
@given(
    st.lists(
        st.tuples(words, st.integers(0, 3)),  # (name, dup-group)
        min_size=2,
        max_size=8,
    )
)
def test_pipeline_unique_filter_model(spark, tmp_path_factory, rows):
    """The write-side unique filter must keep exactly the first row per
    key under the declared order — checked against a Python model."""
    tmp = tmp_path_factory.mktemp("prop")
    src = tmp / "in.csv"
    data = [(f"k{g}", i, name) for i, (name, g) in enumerate(rows)]
    src.write_text("".join(f"{k},{i},{n}\n" for k, i, n in data))
    out = str(tmp / "out.csv")
    p = Pipeline(
        "prop",
        sources=(SourceSpec("s", "csv", str(src),
                            (Field("k"), Field("i", "long"), Field("n"))),),
        targets=(TargetSpec(
            "t", "csv", out,
            fields=(Field("k", unique=True), Field("i", "long"), Field("n")),
            options={"single_file": True, "order_by": ["k"]},
        ),),
        recipes=(Recipe("r", "t", mappings=(
            Mapping((ColumnRef("s", "k"), ColumnRef("s", "i"), ColumnRef("s", "n")),
                    ("k", "i", "n")),
        )),),
    )
    from tensei_agent_spark.plans import run_pipeline

    run_pipeline(spark, p)
    got = sorted(tuple(ln.split(",")[0:2]) for ln in open(out).read().splitlines())
    # model: first row per key ordered by (i, n)
    model = {}
    for k, i, n in sorted(data, key=lambda r: (r[1], r[2])):
        model.setdefault(k, (k, str(i)))
    assert got == sorted(model.values())


@SLOW
@given(st.integers(0, 3))
def test_jaccard_identical_docs_score_one(spark, n_extra):
    """Two identical documents always have Jaccard 1.0; an unrelated
    short doc never pairs at threshold 0.99."""
    base = "spark catalyst tungsten adaptive execution " * 3
    docs = [(1, base), (2, base)] + [
        (10 + i, f"unrelated tiny doc {i}") for i in range(n_extra)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(df, threshold=0.99).collect()}
    assert pairs.get((1, 2)) == 1.0
    assert all(p == (1, 2) for p in pairs)


def test_spec_json_roundtrip():
    """Pipeline ⇄ JSON round trip (Cookbook wire-format parity)."""
    p = Pipeline(
        "rt",
        sources=(SourceSpec("s", "csv", "/tmp/in.csv",
                            (Field("a", "long", default=0),), {"sep": ";"}),),
        targets=(TargetSpec("t", "jdbc", "jdbc:postgresql://h/db",
                            (Field("a", "long", unique=True),),
                            {"table": "tt"}, "upsert",
                            {"fk": ("parent", "pk")}),),
        recipes=(Recipe("r", "t", mappings=(
            Mapping((ColumnRef("s", "a"),), ("a",),
                    transformers=(("lower_or_upper", {"perform": "upper"}),)),
        ), mapping_key="a", limit=10, order_by={"s": ["a"]}),),
    )
    assert Pipeline.from_json(p.to_json()) == p


def test_prefix_filtered_jaccard_equals_brute_force(spark):
    """The PPJoin-style candidate pruning must be EXACT: on random
    corpora (including near-dups and short/ragged docs), the operator's
    pairs equal a brute-force all-pairs Jaccard computed in Python."""
    import random

    from tensei_agent_spark.operators.dedup import ngram_jaccard_pairs

    rng = random.Random(1234)
    alphabet = "abcdef "
    docs = []
    for i in range(40):
        docs.append((i, "".join(rng.choice(alphabet) for _ in range(rng.randint(10, 80)))))
    # planted near-dups and exact dups
    for i in range(8):
        base = docs[i][1]
        docs.append((100 + i, base))  # exact dup
        docs.append((200 + i, base[:-2] + "zz"))  # near dup

    k, thr = 4, 0.5

    def shingles(t):
        n = max(len(t) - k + 1, 1)
        return {t[p : p + k] for p in range(n)}

    expected = set()
    for (ia, ta) in docs:
        for (ib, tb) in docs:
            if ia >= ib:
                continue
            sa, sb = shingles(ta), shingles(tb)
            inter = len(sa & sb)
            j = inter / (len(sa) + len(sb) - inter)
            if j >= thr:
                expected.add((ia, ib))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, "text", "doc_id", k, thr).collect()
    }
    assert got == expected
    assert len(expected) >= 8  # the planted dups are actually in play


@SLOW
@given(
    st.lists(  # corpus: up to 6 docs of up to 12 simple words
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=12),
        min_size=1,
        max_size=6,
    ),
    st.integers(2, 4),  # window width
)
def test_repeated_spans_matches_python_model(spark, docs_words, w):
    """repeated_spans == a direct Python recomputation of window
    multiset counts, for any corpus and window width."""
    from collections import Counter

    from tensei_agent_spark.operators.dedup import repeated_spans

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs_words)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["win_hash"]: (r["n_occurrences"], r["n_docs"], r["canonical_id"])
        for r in repeated_spans(df, w=w).collect()
    }

    occurrences: dict[str, list[int]] = {}
    for i, ws in enumerate(docs_words):
        # Spark's split on \s+ after trim: empty text -> ['']
        ws = " ".join(ws).split() or [""]
        if len(ws) < w:
            continue
        for j in range(len(ws) - w + 1):
            occurrences.setdefault(" ".join(ws[j:j + w]), []).append(i)
    import hashlib

    expect = {}
    for win, ids in occurrences.items():
        if len(ids) > 1:
            h = hashlib.md5(win.encode()).hexdigest()
            expect[h] = (len(ids), len(set(ids)), min(ids))
    assert got == expect


# --- Fellegi-Sunter EM (operators/linkage.py) -----------------------------

_m_probs = st.floats(min_value=0.55, max_value=0.95)
_u_probs = st.floats(min_value=0.05, max_value=0.4)


@given(
    m=st.tuples(_m_probs, _m_probs, _m_probs),
    u=st.tuples(_u_probs, _u_probs, _u_probs),
    p=st.floats(min_value=0.02, max_value=0.3),
)
@settings(max_examples=40, deadline=None)
def test_em_planted_mixture_is_fixed_point(m, u, p):
    """EM on the EXACT expected pattern counts of a planted mixture in
    the linkage regime (matches agree MORE than non-matches on every
    field — the orientation the m>u init encodes; mixtures violating
    it are a different, non-identifiable basin) must fit the planted
    pattern distribution: the fitted (m,u,p) reproduce every pattern's
    expected count. Driver-side pure function: no Spark needed."""
    import itertools
    import math

    from tensei_agent_spark.operators.linkage import em_fellegi_sunter

    # skip near-degenerate fields (m ≈ u): the optimum is a ridge and
    # convergence there is glacial — undefined recovery, not a bug.
    if any(mi - ui < 0.2 for mi, ui in zip(m, u)):
        return
    n = 1_000_000
    counts = []
    for bits in itertools.product([0, 1], repeat=3):
        pm, pu = p, 1.0 - p
        for j, g in enumerate(bits):
            pm *= m[j] if g else 1.0 - m[j]
            pu *= u[j] if g else 1.0 - u[j]
        counts.append((list(bits), (pm + pu) * n))
    em_m, em_u, em_p = em_fellegi_sunter(counts, n_fields=3)

    # compare fitted pattern distribution against the planted one
    for bits, want_n in counts:
        pm, pu = em_p, 1.0 - em_p
        for j, g in enumerate(bits):
            pm *= em_m[j] if g else 1.0 - em_m[j]
            pu *= em_u[j] if g else 1.0 - em_u[j]
        got = (pm + pu) * n
        assert math.isclose(got, want_n, rel_tol=0.05, abs_tol=n * 1e-4)


# --- round-5 session-2 operators -------------------------------------------

_vocab = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
)
_docs = st.lists(
    st.lists(_vocab, min_size=8, max_size=30).map(" ".join),
    min_size=2,
    max_size=5,
)


@SLOW
@given(_docs)
def test_winnowing_guarantee_property(spark, texts):
    """For ANY corpus: two docs sharing a (w + k − 1)-word run share a
    fingerprint — the winnowing guarantee, checked by construction:
    append one common 8-word run to every doc."""
    from tensei_agent_spark.operators.dedup import winnow_fingerprints

    run = "one two three four five six seven eight"
    rows = [(i, t + " " + run) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = winnow_fingerprints(df, k=5, w=4)
    sets = {}
    for r in fp.collect():
        sets.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    common = set.intersection(*[sets[i] for i in range(len(rows))])
    assert common, "shared run produced no shared fingerprint"


@SLOW
@given(
    st.lists(st.floats(0, 100, allow_nan=False), min_size=2, max_size=8),
    st.lists(st.floats(0, 100, allow_nan=False), min_size=2, max_size=8),
)
def test_welch_t_property_vs_statistics(spark, a, b):
    """welch_t matches the closed form for arbitrary arms (skipping
    degenerate zero-variance pairs where t is undefined)."""
    import statistics

    from tensei_agent_spark.operators.stats import welch_t

    va = statistics.variance(a) if len(a) > 1 else 0.0
    vb = statistics.variance(b) if len(b) > 1 else 0.0
    se2 = va / len(a) + vb / len(b)
    if se2 == 0:
        return  # undefined t; the operator emits NULL/inf there
    rows = [("g", "A", round(v, 2)) for v in a]
    rows += [("g", "B", round(v, 2)) for v in b]
    df = spark.createDataFrame(rows, "grp string, arm string, v double")
    got = welch_t(
        df, ["grp"], F.col("arm") == "A", F.col("arm") == "B", "v"
    ).collect()[0]
    a2 = [round(v, 2) for v in a]
    b2 = [round(v, 2) for v in b]
    va = statistics.variance(a2)
    vb = statistics.variance(b2)
    se2 = va / len(a2) + vb / len(b2)
    if se2 == 0:
        return
    t = (statistics.fmean(a2) - statistics.fmean(b2)) / se2**0.5
    assert abs(got["t_stat"] - t) < 1e-6 + abs(t) * 1e-6


@SLOW
@given(st.lists(st.integers(0, 5), min_size=1, max_size=40))
def test_cms_point_estimates_never_undercount_property(spark, keys):
    from collections import Counter

    from tensei_agent_spark.operators.sketches import cms_build, cms_estimate

    df = spark.createDataFrame([(f"k{k}",) for k in keys], "key string")
    truth = Counter(f"k{k}" for k in keys)
    sk = cms_build(df, "key", depth=4, width=16)
    probes = spark.createDataFrame([(k,) for k in truth], "key string")
    got = {
        r["key"]: r["est"]
        for r in cms_estimate(sk, probes, "key", width=16).collect()
    }
    for k, n in truth.items():
        assert got[k] >= n  # CM never undercounts
        assert got[k] <= len(keys)  # and never exceeds the stream


@SLOW
@given(
    st.lists(
        st.tuples(words, words), min_size=1, max_size=6
    ),
    st.integers(1, 3),
)
def test_bounded_levenshtein_equals_unbounded_predicate(spark, pairs, k):
    """The r9 rewrite's contract: ``levenshtein(a, b, k) >= 0`` is
    exactly ``levenshtein(a, b) <= k`` — the banded DP returns the true
    distance within the bound and -1 past it, for arbitrary strings and
    bounds. Guards every comparator site that moved to the 3-arg form
    (linkage.levenshtein_within, fuzzy_customer_pairs,
    customer_golden_records)."""
    df = spark.createDataFrame(pairs, "a string, b string")
    rows = df.select(
        F.levenshtein("a", "b").alias("full"),
        F.levenshtein("a", "b", k).alias("bounded"),
    ).collect()
    for r in rows:
        if r["full"] <= k:
            assert r["bounded"] == r["full"]
        else:
            assert r["bounded"] == -1


@SLOW
@given(
    st.lists(st.integers(0, 30), min_size=1, max_size=10, unique=True),
    st.lists(st.integers(0, 30), min_size=1, max_size=10, unique=True),
)
def test_rrf_fuse_matches_python_model(spark, ids_a, ids_b):
    """rrf_fuse == the Fellegi-free Python model: Σ 1/(60+rank) with
    missing-list terms contributing 0, terms added in list order."""
    from tensei_agent_spark.operators.hybrid import rrf_fuse

    la = spark.createDataFrame(
        [(d, i + 1) for i, d in enumerate(ids_a)], "doc_id long, rank long"
    )
    lb = spark.createDataFrame(
        [(d, i + 1) for i, d in enumerate(ids_b)], "doc_id long, rank long"
    )
    got = {
        r["doc_id"]: r["rrf"]
        for r in rrf_fuse([("x", la), ("y", lb)]).collect()
    }
    ra = {d: i + 1 for i, d in enumerate(ids_a)}
    rb = {d: i + 1 for i, d in enumerate(ids_b)}
    for d in set(ra) | set(rb):
        want = (1.0 / (60.0 + ra[d]) if d in ra else 0.0) + (
            1.0 / (60.0 + rb[d]) if d in rb else 0.0
        )
        assert got[d] == want  # bit-exact: fixed-order float adds


@SLOW
@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 10**6)),
        min_size=1,
        max_size=60,
    )
)
def test_row_index_equals_single_partition_window(spark, rows):
    """The distributed row index (global sort + distributed sequence —
    operators/windows.py::row_index) with start=1 must equal Spark's
    own row_number() OVER (ORDER BY ...) single-partition window for
    arbitrary data, INCLUDING under collect() — the path where an
    earlier offsets-based rank corrupted ranks while count() looked
    fine."""
    from pyspark.sql import Window

    from tensei_agent_spark.operators.windows import row_index

    rows = list({(k, u) for k, u in rows})  # total order needs unique keys
    df = spark.createDataFrame(rows, "k long, u long")
    got = {
        (r["k"], r["u"]): r["i"]
        for r in row_index(df, ["k", "u"], "i", start=1).collect()
    }
    want = {
        (r["k"], r["u"]): r["i"]
        for r in df.withColumn(
            "i", F.row_number().over(Window.orderBy("k", "u"))
        ).collect()
    }
    assert got == want


@SLOW
@given(
    st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(-1000, 1000)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    )
)
def test_with_global_prefix_sum_equals_single_partition_window(spark, rows):
    """Distributed running sum == sum() OVER (ORDER BY ... ROWS
    UNBOUNDED PRECEDING) on exact types, under collect()."""
    from pyspark.sql import Window

    from tensei_agent_spark.operators.windows import with_global_prefix_sum

    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        r["k"]: r["cum"]
        for r in with_global_prefix_sum(df, ["k"], "v", out="cum").collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["k"]: r["cum"]
        for r in df.withColumn("cum", F.sum("v").over(w)).collect()
    }
    assert got == want
