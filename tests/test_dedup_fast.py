"""Recall/equivalence tests for the xxhash64 MinHash-LSH fast path and
the bucket-explode pair generation (vs the naive self-join semantics)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from tensei_agent_spark.operators.dedup import (
    minhash_lsh_pairs,
    minhash_signatures_wide,
)


def _corpus(spark):
    """40 base docs, 10 exact dups, 10 high-Jaccard near-dups."""
    rng = random.Random(7)
    alphabet = "abcdefghijklmnopqrstuvwxyz "
    base = ["".join(rng.choice(alphabet) for _ in range(240)) for _ in range(40)]
    rows = [(i, t) for i, t in enumerate(base)]
    # exact duplicates of docs 0..9 → identical signatures, always caught
    rows += [(100 + i, base[i]) for i in range(10)]
    # near-dups of docs 10..19: one char changed at the end (J ≈ 0.93)
    rows += [(200 + i, base[10 + i][:-1] + "!") for i in range(10)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _brute_force_jaccard(rows, k, threshold):
    """All-pairs exact Jaccard over distinct k-char substrings, the
    definition of tests/test_property.py's brute-force check: {(id_a,
    id_b): J} with id_a < id_b and J ≥ threshold, J rounded to 6 places
    half-up as Spark's round() does."""
    from decimal import ROUND_HALF_UP, Decimal

    def shingles(t):
        return {t[p : p + k] for p in range(max(len(t) - k + 1, 1))}

    sets = sorted((i, shingles(t)) for i, t in rows)
    out = {}
    for x, (ia, sa) in enumerate(sets):
        for ib, sb in sets[x + 1 :]:
            inter = len(sa & sb)
            j = inter / (len(sa) + len(sb) - inter)
            if j >= threshold:
                out[(ia, ib)] = float(
                    Decimal(repr(j)).quantize(Decimal("1e-6"), ROUND_HALF_UP)
                )
    return out


def test_fast_lsh_catches_exact_and_near_dups(spark):
    docs = _corpus(spark)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, hash_fn="xxhash64").collect()
    }
    # every exact-dup pair is guaranteed (identical signatures)
    for i in range(10):
        assert (i, 100 + i) in pairs
    # high-J near-dups: deterministic hash → fixed outcome; expect most
    caught = sum((10 + i, 200 + i) in pairs for i in range(10))
    assert caught >= 8
    # unrelated random docs must not collide on a full band
    unrelated = [p for p in pairs if p[0] < 40 and p[1] < 40]
    assert unrelated == []


def test_fast_and_md5_variants_agree_on_exact_dups(spark):
    docs = _corpus(spark)
    md5_pairs = {
        (r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs).collect()
    }
    exact = {(i, 100 + i) for i in range(10)}
    assert exact <= md5_pairs


def test_signature_minimum_invariant(spark):
    """sig_i must equal the true min over shingle hashes — check one doc
    against a brute-force recomputation for both hash functions."""
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    for fn in ("md5", "xxhash64"):
        wide = minhash_signatures_wide(docs, hash_fn=fn, num_hashes=4)
        row = wide.collect()[0]
        assert all(row[f"sig{i}"] is not None for i in range(4))
        assert all(0 <= row[f"sig{i}"] < (1 << 31) - 1 for i in range(4))


def test_double_and_decimal_topk_rank_agreement(spark):
    """The double-arith fast path must produce the same (query, cand)
    ranking as the decimal-exact oracle path on real data (ULP drift
    only matters for pathological near-ties)."""
    from tensei_agent_spark.catalog import load
    from tensei_agent_spark.operators.similarity import brute_force_topk

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    exact = {(r["query_id"], r["rank"]): r["cand_id"]
             for r in brute_force_topk(emb, q, k=10).collect()}
    fast = {(r["query_id"], r["rank"]): r["cand_id"]
            for r in brute_force_topk(emb, q, k=10, arith="double").collect()}
    assert exact == fast


def test_word_ngram_spans_and_blocks(spark):
    """Overlapping windows and non-overlapping blocks: counts, short-doc
    exclusion, and cross-doc repeat detection."""
    from tensei_agent_spark.operators.dedup import repeated_spans, word_ngram_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),       # 6 words -> 4 windows of w=3
            (2, "x y z a b c d"),     # shares window "a b c" and "b c d"
            (3, "p q"),               # too short: no spans
        ],
        "doc_id long, text string",
    )
    spans = word_ngram_spans(docs, w=3).collect()
    assert len(spans) == 4 + 5
    assert {r["doc_id"] for r in spans} == {1, 2}

    rep = {r["win_hash"]: r for r in repeated_spans(docs, w=3).collect()}
    assert len(rep) == 2  # "a b c" and "b c d" each appear in docs 1+2
    assert all(r["n_occurrences"] == 2 and r["n_docs"] == 2
               and r["canonical_id"] == 1 for r in rep.values())

    # non-overlapping blocks of doc 1: "a b c", "d e f" — no repeats
    blocks = word_ngram_spans(docs.filter("doc_id = 1"), w=3, step=3).collect()
    assert sorted(r["start_pos"] for r in blocks) == [1, 4]


def test_ngram_jaccard_bit_screen_parity(spark):
    """The OPH bit-signature pre-screen is a pure pruning stage: with it
    on (default) and off, the emitted pairs and jaccard values must be
    identical on the driver corpus (sf0.01 → 25 pairs at t=0.6)."""
    from tensei_agent_spark.catalog import load
    from tensei_agent_spark.operators.dedup import ngram_jaccard_pairs

    docs = load(spark, "/root/testdata/sf0.01", "documents")
    on = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, k=8, threshold=0.6, bit_screen=True
        ).collect()
    }
    off = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, k=8, threshold=0.6, bit_screen=False
        ).collect()
    }
    assert on == off and len(on) == 25


def test_ngram_jaccard_cap_parity_below_and_truncation_above(spark):
    """max_shingle_df is a pure no-op while every prefix shingle's df
    stays under the cap (bit-identical pairs), and above it the drop is
    accounted, never silent: the lazy stats frame reports the hot
    shingles and dropped postings."""
    from tensei_agent_spark.catalog import load
    from tensei_agent_spark.operators.dedup import ngram_jaccard_pairs

    docs = load(spark, "/root/testdata/sf0.01", "documents")
    stats: dict = {}
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, k=8, threshold=0.6, max_shingle_df=2000, stats=stats
        ).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, k=8, threshold=0.6).collect()
    }
    assert capped == uncapped and len(capped) == 25
    t = stats["truncation"].first()
    assert (t["hot_shingles"], t["dropped_postings"]) == (0, 0)

    # A templated corpus where every doc shares one boilerplate page:
    # cap=3 excludes the template shingles from candidate generation,
    # so the template-only near-dup pairs disappear — and the stats
    # frame quantifies exactly what was dropped.
    template = "all rights reserved by the example corporation anno 2025"
    # 5-char unique prefix + 56-char template → J ≈ 49/59 ≈ 0.83 ≥ 0.6
    rows = [(i, f"u-{i:02d} " + template) for i in range(12)]
    boiler = spark.createDataFrame(rows, "doc_id long, text string")
    stats2: dict = {}
    capped2 = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            boiler, k=8, threshold=0.6, max_shingle_df=3, stats=stats2
        ).collect()
    }
    uncapped2 = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(boiler, k=8, threshold=0.6).collect()
    }
    # Uncapped: every pair links through the template (all 66). Capped:
    # only the pairs that ALSO share a rare shingle survive — i and
    # i+10 share "0 all ri"/"1 all ri" (df=2 ≤ 3) across the digit
    # boundary; every template-only pair is dropped.
    assert len(uncapped2) == 66
    assert capped2 == {(0, 10), (1, 11)}
    t2 = stats2["truncation"].first()
    assert t2["hot_shingles"] > 0 and t2["dropped_postings"] > 0

    # Valve-resolution floor: a cap below the sample estimator's
    # resolution must force the exact df — with a forced big hint
    # (frac would be 0.5, min estimate ceil(2/0.5)=4 > 3, i.e. the
    # valve would drop every twice-sampled shingle), cap=3 must still
    # produce the default call's capped pair set, and the df_table
    # soundness frame must read unsaturated.
    stats3: dict = {}
    capped3 = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            boiler, k=8, threshold=0.6, max_shingle_df=3, stats=stats3,
            size_hint_bytes=4 * 32 * 1024,
        ).collect()
    }
    assert capped3 == capped2
    assert stats3["df_frac"] == 1.0
    dft = stats3["df_table"].first()
    assert not dft["valve_blind_spot"] and dft["n_entries"] > 0


def test_ngram_jaccard_exact_prefix_fanout_valve(spark):
    """The saturated-rank-table blind spot must not detonate the
    candidate join. A hot shingle band WIDER than the capped table
    leaves its overflow off-table reading df 0 — "rarest" — so those
    df-200 shingles land in every holder's prefix and the estimate
    valve (which compares df estimates) cannot drop them. The exact
    prefix fan-out valve counts the materialized prefix postings and
    anti-joins any shingle whose fan-out exceeds the cap:
    stats['prefix_truncation'] accounts the drop, the pair set matches
    the unsaturated exact-df run under the same cap, and the df_table frame
    reports the blind spot it covered for."""
    import tensei_agent_spark.operators.dedup as dedup_mod
    from tensei_agent_spark.operators.dedup import ngram_jaccard_pairs

    rng = random.Random(7)
    alphabet = "abcdefghijklmnopqrstuvwxyz "
    # 200 docs in 100 identical pairs: one global ~110-char boilerplate
    # (a ~100-shingle band at df 200) + a pair-unique ~100-char tail
    # (df-2 shingles). With the table cap forced to 16, ~84 boiler
    # shingles overflow the table and read df 0.
    boiler = "".join(rng.choice(alphabet) for _ in range(110))
    rows = []
    for p in range(100):
        tail = "".join(rng.choice(alphabet) for _ in range(100))
        rows.append((2 * p, boiler + tail))
        rows.append((2 * p + 1, boiler + tail))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # Reference: the default call under the same cap. A cap ≤ 50 floors
    # the sample fraction at 1.0, so its df is exact — boiler (df 200 >
    # 8) is excluded from candidate generation, pairs link through tails.
    exact_capped = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            docs, k=8, threshold=0.8, max_shingle_df=8
        ).collect()
    }
    assert len(exact_capped) == 100

    old_cap = dedup_mod._DF_TABLE_CAP
    dedup_mod._DF_TABLE_CAP = 16
    try:
        stats: dict = {}
        sampled_capped = {
            (r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(
                docs, k=8, threshold=0.8, max_shingle_df=8, stats=stats,
            ).collect()
        }
    finally:
        dedup_mod._DF_TABLE_CAP = old_cap
    assert sampled_capped == exact_capped
    # The blind spot was live (table saturated above the cap)...
    dft = stats["df_table"].first()
    assert dft["valve_blind_spot"]
    # ...and the exact fan-out valve covered for it: off-table df-200
    # boiler shingles that reached prefixes were dropped by count.
    pt = stats["prefix_truncation"].first()
    assert pt["hot_shingles"] > 0
    assert pt["dropped_postings"] >= pt["hot_shingles"] * 100


def test_ngram_fanout_valve_gated_by_corpus_size(spark):
    """The exact prefix fan-out valve is a provable no-op when the
    corpus cannot saturate the rank table (df>=2 shingles need >= 2
    postings each, postings <= text bytes, so size < 2*cap means every
    df>=2 shingle fits the table and the estimate filter already
    dropped the hot ones). Below that zero-job gate the plan must NOT
    carry the groupBy + anti-join (it measured as bench cost on the
    2.6 s production query); above it the valve must be present."""
    from tensei_agent_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"doc number {i} with some shared text body") for i in range(20)],
        "doc_id long, text string",
    )
    below = ngram_jaccard_pairs(
        docs, k=8, threshold=0.8, max_shingle_df=2000,
        size_hint_bytes=1000,
    )
    assert "LeftAnti" not in below._jdf.queryExecution().optimizedPlan().toString()
    above = ngram_jaccard_pairs(
        docs, k=8, threshold=0.8, max_shingle_df=2000,
        size_hint_bytes=1 << 30,
    )
    assert "LeftAnti" in above._jdf.queryExecution().optimizedPlan().toString()


def test_ngram_jaccard_sampled_rank_matches_brute_force(spark):
    """The document-frequency rarity order only steers candidate
    pruning — the prefix lemma holds for ANY consistent total order —
    so the sampled df rank must emit exactly the brute-force pair set
    and Jaccard values: on the driver corpus, forced down to a ~0.3%
    sample, and when the capped rank table SATURATES (a forced 64-entry
    cap over a df-flat clone corpus and over a corpus led by a df-200
    boilerplate band wider than the cap)."""
    import tensei_agent_spark.operators.dedup as dedup_mod
    from tensei_agent_spark.catalog import load
    from tensei_agent_spark.operators.dedup import ngram_jaccard_pairs

    def pairs(df, threshold, **kw):
        return {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(
                df, k=8, threshold=threshold, **kw
            ).collect()
        }

    docs = load(spark, "/root/testdata/sf0.01", "documents")
    want = _brute_force_jaccard(
        [(r["doc_id"], r["text"]) for r in docs.collect()], 8, 0.6
    )
    assert len(want) == 25
    assert pairs(docs, 0.6) == want
    # Forced ~0.3% sample (floor bypassed): the rank table degenerates
    # to a handful of entries and the order is mostly raw token order —
    # the pair set must STILL be exact (pruning quality is the only
    # thing sampling may cost; the production _DF_MIN_FRAC floor exists
    # for quality, not correctness).
    old_floor = dedup_mod._DF_MIN_FRAC
    dedup_mod._DF_MIN_FRAC = 0.0
    try:
        starved = pairs(docs, 0.6, size_hint_bytes=300 * 32 * 1024)
    finally:
        dedup_mod._DF_MIN_FRAC = old_floor
    assert starved == want

    rng = random.Random(11)
    alphabet = "abcdefghijklmnopqrstuvwxyz "
    # Clone-dense, FLAT df: 50 bases × 8 clones, every shingle df ≈ 8,
    # the df≥2 band is the whole vocabulary, no head.
    base = ["".join(rng.choice(alphabet) for _ in range(200)) for _ in range(50)]
    flat_rows = [(100 * b + c, t) for b, t in enumerate(base) for c in range(8)]
    # HEADY: 200 docs in 100 identical pairs, every doc led by the same
    # ~110-char boilerplate (a ~100-shingle band at df 200, WIDER than
    # the 64-entry cap) over a pair-unique random tail (df 2).
    boiler = "".join(rng.choice(alphabet) for _ in range(110))
    heady_rows = []
    for p in range(100):
        tail = "".join(rng.choice(alphabet) for _ in range(100))
        heady_rows.append((2 * p, boiler + tail))
        heady_rows.append((2 * p + 1, boiler + tail))
    old_cap = dedup_mod._DF_TABLE_CAP
    dedup_mod._DF_TABLE_CAP = 64
    try:
        for rows, n_pairs in ((flat_rows, 50 * 28), (heady_rows, 100)):
            want = _brute_force_jaccard(rows, 8, 0.8)
            assert len(want) == n_pairs
            stats: dict = {}
            df = spark.createDataFrame(rows, "doc_id long, text string")
            # A 1 MiB hint samples at the 0.5 floor and opens the
            # table-cap gate, so the 64-entry table saturates.
            got = pairs(df, 0.8, size_hint_bytes=1 << 20, stats=stats)
            assert stats["df_frac"] == 0.5
            assert got == want
    finally:
        dedup_mod._DF_TABLE_CAP = old_cap


def test_ngram_jaccard_sampled_rank_is_layout_invariant(spark):
    """Bernoulli sample() picks DIFFERENT rows under different
    partition layouts, so the sampled df table (and hence the rarity
    order) is layout-sensitive — the emitted pairs must not be: the
    prefix lemma makes the output exact under ANY consistent order.
    Forces frac < 1 (the sample node is absent at tiny-corpus frac
    1.0, which is what the registry-level invariance suite exercises)."""
    from tensei_agent_spark.catalog import load
    from tensei_agent_spark.operators.dedup import ngram_jaccard_pairs

    docs = load(spark, "/root/testdata/sf0.01", "documents")
    hint = int(32 * 1024 / 0.3)  # forces frac = max(floor, 0.3) < 1
    out = []
    for layout in (docs, docs.repartition(3), docs.repartition(17, "text")):
        out.append({
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(
                layout, k=8, threshold=0.6, size_hint_bytes=hint,
            ).collect()
        })
    assert out[0] == out[1] == out[2] and len(out[0]) == 25


def test_ngram_jaccard_build_runs_no_job(spark):
    """Building (and explaining) the operator must stay driver-side:
    broadcast steering reads Catalyst's plan stats, never count(), and
    the sample fraction is a pure function of the size hint — a hint
    past every gate (floor fraction, rank-table cut, exact fan-out
    valve) still runs no build-time probe."""
    from tensei_agent_spark.catalog import load
    from tensei_agent_spark.operators.dedup import ngram_jaccard_pairs

    docs = load(spark, "/root/testdata/sf0.01", "documents")
    tracker = spark.sparkContext.statusTracker()
    for kw in (
        {"bit_screen": True},
        {"max_shingle_df": 2000, "size_hint_bytes": 1 << 30},
    ):
        before = set(tracker.getJobIdsForGroup())
        df = ngram_jaccard_pairs(docs, k=8, threshold=0.6, **kw)
        df.explain(extended=False)
        after = set(tracker.getJobIdsForGroup())
        assert before == after, f"operator build launched Spark jobs: {kw}"


# ---------------------------------------------------------------------------
# Winnowing (MOSS) fingerprints
# ---------------------------------------------------------------------------

def test_winnowing_guarantee_shared_run_shares_fingerprint(spark):
    from tensei_agent_spark.operators.dedup import winnow_fingerprints

    k, w = 5, 4
    # Shared run of exactly w + k - 1 = 8 words embedded in otherwise
    # disjoint documents -> the winnowing guarantee promises >= 1
    # shared fingerprint.
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    doc_a = "one two three four " + shared + " five six seven"
    doc_b = "red green blue cyan " + shared + " magenta yellow black"
    docs = spark.createDataFrame(
        [(1, doc_a), (2, doc_b)], "doc_id long, text string"
    )
    fp = winnow_fingerprints(docs, k=k, w=w)
    a = {r["fingerprint"] for r in fp.filter("doc_id = 1").collect()}
    b = {r["fingerprint"] for r in fp.filter("doc_id = 2").collect()}
    assert a & b, "winnowing guarantee violated: no shared fingerprint"


def test_winnowing_short_doc_and_compression(spark):
    from tensei_agent_spark.operators.dedup import winnow_fingerprints

    words = " ".join(f"w{i}" for i in range(100))
    docs = spark.createDataFrame(
        [(1, words), (2, "too short here")], "doc_id long, text string"
    )
    fp = winnow_fingerprints(docs, k=5, w=4)
    rows = fp.collect()
    assert {r["doc_id"] for r in rows} == {1}  # doc 2: no full window
    n_windows = 100 - 5 - 4 + 2
    n_fp = len(rows)
    # Selected set is a subset of window minima: at most one new
    # fingerprint per window, and (distinct words) far fewer in practice.
    assert 1 <= n_fp <= n_windows
    # Expected density ~ 2/(w+1) = 0.4 for random-ish hashes; allow slack.
    assert n_fp / n_windows < 0.75


def test_winnow_dup_pairs_respects_max_df(spark):
    from tensei_agent_spark.operators.dedup import winnow_dup_pairs

    body = " ".join(f"common{i}" for i in range(30))
    # 5 identical docs: every fingerprint has df=5. max_df=4 must
    # drop all postings -> no pairs; max_df=5 -> all 10 pairs.
    docs = spark.createDataFrame(
        [(i, body) for i in range(5)], "doc_id long, text string"
    )
    none = winnow_dup_pairs(docs, min_shared=1, max_df=4).count()
    all_pairs = winnow_dup_pairs(docs, min_shared=1, max_df=5).count()
    assert none == 0
    assert all_pairs == 10


def test_boilerplate_coverage_flags_shared_template(spark):
    from tensei_agent_spark.operators.dedup import boilerplate_coverage

    header = " ".join(f"nav{i}" for i in range(10))  # 10-word template
    rows = [
        (1, header + " unique prose alpha beta gamma delta epsilon zeta", "siteA"),
        (2, header + " other words entirely here for doc two body", "siteA"),
        (3, header + " a third page on the same site again", "siteB"),  # other group
        (4, " ".join(f"solo{i}" for i in range(20)), "siteA"),  # no repeats
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["doc_id"]: r for r in boilerplate_coverage(docs).collect()}
    # Docs 1 and 2 share the header within siteA -> coverage > 0; the
    # header window (positions 1..1) is the only repeated one.
    assert got[1]["n_boiler"] == 1 and got[2]["n_boiler"] == 1
    assert got[1]["coverage"] == 1 / got[1]["n_windows"]
    # Doc 3 has the header too but is alone in siteB -> 0.
    assert got[3]["n_boiler"] == 0
    assert got[4]["n_boiler"] == 0


def test_bucket_cap_parity_below_cap(spark):
    """max_bucket_df is a pure no-op while every LSH bucket stays under
    the cap: bit-identical pairs to the uncapped run, and the stats
    frame reads zero."""
    docs = _corpus(spark)
    stats: dict = {}
    capped = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            docs, hash_fn="xxhash64", max_bucket_df=256, stats=stats
        ).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, hash_fn="xxhash64").collect()
    }
    assert capped == uncapped
    t = stats["truncation"].first()
    assert (t["hot_buckets"], t["dropped_pairs"]) == (0, 0)


def test_bucket_cap_drops_hostile_boilerplate_bucket(spark):
    """A corpus of IDENTICAL texts puts every doc in the same bucket in
    every band (one band key × 4 bands): n=40 docs → 780 pairs uncapped.
    Cap 10 excludes those buckets entirely — zero candidates — and the
    truncation frame accounts every dropped pair, per band."""
    n = 40
    rows = [(i, "exactly the same boilerplate text for everyone") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = minhash_lsh_pairs(docs, hash_fn="xxhash64").count()
    assert uncapped == n * (n - 1) // 2
    stats: dict = {}
    capped = minhash_lsh_pairs(
        docs, hash_fn="xxhash64", max_bucket_df=10, stats=stats
    )
    assert capped.count() == 0
    t = stats["truncation"].first()
    # 4 bands × one hot bucket each, each dropping C(40,2) raw pairs.
    assert t["hot_buckets"] == 4
    assert t["dropped_pairs"] == 4 * n * (n - 1) // 2


def test_bucket_cap_keeps_cold_buckets_alongside_hot(spark):
    """Mixed corpus: hot boilerplate cluster capped away, cold exact-dup
    pair still emitted — the cap is per bucket, not a global switch."""
    rows = [(i, "exactly the same boilerplate text for everyone") for i in range(30)]
    rows += [(100, "a genuinely unique document body xyzzy"),
             (101, "a genuinely unique document body xyzzy")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            docs, hash_fn="xxhash64", max_bucket_df=10
        ).collect()
    }
    assert pairs == {(100, 101)}
