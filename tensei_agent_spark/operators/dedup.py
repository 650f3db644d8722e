"""Deduplication operators — exact and near-duplicate.

Exact/unique-column dedup reproduces the reference's write-side filter
(``writers/BaseWriterFilterWorker.scala:231-280`` drops rows whose
unique-column values were already written). The near-dup family
(MinHash-LSH, SimHash, n-gram Jaccard, embedding cosine) is the
beyond-reference training-data-pipeline surface.

Scale design notes
------------------
- Everything is expressed as hash-partitioned groupBy/join — no driver
  materialization, no cross product. Pairwise comparisons only happen
  *within* LSH buckets / shared-shingle groups, which bounds the blow-up.
- Hashes use md5 (identical across Spark and the DuckDB oracle), and
  MinHash takes the lexicographic MIN of seeded md5 hex digests — a
  uniform permutation approximation that is engine-portable and needs
  no UDF.
"""

from __future__ import annotations

import logging
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import track

logger = logging.getLogger(__name__)


# Shared with the classifier and any other CPU-bound map stage; the
# canonical implementation (and its AQE-safe partition probe) lives in
# operators/spread.py. Re-exported here for the existing call sites.
from .spread import spread_for_cpu_map  # noqa: E402,F401


def dedup_exact(
    df: DataFrame,
    unique_cols: Sequence[str],
    keep_order: Sequence[str],
) -> DataFrame:
    """Keep exactly one row per unique-column combination.

    The survivor is the first row under ``keep_order`` — the reference
    keeps the first row *written*; a distributed engine needs an explicit
    order to make "first" deterministic. One hash shuffle on the unique
    cols; no global sort.
    """
    w = Window.partitionBy(*unique_cols).orderBy(*[F.col(c) for c in keep_order])
    return (
        df.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") == 1)
        .drop("_rank")
    )


def exact_text_dups(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Group documents by content hash; report groups with >1 member.

    Returns (content_hash, n_dups, canonical_id) — canonical is the min
    id, the standard "keep lowest id" policy. Single hash-shuffle on the
    digest; at 100 TB this is the cheapest dedup pass and runs first.
    """
    text = F.col(text_col)
    if normalize:
        text = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    return (
        docs.select(F.md5(text).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("canonical_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


def word_ngram_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 10,
    step: int = 1,
) -> DataFrame:
    """Explode each document into hashed w-word windows.

    ``step=1`` gives every overlapping window (the exact-substring-dedup
    building block of Lee et al., "Deduplicating Training Data Makes
    Language Models Better" — their suffix-array pass reduces to finding
    repeated fixed-length windows); ``step=w`` gives non-overlapping
    blocks (the CCNet paragraph-dedup analogue for text without
    paragraph structure). Output: (id, start_pos, win_hash) where
    win_hash = md5 of the space-joined window — portable to any SQL
    oracle.

    All map-side (split + sequence + slice + md5): ZERO exchanges;
    downstream repeat-detection is one hash shuffle on win_hash. Docs
    shorter than w words produce no spans.
    """
    # \s+ (not ' +'): line-wrapped text must tokenize identically to the
    # rest of the text operators — under a space-only split, a newline
    # fuses two words into one token and identical sentences hash
    # differently across wrapped/unwrapped copies.
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    # The window fan-out (~|words| windows/doc, each md5-hashed) is a
    # CPU-heavy map that fuses into the scan — spread it so a few-split
    # corpus doesn't serialize it on one core (pass-through at scale).
    d = (
        spread_for_cpu_map(docs.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), words.alias("_ws"))
        .withColumn("_nw", F.size("_ws"))
        .filter(F.col("_nw") >= w)
    )
    idx = F.explode(
        F.sequence(F.lit(1), F.col("_nw") - F.lit(w) + 1, F.lit(step))
    )
    return d.select(F.col(id_col), idx.alias("start_pos"), "_ws").select(
        F.col(id_col),
        "start_pos",
        F.md5(F.concat_ws(" ", F.slice("_ws", F.col("start_pos"), w))).alias(
            "win_hash"
        ),
    )


def repeated_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 10,
    step: int = 1,
) -> DataFrame:
    """Windows whose content repeats anywhere in the corpus:
    (win_hash, n_occurrences, n_docs, canonical_id), repeats only.

    One hash shuffle on win_hash with map-side partial aggregation —
    the partial collapses each partition's span stream to its distinct
    hashes, so the exchange carries ~|distinct windows| rows, not
    |corpus words|. Boilerplate windows are by definition hot keys;
    AQE's skew handling splits them. Scales.
    """
    spans = word_ngram_spans(docs, text_col, id_col, w, step)
    return (
        spans.groupBy("win_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct(id_col).alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
        .filter(F.col("n_occurrences") > 1)
    )


def char_shingles(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    distinct: bool = True,
) -> DataFrame:
    """Explode each document into its k-char shingles.

    JVM-side only: ``sequence`` + ``explode`` + ``substring`` — no Python
    in the hot path. ``distinct=True`` (set semantics, one shuffle) for
    Jaccard counting; duplicate-insensitive consumers (MinHash's min)
    pass False and skip that shuffle entirely.
    """
    n = F.greatest(F.length(F.col(text_col)) - F.lit(k - 1), F.lit(1))
    # byte-small but CPU-heavy inputs (one parquet split) would run the
    # whole shingle fan-out in one task — see spread_for_cpu_map.
    docs = spread_for_cpu_map(docs.select(F.col(id_col), F.col(text_col)))
    out = docs.select(
        F.col(id_col),
        F.col(text_col),
        F.explode(F.sequence(F.lit(1), n)).alias("_pos"),
    ).select(
        F.col(id_col),
        F.expr(f"substring({text_col}, _pos, {k})").alias("shingle"),
    )
    return out.distinct() if distinct else out


# Sampled-df tuning (ngram_jaccard_pairs). The sample must resolve the
# df band that actually drives candidate blowup, and that band is
# corpus-dependent: on web-shaped corpora (long rare tail + hot
# boilerplate head) a few hundred thousand sampled postings suffice,
# but on NEAR-DUP-DENSE corpora every shingle sits in a mid band
# (df ≈ cluster size, 2-64) that a starved sample cannot see — prefix
# selection then degrades toward random order among unresolved
# shingles. Measured on the x8 derived near-dup corpus (46 M postings,
# every doc in an 8-clone cluster), interleaved variants in one
# session: frac ≤0.05 +28% over the exact df; frac 0.25 consistently
# ~5-8% behind (estimates quantized to multiples of 4 collapse the df
# 8-64 cluster band); frac 0.5 statistically indistinguishable from
# the exact df across two interleaved sessions (quantization 2 ≈
# exact). Hence a FRACTION FLOOR of 0.5: near-exact pruning at any
# scale, the df groupBy shuffles 2× less than an exact df would, and
# the capped BROADCAST rank table — which deletes the shuffled rank
# JOIN entirely — is unconditional. Tiny corpora (hint ≤ ~32 KiB of
# Catalyst estimate, ≲300 K postings) and unknown-stats inputs use
# frac 1.0 (exact df). All knobs trade pruning sharpness for sample
# cost, NEVER correctness — the pair set is exact under any consistent
# order (pinned against brute force down to a forced ~0.3% sample).
# _DF_TABLE_CAP bounds the broadcast rank table (~16 B/entry → ~16 MB
# at the cap) so it broadcasts at any corpus size.
_DF_SAMPLE_TARGET_BYTES = 32 * 1024
_DF_MIN_FRAC = 0.5
_DF_TABLE_CAP = 1 << 20
_DF_SAMPLE_SEED = 91765431


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    threshold: float = 0.8,
    bit_screen: bool = False,
    max_shingle_df: int | None = None,
    size_hint_bytes: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Near-dup pairs by EXACT n-gram Jaccard, via prefix filtering
    (the SSJoin/PPJoin candidate-pruning lemma).

    Emits (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold;
    J = |A∩B| / (|A| + |B| - |A∩B|).

    The naive inverted index (bucket every shingle, explode in-bucket
    pairs) is quadratic in bucket size and melts down on hot shingles —
    boilerplate n-grams put thousands of docs in one bucket. Prefix
    filtering keeps it exact while bucketing ONLY each doc's rarest
    shingles: under a global (document-frequency, shingle) order,
    J(A,B) ≥ t requires |A∩B| ≥ ⌈t·|A|⌉, and by pigeonhole any such
    pair shares a shingle within both docs' first |X| − ⌈t·|X|⌉ + 1
    ordered shingles. Hot shingles sort LAST, so they never generate
    candidates. Candidates (ids only — no arrays ride the bucket
    shuffle) then verify exactly against the real string sets. Measured
    at sf0.1 (5000 docs, max bucket 3859): the naive form times out;
    this runs in seconds with ~10⁴ candidates instead of ~10⁸ bucket
    pairs. (The df order is load-bearing: an order-agnostic hash order
    — which would make prefixes map-side-computable — measured 13×
    more candidates and 5× the wall clock, because mid-frequency
    shingles land in prefixes.)

    The rarity order comes from a SAMPLED document frequency: a
    deterministic sample of the token table (fraction floored at
    ``_DF_MIN_FRAC``; 1.0 — the exact df — on tiny corpora and
    unknown-stats inputs) feeds a capped (shingle → df) table that is
    broadcast, so the rank join is a map-side probe at any corpus
    size. The order only steers candidate pruning, and the prefix
    lemma holds for any consistent total order on shingles (ties
    always break on the shingle value), so the pair set is exact
    whatever the sample saw.

    Five stages, each DataFrame in and DataFrame out: token sets and
    the OPH signature (``_ngram_token_sets``), the df rank and prefix
    slice with its valves (``_ngram_prefixes``), the PPJoin candidate
    self-join (``_ngram_candidates``), the bit and token screen
    (``_ngram_screen``) and the exact string verify
    (``_ngram_verify``).

    ``max_shingle_df``: candidate-stage safety valve for boilerplate-
    heavy shards. Prefix shingles whose document frequency exceeds the
    cap are EXCLUDED from candidate generation — a shingle shared by d
    docs expands to O(d²) candidate pairs, so one templated n-gram that
    survives into prefixes can blow the join output quadratically at
    scale. The cap is LOSSY above itself: a pair whose only shared
    prefix shingles are hot is missed. With the exact df (frac 1.0 —
    tiny corpora, unknown-stats inputs, and every cap ≤ 50, which the
    valve-resolution floor forces to frac 1.0) the cap decision is
    exact and deterministic, and below the cap the output is
    bit-identical to the uncapped run (pinned by test). With frac < 1
    the compared df is the scaled sample estimate ``ceil(sdf/frac)`` —
    quantized to multiples of 1/frac with noise σ ≈ √(df/frac) — so
    shingles within a ±~4·√(cap/frac) band of the cap (±~250 at cap
    2000, frac 0.5) can flip sides run-to-layout: the below-cap-parity
    guarantee weakens to "exact outside the band", and the lossy set
    is deterministic only for a fixed seed AND input layout. A frac
    floor of min(1, 50/cap) keeps the band proportionally narrow.
    Never silent: engaging it logs, and ``stats`` (pass a dict)
    receives ``stats["truncation"]`` — a LAZY one-row frame
    (hot_shingles, dropped_postings) over the already-persisted prefix
    table, so observability costs no extra lineage — plus the chosen
    ``stats["df_frac"]`` and the lazy rank-table frame
    ``stats["df_table"]``. The estimate comparison is BACKSTOPPED by an
    exact prefix fan-out valve: shingles whose materialized prefix
    postings exceed the cap are anti-joined away regardless of what
    the estimate said (prefix-count ≤ corpus df, so every drop is
    licensed by this same contract; ``stats["prefix_truncation"]``
    quantifies it). This closes the saturated-rank-table blind spot —
    a hotter-than-table shingle reading df 0 lands in every holder's
    prefix and would otherwise expand to O(df²) candidates with no
    bound at all. Default None = exact, uncapped (the oracle-compared
    queries).

    ``size_hint_bytes``: estimated input size steering the sample
    fraction, the rank-table cut and the broadcast hints. Default None
    reads Catalyst's plan-level estimate (file sizes × selectivity) —
    pure driver-side metadata, NO job — so explain-only builds never
    pay a corpus scan. Derived inputs whose stats degrade to "unknown"
    (JDBC, RDD-backed) fall back to the exact df and the shuffle path,
    which AQE upgrades back to broadcast at runtime from actual
    shuffle sizes.

    ``bit_screen=True`` inserts a probabilistic OPH bit-signature
    pre-screen between candidate generation and the exact verify chain
    — a large constant-factor win on low-entropy corpora (see the
    analysis at ``_ngram_screen``) at a quantified ~6e-4 drop risk for
    pairs sitting exactly at the threshold. The default (False) keeps
    every stage exact; oracle-compared registry queries use the
    default, the rows-only ``dedup_ngram_jaccard_fast`` twin opts in.
    """
    # The screen engages only when the adaptive cutoff can bite for
    # typical pairs (see the margin math at the screen; 3.3/√both
    # ≈ 0.21 at the both ≈ 250 a 256-bucket signature yields on
    # ~1k-token docs); below that the signature columns would be dead
    # weight in the cache, so they are only added when used.
    use_bit_screen = bit_screen and threshold - 0.21 > 0.05
    tok_sets = _ngram_token_sets(docs, text_col, id_col, k, use_bit_screen)
    # Size estimate steering the sample and the broadcast hints — ZERO
    # jobs: Catalyst's optimized-plan sizeInBytes is driver-side
    # metadata (file sizes × filter selectivity), so a build that never
    # executes (explain, plan audits) costs nothing.
    if size_hint_bytes is None:
        try:
            size_hint_bytes = int(
                docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:  # unknown stats → exact df, shuffle path
            size_hint_bytes = 1 << 60
    pfx = _ngram_prefixes(
        tok_sets, id_col, threshold, max_shingle_df, size_hint_bytes, stats
    )
    cand = _ngram_candidates(pfx, id_col, threshold)
    # The row estimate bounds the corpus text bytes, hence ~8 bytes of
    # 64-bit token per text char bounds the per-doc token payload the
    # screen attaches. Parquet compression makes the estimate read LOW
    # relative to raw chars (~2-3×), so the 64 MB gate flips to the
    # shuffle path a little early at scale — the conservative
    # direction, and AQE re-promotes a provably-small side at runtime.
    small = size_hint_bytes * 8 < 64 * 1024 * 1024
    screened = _ngram_screen(
        cand, tok_sets, id_col, threshold, use_bit_screen, small
    )
    return _ngram_verify(screened, docs, text_col, id_col, k, threshold)


def _ngram_token_sets(
    docs: DataFrame, text_col: str, id_col: str, k: int, use_bit_screen: bool
) -> DataFrame:
    """Stage 1: per-doc sorted 64-bit token set (``_ts``, ``n_sh``)
    plus, when the bit screen is on, its OPH signature (``_m0..3`` bucket
    masks, ``_g0..3`` sign bits) — persisted and hash(id)-partitioned."""
    # Candidate generation runs ENTIRELY on 64-bit xxhash TOKENS — the
    # corpus-wide string shingle arrays are never materialized (strings
    # are re-shingled later for the handful of surviving docs only).
    # Every shuffle in the rank/bucket/screen stages therefore moves
    # 8-byte longs instead of k-char strings. This stays EXACT: a hash
    # collision can only MERGE tokens, which inflates token overlap and
    # shrinks token set sizes — both relax the candidate bounds — so
    # true pairs always survive to the final string-set verification.
    #
    # tok_sets is a pure map expression (ZERO exchanges), persisted
    # because it feeds both the postings and the screening join.
    # MEMORY_AND_DISK by default, so at scale it spills, not OOMs;
    # cache.track releases it when the next registry query builds.
    # array_sort on top: the screening phase intersects these arrays
    # 10⁵ times; pre-sorted inputs measured ~30% faster there (better
    # locality in array_intersect's probe), and sorting once map-side
    # here is noise.
    tok_arr = F.expr(
        f"array_sort(array_distinct(transform("
        f"sequence(1, greatest(length({text_col}) - {k - 1}, 1)),"
        f" i -> xxhash64(substring({text_col}, i, {k})))))"
    )
    # One-permutation-hashing bit signature, computed in the SAME map
    # stage (zero extra exchanges): 256 buckets keyed by hash bits 8-15,
    # one sign bit per bucket = the LOW bit of the bucket's minimum
    # token. _ts is sorted ascending, so the FIRST element seen per
    # bucket in array order IS the bucket min — the fold never needs
    # 256 mutable slots, just first-wins bit sets over 4 (mask, sig)
    # long pairs. Bucket index and sign bit come from DISJOINT hash
    # bits (8-15 vs 0) — deriving both from the same bits makes the
    # sign a function of the bucket and every doc's signatures collide
    # (measured: a mod-256 bucket key passed 100% of candidates).
    def _oph_word(w: int):
        lo, hi = 64 * w, 64 * w + 64
        return F.expr(
            f"""aggregate(
              _ts,
              named_struct('m', 0L, 's', 0L),
              (a, x) -> CASE
                WHEN (shiftright(x, 8) & 255) >= {lo}
                 AND (shiftright(x, 8) & 255) < {hi}
                 AND (a.m & shiftleft(1L, cast(shiftright(x, 8) & 63 as int))) = 0
                THEN named_struct(
                  'm', a.m | shiftleft(1L, cast(shiftright(x, 8) & 63 as int)),
                  's', a.s | shiftleft(x & 1L, cast(shiftright(x, 8) & 63 as int)))
                ELSE a END)"""
        )

    # The shingle+OPH map is the single most CPU-expensive stage —
    # spread it across cores even when the input is one parquet split
    # (the verify stage keeps the raw `docs`: its scans are passthrough).
    tok_sets = spread_for_cpu_map(
        docs.select(F.col(id_col), F.col(text_col))
    ).select(F.col(id_col), tok_arr.alias("_ts")).withColumn(
        "n_sh", F.size("_ts")
    )
    if use_bit_screen:
        for w in range(4):
            tok_sets = tok_sets.withColumn(f"_w{w}", _oph_word(w))
        tok_sets = tok_sets.select(
            id_col,
            "_ts",
            "n_sh",
            *[F.col(f"_w{w}")["m"].alias(f"_m{w}") for w in range(4)],
            *[F.col(f"_w{w}")["s"].alias(f"_g{w}") for w in range(4)],
        )
    # Exchange ABOVE the map, not just below: tok_sets feeds up to five
    # branches (freq, ga/gb, ta/tb) whose broadcast jobs race the cold
    # cache concurrently and would each recompute the shingle+OPH map
    # (measured 59.7 cpu-s — ~5x the 12 cpu-s map — at sf0.1). With the
    # map sandwiched between two exchanges, AQE stage reuse materializes
    # its shuffle output exactly once and every branch (cache build
    # included) reads shuffle files instead of re-hashing. The extra
    # shuffle moves the ~10 KB/doc token arrays one hop — noise against
    # a 5x map recompute at any scale.
    return track(
        tok_sets.repartition(
            docs.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
        )
    )


def _ngram_prefixes(
    tok_sets: DataFrame,
    id_col: str,
    threshold: float,
    max_shingle_df: int | None,
    size_hint_bytes: int,
    stats: dict | None,
) -> DataFrame:
    """Stage 2: sampled df rank, then each doc's PPJoin prefix in rarity
    order — (id, n_sh, pos, shingle), persisted — with the estimate
    valve and the exact prefix fan-out valve when ``max_shingle_df``
    is set."""
    # Document frequency by hash-aggregate + hash-join, then per-doc
    # rarity order by collect_list + array_sort. Deliberately NOT window
    # functions: a count-over-shingle / row_number-over-id pair moves
    # the same stream through two full SORTS (WindowExec sorts within
    # every partition), measured 2× slower than this hash-only shape.
    postings = tok_sets.select(
        F.col(id_col), "n_sh", F.explode("_ts").alias("shingle")
    )
    # The order steers PRUNING only, which licenses three bounds:
    #
    # 1. df comes from a deterministic Bernoulli SAMPLE of the
    #    persisted token table — the groupBy shuffles frac·|tokens|
    #    longs, never the full postings stream. frac is floored at
    #    _DF_MIN_FRAC (calibration note at the constants). Unknown
    #    stats (JDBC/RDD-backed inputs report ~Long.MaxValue, and the
    #    caller pins 2^60 when the estimate fails) must NOT be read as
    #    "huge corpus": that would starve the sample, leaving pruning
    #    on raw token order AND making the max_shingle_df valve inert
    #    (an empty rank table reads every shingle as df 0). They use
    #    frac 1.0 — the exact df — as do tiny corpora.
    # 2. Shingles sampled ONCE are dropped (df >= 2): a singleton's
    #    rank ties on the shingle value either way, and the long
    #    tail is almost all singletons — the table keeps only the
    #    head of the distribution, where order actually matters.
    # 3. The table is capped to the hottest _DF_TABLE_CAP entries
    #    ((df desc, shingle) — a deterministic TakeOrdered), so it
    #    broadcasts at ANY corpus size. Absent shingles read df 0
    #    (rare → sort first, tie-break on the shingle value).
    #    ORDER-wise the cut is sound: a shingle only falls off when
    #    2^20 others are hotter, i.e. it IS relatively rare in that
    #    corpus. VALVE-wise it is sound only while the table is not
    #    saturated above the cap (min kept df ≤ max_shingle_df ⟹
    #    every absent shingle's estimate is below the cap); a table
    #    whose 2^20-th entry still exceeds the cap hides hotter-than-
    #    cap shingles as df 0 — the exact fan-out valve below bounds
    #    that, and ``stats["df_table"]`` exposes it.
    #
    # The rank join is then a map-side broadcast probe, and the per-doc
    # regroup runs exchange-free at runtime: tok_sets is
    # hash(id)-partitioned, explode + broadcast-join preserve that, and
    # AQE's TableCacheQueryStage exposes the cache's partitioning, so
    # partial and final ObjectHashAggregate run back-to-back on it
    # (asserted by tests/test_plan_quality.py). The df-sample groupBy
    # is the only postings-derived shuffle.
    frac = (
        1.0
        if size_hint_bytes >= (1 << 59)
        else max(
            _DF_MIN_FRAC,
            min(1.0, _DF_SAMPLE_TARGET_BYTES / max(size_hint_bytes, 1)),
        )
    )
    if max_shingle_df is not None:
        # Valve-resolution floor: the valve compares the SCALED
        # estimate ceil(sdf/frac) to the cap, and that estimate is
        # quantized to multiples of 1/frac with sampling noise
        # σ ≈ √(df/frac). A cap below the estimator's resolution would
        # turn the valve into nonsense (cap=3 at frac=0.5 would drop
        # every shingle the sample saw twice, est ≥ 4), so force the
        # sample fine enough that ~50 expected hits land at the cap
        # boundary — caps ≤ 50 therefore use the exact df.
        frac = max(frac, min(1.0, 50.0 / max_shingle_df))
    if stats is not None:
        stats["df_frac"] = frac
    samp = tok_sets if frac >= 1.0 else tok_sets.sample(
        fraction=frac, seed=_DF_SAMPLE_SEED
    )
    freq = (
        samp.select(F.explode("_ts").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_sdf"))
        .filter(F.col("_sdf") >= 2)
        # Scale sampled counts back to corpus estimates so the
        # max_shingle_df valve keeps its corpus-df meaning. ceil:
        # never under-read a hot shingle (the valve's lossy side).
        .select(
            "shingle",
            F.ceil(F.col("_sdf") / F.lit(frac)).cast("long").alias("_df"),
        )
    )
    # The _DF_TABLE_CAP head cut only has anything to cut once the
    # df≥2 vocabulary CAN exceed the cap, and below 2·cap corpus bytes
    # it provably cannot (every df≥2 shingle costs ≥2 postings ≥2 text
    # bytes) — the same provable-no-op gate as the prefix fan-out
    # valve. Skipping the no-op sort+limit removes the TakeOrdered pass
    # from every sub-2·cap build with a bit-identical freq row set.
    if size_hint_bytes >= 2 * _DF_TABLE_CAP:
        freq = freq.orderBy(F.desc("_df"), "shingle").limit(_DF_TABLE_CAP)
    ranked = (
        postings.join(F.broadcast(freq), "shingle", "left")
        .na.fill({"_df": 0})
        .groupBy(id_col)
        .agg(
            F.min("n_sh").alias("n_sh"),
            F.array_sort(
                F.collect_list(F.struct(F.col("_df"), F.col("shingle")))
            ).alias("_ranked"),
        )
    )
    pfx = ranked.select(
        F.col(id_col),
        F.col("n_sh"),
        F.posexplode(
            F.expr(
                f"slice(_ranked, 1, n_sh - cast(ceil(n_sh * {threshold}) as int) + 1)"
            )
        ),
    ).select(
        F.col(id_col),
        F.col("n_sh"),
        (F.col("pos") + 1).alias("pos"),  # 1-based position in rarity order
        F.col("col.shingle").alias("shingle"),
        # The document frequency rides along only when the cap needs it.
        *([F.col("col._df").alias("_df")] if max_shingle_df is not None else []),
    )
    # pfx feeds BOTH sides of the candidate self-join — without a
    # persist the whole postings→freq-join→collect→posexplode pipeline
    # executes twice (Spark does not share subplans across join sides).
    pfx = track(pfx)
    if max_shingle_df is None:
        return pfx
    # No-silent-caps: engaging the valve always logs, and the exact
    # drop volume is exposed as a lazy aggregate over the persisted
    # prefix table (one extra cache read when actioned, no new
    # lineage). Hot shingles sort LAST in rarity order, so in healthy
    # corpora the prefix slice already excludes them and both counters
    # read 0.
    logger.info(
        "ngram_jaccard_pairs: candidate stage capped at shingle df "
        "<= %d against df sampled at frac %.3g (below 1, shingles within "
        "the sampling-noise band of the cap may flip sides "
        "run-to-layout); pairs linked only through hotter shingles are "
        "dropped (stats['truncation'] quantifies)", max_shingle_df, frac,
    )
    if stats is not None:
        stats["truncation"] = pfx.filter(
            F.col("_df") > max_shingle_df
        ).agg(
            F.count_distinct("shingle").alias("hot_shingles"),
            F.count(F.lit(1)).alias("dropped_postings"),
        )
        # Valve soundness: absent-from-table shingles read df 0, which
        # is sound only while the capped table is NOT saturated above
        # the cap — a lazy 1-row frame over the broadcast-sized table.
        stats["df_table"] = freq.agg(
            F.count(F.lit(1)).alias("n_entries"),
            F.min("_df").alias("min_df"),
            (
                (F.count(F.lit(1)) == F.lit(_DF_TABLE_CAP))
                & (F.min("_df") > F.lit(max_shingle_df))
            ).alias("valve_blind_spot"),
        )
    pfx = pfx.filter(F.col("_df") <= max_shingle_df).drop("_df")
    # EXACT prefix fan-out valve: the estimate filter above has a
    # catastrophic blind spot at saturation — a shingle HOTTER than the
    # capped rank table's floor is absent from the table, reads df 0,
    # sorts as the RAREST shingle in every holder's rarity order, lands
    # in every holder's prefix, and detonates the candidate self-join
    # (measured: a 2.9k-shingle hot band overflowing a forced 8k cap on
    # a 300k-doc corpus produced ~3.6e10 candidate rows and filled
    # 80 GB of spill before dying). At a real 2^20 cap the 2^20+1-th
    # hottest shingle of a large enough corpus has df far above any
    # useful cap, and the same failure is guaranteed. So the valve is
    # re-checked EXACTLY on the materialized prefix stream: count
    # postings per shingle (map-side partial agg on the persisted pfx
    # cache — one row per distinct PREFIX shingle, a small fraction of
    # the postings), and anti-join away shingles whose prefix fan-out
    # exceeds the cap. prefix-count ≤ corpus df, so prefix-count > cap
    # ⟹ corpus df > cap — every drop is licensed by the existing lossy
    # valve contract, and the join fan-out is bounded by cap² per
    # shingle UNCONDITIONALLY. The anti-join keys by shingle — the
    # exact partitioning the candidate join needs — so its exchange
    # replaces (not adds to) the join's own; AQE broadcasts the
    # hot-shingle side when it is small (≤ |pfx|/cap rows).
    # ZERO-JOB gate: the blind spot requires the rank table to
    # SATURATE, which needs > _DF_TABLE_CAP distinct df≥2 shingles;
    # every df≥2 shingle costs ≥ 2 postings and postings ≤ k-gram count
    # ≤ text chars ≤ size_hint, so a corpus under 2·cap bytes CANNOT
    # saturate the table and the estimate filter above already dropped
    # the hot ones. Below the gate (every test SF and the bench corpus)
    # the valve would be a provable no-op costing a groupBy + anti-join,
    # measured +1.2 s on the 2.6 s bench query. Unknown stats read huge
    # (2^60) and conservatively ENGAGE the valve.
    if size_hint_bytes >= 2 * _DF_TABLE_CAP:
        pfx_hot = (
            pfx.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_pdf"))
            .filter(F.col("_pdf") > max_shingle_df)
        )
        if stats is not None:
            # The grouped frame already holds the counts: hot_shingles
            # = its row count, dropped postings = its _pdf sum.
            stats["prefix_truncation"] = pfx_hot.agg(
                F.count(F.lit(1)).alias("hot_shingles"),
                F.coalesce(F.sum("_pdf"), F.lit(0)).alias("dropped_postings"),
            )
        pfx = pfx.join(pfx_hot.select("shingle"), "shingle", "left_anti")
    return pfx


def _ngram_candidates(pfx: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """Stage 3: candidate (id_a, id_b) pairs, oriented small→large, from
    the PPJoin self-join of the prefix postings (duplicates kept)."""
    # Candidate generation = SELF-EQUI-JOIN of the prefix postings on
    # the shingle, with PPJoin positional + length pruning inline: at
    # the pair's first shared prefix shingle, overlap ≤ 1 + min of the
    # remaining suffix lengths, and J ≥ t requires overlap ≥
    # ⌈t/(1+t)·(|A|+|B|)⌉ (exact, from c ≥ t(na+nb−c)) — strictly
    # tighter than ⌈t·max⌉ whenever sizes are comparable — so pairs
    # that cannot reach it (or fail |min| ≥ t·|max|) never survive.
    #
    # A join, NOT a per-bucket collect_list + pair lambda: the lambda
    # runs each bucket's O(|b|²) expansion inside ONE task, so a few
    # hot prefix shingles serialize the whole stage on single cores.
    # The shuffle join produces the identical pair stream but AQE
    # skew-splits hot shingle keys across tasks (measured 16.8s → 11.1s
    # at sf0.1, and the gap widens with corpus skew).
    # Asymmetric prefixes (All-Pairs / PPJoin indexing rule): orient
    # every pair small→large — (n_a, id_a) < (n_b, id_b) lexicographic —
    # so each unordered pair is generated under exactly ONE orientation.
    # For a qualifying pair, c = |A∩B| satisfies c ≥ 2t/(1+t)·n_a (from
    # c ≥ t/(1+t)(n_a+n_b), n_b ≥ n_a) and c ≥ t·n_b (from n_a ≥ t·n_b,
    # itself implied by J ≥ t). The smallest common shingle in rarity
    # order sits at position ≤ n−c+1 in BOTH docs, i.e. within the
    # PROBE prefix n_a − ⌈2t/(1+t)·n_a⌉ + 1 of A (≈0.11·n at t=0.8,
    # nearly half the ⌈t⌉ prefix) and the full INDEX prefix of B — so
    # filtering the probe side to the shorter prefix loses no true pair
    # while cutting the join's expansion ~in half (measured 276k → 149k
    # candidates at sf0.1).
    t2 = threshold / (1.0 + threshold)
    probe_len = F.expr(
        f"n_sh - cast(ceil(n_sh * {2 * threshold / (1.0 + threshold)}) as int) + 1"
    )
    pa = pfx.filter(F.col("pos") <= probe_len).select(
        F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"),
        F.col("pos").alias("pos_a"), "shingle",
    )
    pb = pfx.select(
        F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"),
        F.col("pos").alias("pos_b"), "shingle",
    )
    return (
        pa.join(pb, "shingle")
        .filter(
            (F.col("n_a") < F.col("n_b"))
            | ((F.col("n_a") == F.col("n_b")) & (F.col("id_a") < F.col("id_b")))
        )
        .filter(
            1
            + F.least(
                F.col("n_a") - F.col("pos_a"), F.col("n_b") - F.col("pos_b")
            )
            >= F.ceil((F.col("n_a") + F.col("n_b")) * F.lit(t2))
        )
        .filter(F.col("n_a") >= F.lit(threshold) * F.col("n_b"))
        .select("id_a", "id_b")
    )


def _ngram_screen(
    cand: DataFrame,
    tok_sets: DataFrame,
    id_col: str,
    threshold: float,
    use_bit_screen: bool,
    small: bool,
) -> DataFrame:
    """Stage 4: distinct candidates that pass the optional OPH bit
    screen and the token-Jaccard screen at threshold − 0.05."""
    # Two-phase verification. Phase 1 (this stage) screens the candidate
    # pairs by intersecting the 64-bit TOKEN arrays — long-typed
    # intersection is several times cheaper than intersecting k-char
    # string arrays, and candidates outnumber true pairs by orders of
    # magnitude (measured 198k → 256 at sf0.1; the string-side verify
    # was 30s of a 25s+5s total before this split). A token collision
    # shifts token-Jaccard by at most ~1/|smaller set| per colliding
    # shingle, so screening at threshold − 0.05 cannot drop a true pair
    # unless >0.05·|set| of a pair's shingles collide simultaneously
    # (vanishingly unlikely, and the margin is tunable). Phase 2
    # (_ngram_verify) computes EXACT string-set Jaccard on the screen's
    # survivors only — the reported numbers are exactly the naive
    # definition, bit-identical to the SQL oracle.
    #
    # Dedup placement: a pair sharing several prefix shingles appears
    # several times in `cand`, and every duplicate that reaches the
    # screen re-pays an O(|A|+|B|) array intersect — measured at
    # sf0.1/t=0.8 (1.4× duplication, 276k raw vs 199k distinct):
    # screen-raw 8.4s vs distinct 2.5s + screen 3.2s. The duplication
    # factor only grows as the threshold drops (prefix length ≈
    # (1−t)·n), and the at-scale non-broadcast path also wants
    # duplicates off BOTH token-attach shuffles, so distinct first
    # unconditionally. When the token payload is provably `small` the
    # screen sides are broadcast too.
    #
    # Bit-signature pre-screen (engaged whenever the margin leaves a
    # usable cutoff): the token screen hauls two ~n_sh-long arrays to
    # every candidate and pays an O(n) intersect each — measured 6.5 s
    # for the 1.97 M candidates sf0.1/t=0.6 produces (prefix filtering
    # degrades on low-entropy corpora: this one's tiny vocabulary makes
    # every shingle common). The OPH signature decides the same
    # question with 8 longs a side and ~20 bit ops: per both-nonempty
    # bucket, P(sign bits match) = (1+J)/2, so est = 2·match/both − 1
    # estimates J with σ = 2·√(p(1−p)/both) ≤ 1/√both. Requiring
    #   est ≥ t − 3.3/√both
    # holds every pair to the same ≥3.3σ standard — and strictly more
    # at the threshold itself, where p = (1+t)/2 gives
    # σ = √(1−t²)/√both: the margin is 3.3/√(1−t²) σ, i.e. 4.1σ at
    # t=0.6 (risk ≤ 2e-5/pair) and 5.5σ at t=0.8. A fixed t−0.30
    # cutoff calibrated for both ≈ 120 left typical sf0.1 pairs
    # (median both = 151, p90 = 177) ~4.6σ of unused slack — measured
    # 319 938 → 73 802 screen survivors (−77%) on identical final
    # output. Small both degrades gracefully: the margin widens until
    # the cutoff falls below any possible estimate; both=0 (no joint
    # buckets, no evidence) passes to the exact screen.
    # Honesty contract: this stage is PROBABILISTIC — a true pair
    # sitting exactly at the threshold carries ≤ Φ(−3.3/√(1−t²)) drop
    # risk, ≈2e-5 at t=0.6 and ~2e-8 at t=0.8 (zero measured at either
    # SF: sketch bias is upward for near-dups, and real near-dup pairs
    # sit far above t). This is also why the DEFAULT is
    # bit_screen=False — the oracle-compared registry queries keep the
    # strictly-exact chain.
    #
    # Screen runs AFTER the distinct: the tempting screen-before-
    # distinct order (broadcast probes pipelined into the candidate
    # join, distinct shrunk to the survivors) measured SLOWER
    # end-to-end (8.1 s vs 6.9 s at sf0.1) — each duplicated pair
    # re-pays the 16-long probe + bit arithmetic, and that redundancy
    # outweighs the 5.9 M→150 k distinct-input cut.
    #
    # ONE per-doc attach relation (id, sigs…, _ts, n_sh), joined once
    # per pair side: attaching signatures and token arrays through
    # separate per-side relations costs four joins over the same
    # per-doc stream, and at scale ships the sig stream AND the token
    # stream once per side. The sig cutoff still screens BEFORE any
    # intersect runs: the fused filter is `sig_pass AND token_pass` and
    # codegen's conjunction short-circuits, so a sig-rejected pair
    # never evaluates the O(n) array_intersect. The accepted trade:
    # screen decisions ride the token-bearing relation, so the
    # mid-size regime where the 72 B/doc sig table alone would be
    # broadcastable but the token payload is not takes the shuffle
    # path — AQE re-promotes at runtime from actual sizes when the
    # estimate was conservative.
    sig_cols = (
        [F.col(f"_m{w}") for w in range(4)]
        + [F.col(f"_g{w}") for w in range(4)]
        if use_bit_screen
        else []
    )
    att = tok_sets.select(F.col(id_col).alias("_tid"), "_ts", "n_sh", *sig_cols)
    if small:
        att = F.broadcast(att)
    a_side = cand.distinct().join(
        att, F.col("id_a") == F.col("_tid")
    ).select(
        "id_a",
        "id_b",
        F.col("_ts").alias("_ta"),
        F.col("n_sh").alias("n_ta"),
        *(
            [F.col(f"_m{w}").alias(f"_ma{w}") for w in range(4)]
            + [F.col(f"_g{w}").alias(f"_ga{w}") for w in range(4)]
            if use_bit_screen
            else []
        ),
    )
    paired = a_side.join(att, F.col("id_b") == F.col("_tid"))
    if use_bit_screen:
        both = F.lit(0)
        match = F.lit(0)
        for w in range(4):
            both = both + F.bit_count(F.expr(f"_ma{w} & _m{w}"))
            match = match + F.bit_count(
                F.expr(f"~(_ga{w} ^ _g{w}) & _ma{w} & _m{w}")
            )
        paired = (
            paired.withColumn("_both", both)
            .withColumn("_match", match)
            .filter(
                (F.col("_both") == 0)
                | (
                    2.0 * F.col("_match") / F.col("_both") - 1.0
                    >= threshold - 3.3 / F.sqrt(F.col("_both"))
                )
            )
        )
    return (
        paired.withColumn("_tc", F.size(F.array_intersect("_ta", "_ts")))
        .filter(
            F.col("_tc") / (F.col("n_ta") + F.col("n_sh") - F.col("_tc"))
            >= threshold - 0.05
        )
        .select("id_a", "id_b")
    )


def _ngram_verify(
    screened: DataFrame,
    docs: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    threshold: float,
) -> DataFrame:
    """Stage 5: exact string-shingle Jaccard for the screened pairs —
    the public (id_a < id_b, jaccard rounded to 6 places) output."""
    # Re-derive the STRING shingle sets for the surviving pairs only, by
    # joining each side's raw text back on and shingling on the fly —
    # one straight-line pipeline, no corpus-wide string arrays. The
    # text join prunes the scan to (id, text); survivors number in the
    # hundreds, so AQE broadcasts the pair side at any corpus size.
    sh_expr = (
        f"array_distinct(transform("
        f"sequence(1, greatest(length({{c}}) - {k - 1}, 1)),"
        f" i -> substring({{c}}, i, {k})))"
    )
    # ONE (id, text) relation joined twice — at bench SFs AQE
    # broadcasts it and exchange reuse builds it once; at scale the
    # tiny pair side is what gets broadcast and the two docs scans
    # stream in place.
    dtx = docs.select(
        F.col(id_col).alias("_did"), F.col(text_col).alias("_txt")
    )
    return (
        screened.join(dtx, F.col("id_a") == F.col("_did"))
        .select("id_a", "id_b", F.col("_txt").alias("_txa"))
        .join(dtx, F.col("id_b") == F.col("_did"))
        .withColumn("_sa", F.expr(sh_expr.format(c="_txa")))
        .withColumn("_sb", F.expr(sh_expr.format(c="_txt")))
        .withColumn("n_a", F.size("_sa"))
        .withColumn("n_b", F.size("_sb"))
        .withColumn("n_common", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        # Orientation is small→large during generation; the public
        # contract is id_a < id_b, so normalize on the way out.
        .select(
            F.least("id_a", "id_b").alias("_ia"),
            F.greatest("id_a", "id_b").alias("_ib"),
            F.round("jaccard", 6).alias("jaccard"),
        )
        .withColumnsRenamed({"_ia": "id_a", "_ib": "id_b"})
    )


MINHASH_P = (1 << 31) - 1  # Mersenne prime: (a·h+b) fits signed 64-bit


def minhash_coefficients(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash permutations —
    derived from a fixed LCG so Spark and the SQL oracle agree."""
    pairs, x = [], 88172645463325252
    for _ in range(num_hashes):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x % (MINHASH_P - 1)) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % MINHASH_P
        pairs.append((a, b))
    return pairs


def _shingle_hash(hash_fn: str):
    """Per-shingle base hash reduced mod MINHASH_P.

    ``md5``: first 15 md5 hex chars as a 60-bit int — bit-identical in
    Spark and DuckDB, used wherever the DuckDB oracle must reproduce the
    exact signature. ``xxhash64``: JVM-native long hash — no hex-string
    round-trip, ~2× cheaper per shingle (measured at sf0.1); the
    production path, verified by recall tests instead of the oracle.
    """
    if hash_fn == "md5":
        return (
            F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10)
            .cast("long") % MINHASH_P
        )
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(F.col("shingle")), F.lit(MINHASH_P))
    raise ValueError(f"unknown hash_fn {hash_fn!r} (md5 | xxhash64)")


def minhash_signatures_wide(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    num_hashes: int = 16,
    hash_fn: str = "md5",
) -> DataFrame:
    """MinHash signatures, wide form: one row per doc with columns
    sig0..sigN-1 where sig[i] = min over shingles of hash(i || shingle).

    One base hash per shingle → 60-bit int, then ``num_hashes``
    universal-hash permutations ``(a_i·h + b_i) mod p`` (p = 2³¹−1;
    a_i, b_i fixed pseudo-random). This is 16× cheaper than hashing per
    seed (the base hash is the cost) and — with ``hash_fn='md5'`` —
    stays engine-portable: the DuckDB oracle reproduces the exact
    arithmetic.

    All permutations aggregate in ONE groupBy over the (id, shingle)
    rows — and this explode + aggregate shape is deliberate, NOT the
    array-expression (``array_min`` over ``transform``) alternative:
    higher-order array functions fall out of whole-stage codegen
    (measured ~1.7x slower end-to-end at sf0.1), while here the
    per-shingle arithmetic runs codegen'd and the hash aggregate's
    MAP-SIDE PARTIAL min reduces each partition to one row per doc
    before the exchange — the shuffle moves ~|docs| rows of 16 longs,
    never the shingle stream, at any corpus size.
    """
    sh = char_shingles(docs, text_col, id_col, k, distinct=False)
    h = _shingle_hash(hash_fn)
    perms = [
        ((F.lit(a) * h + F.lit(b)) % MINHASH_P).alias(f"_h{i}")
        for i, (a, b) in enumerate(minhash_coefficients(num_hashes))
    ]
    return (
        sh.select(F.col(id_col), *perms)
        .groupBy(id_col)
        .agg(*[F.min(f"_h{i}").alias(f"sig{i}") for i in range(num_hashes)])
    )


def simhash_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """SimHash fingerprint per document (token-level, weight = term
    frequency).

    Classic Charikar scheme: each token hashes to ``bits`` sign
    contributions (+1 where the token-hash bit is 1, −1 where 0); the
    fingerprint's bit b is 1 iff the summed contribution at b is ≥ 0.
    Token hash = first 15 md5 hex chars as a 60-bit int — identical in
    Spark (``conv``) and the DuckDB oracle (``CAST('0x…')``).

    One explode + one groupBy(id) with ``bits`` conditional sums — a
    single hash shuffle, all JVM-side. Output: (id, simhash).
    """
    tok = F.explode(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    ).alias("tok")
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    # Deliberately NOT spread_for_cpu_map (A/B, same verdict as the
    # cms/bm25 tokenize maps): one md5 per token is middling CPU, and
    # the raw-text shuffle + extra AQE stage measured net-negative
    # (0.99-1.32 s unspread vs 1.24-1.41 s spread, 3 reps of warm
    # best-of-3). Contrast the shingle+minhash maps (~1300 hashes +
    # 16 min-folds per doc), where the spread wins 1.7x — see
    # SCALE.md "when not to spread".
    exploded = docs.select(F.col(id_col), tok).select(
        F.col(id_col), h.alias("h")
    )
    sums = exploded.groupBy(id_col).agg(
        *[
            F.sum(
                (F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    fp = None
    for b in range(bits):
        bit = F.when(F.col(f"s{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return sums.select(F.col(id_col), fp.cast("long").alias("simhash"))


def simhash_near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash: LSH-band the fingerprint (docs sharing
    any ``bits/bands``-bit band are candidates — by pigeonhole any pair
    within hamming < bands shares ≥1 band), then keep pairs with
    hamming(simhash) ≤ max_hamming.

    Pairs come from a band-keyed SELF-JOIN of the PERSISTED fingerprint
    table (node-sized: one long per doc). Persisting first matters —
    without it the self-join would recompute the whole fingerprint
    pipeline (corpus scan + hash shuffle) twice, since Spark only
    reuses an exchange when both subtrees canonicalize identically.
    The join itself beats the collect_list + in-bucket-lambda
    formulation: xor/bit_count/comparison run inside whole-stage
    codegen instead of an interpreted higher-order function (measured
    ~2x at sf0.1 where coarse 4-bit bands give ~10^6-pair fan-out),
    and the hamming filter runs BEFORE the dedup exchange, so the
    distinct only moves true near-dups. A pathological hot bucket
    means the banding is too coarse — widen ``band_key`` — not that
    the plan is wrong. Output: (id_a, id_b, hamming), id_a < id_b.
    """
    width = bits // bands
    mask = (1 << width) - 1
    sig = track(simhash_fingerprints(docs, text_col, id_col, bits))
    band = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    banded = sig.select(F.col(id_col), "simhash", band).select(
        F.col(id_col),
        "simhash",
        "band",
        # shiftright by a column needs the SQL form (the Python builder
        # only takes a literal shift amount)
        F.expr(f"shiftright(simhash, band * {width}) & {mask}").alias("band_key"),
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("_ha"), "band", "band_key"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("_hb"), "band", "band_key"
    )
    pairs = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def band_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    num_hashes: int = 16,
    bands: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, band, band_key) LSH band digests — the storable unit of a
    MinHash index (see operators/incremental.MinHashIndex). Band b's
    key md5-digests its seeds' minhashes in seed order, straight off
    the wide signature row (no second shuffle)."""
    rows_per_band = num_hashes // bands
    wide = minhash_signatures_wide(docs, text_col, id_col, k, num_hashes, hash_fn)
    band_cols = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"sig{i}")
                            for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return wide.select(F.col(id_col), F.explode(band_cols).alias("bk")).select(
        F.col(id_col),
        F.col("bk.band").alias("band"),
        F.col("bk.band_key").alias("band_key"),
    )


def bucket_pairs(
    band_sig: DataFrame,
    id_col: str = "doc_id",
    max_bucket_df: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """(id_a, id_b) distinct pairs of ids sharing an LSH bucket — the
    in-bucket combination explosion used by both the batch path
    (:func:`minhash_lsh_pairs`) and the incremental index
    (incremental.MinHashIndex); one implementation so the two stay
    bit-identical (the incremental path's determinism contract).

    ``max_bucket_df``: candidate-stage safety valve for boilerplate-
    heavy shards (mirror of ngram_jaccard_pairs' ``max_shingle_df``).
    A bucket holding d docs expands to O(d²) pairs, so one templated
    band key (empty texts, shared headers) can blow the output
    quadratically at scale. Buckets with more than ``max_bucket_df``
    members are EXCLUDED — before their member lists are ever
    materialized (the hot keys are detected on a partial-aggregating
    count and anti-joined out, so a 100M-doc pathological bucket never
    builds a 100M-element collect_list buffer). The cap is
    deterministic (a size threshold, not a sample) and LOSSY above the
    cap: pairs colliding only in hot buckets are missed. Below the cap
    the output is bit-identical to the uncapped run (pinned by test).
    Never silent: engaging it logs, and ``stats`` (pass a dict)
    receives ``stats["truncation"]`` — a LAZY one-row frame
    (hot_buckets, dropped_pairs) over the persisted band signatures.
    Default None = exact, uncapped (the oracle-compared queries).
    """
    if max_bucket_df is not None:
        if max_bucket_df < 1:
            raise ValueError(f"max_bucket_df must be >= 1, got {max_bucket_df}")
        logger.info(
            "bucket_pairs: candidate stage capped at bucket size <= %d; "
            "pairs colliding only in hotter buckets are dropped "
            "(stats['truncation'] quantifies)", max_bucket_df,
        )
        # ONE exchange of the banded stream. The banded stream has to
        # cross the wire keyed by (band, band_key) exactly once no
        # matter what (that is what grouping a bucket means), so
        # exchange the RAW stream once, explicitly, and derive
        # EVERYTHING downstream on that one layout: the size count, the
        # keep-filter join, and the member collect all run co-partitioned
        # with zero further exchanges (HashPartitioning on the group
        # keys satisfies every downstream distribution requirement).
        # The hot-bucket memory guarantee is unchanged — sizes are
        # still counted BEFORE any member list is materialized, and the
        # inner join to the kept keys drops hot buckets (and, new,
        # singleton buckets — most of the stream) ahead of the
        # collect_list, so a pathological 100M-doc bucket never builds
        # a 100M-element aggregation buffer. No persist needed: the
        # repartition's shuffle files ARE the materialization both
        # consumers read (AQE stage reuse), replacing the tracked cache.
        # Keyless-vs-keyed: keyed repartition, so no sort-before-
        # repartition cost and deterministic row routing (guide §2.5).
        banded = band_sig.repartition("band", "band_key")
        sizes = banded.groupBy("band", "band_key").agg(
            F.count(F.lit(1)).alias("_df")
        )
        hot = sizes.filter(F.col("_df") > max_bucket_df)
        if stats is not None:
            stats["truncation"] = hot.agg(
                F.count(F.lit(1)).alias("hot_buckets"),
                F.coalesce(
                    F.sum(F.col("_df") * (F.col("_df") - 1) / 2), F.lit(0.0)
                ).cast("long").alias("dropped_pairs"),
            )
        # Buckets worth collecting: 2..cap members. Dropping singletons
        # here (instead of size(ids)>=2 after the collect) is free — the
        # size table is already in hand — and removes the long tail of
        # 1-element collect_list buffers. Inner join on the exchange's
        # own keys: co-partitioned, zero additional exchanges.
        kept = sizes.filter(
            (F.col("_df") <= max_bucket_df) & (F.col("_df") >= 2)
        )
        band_sig = banded.join(
            kept.select("band", "band_key"), ["band", "band_key"]
        )
    return (
        band_sig.groupBy("band", "band_key")
        .agg(F.collect_list(F.col(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), y -> struct("
                    "least(x, y) AS id_a, greatest(x, y) AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    num_hashes: int = 16,
    bands: int = 4,
    hash_fn: str = "md5",
    max_bucket_df: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH.

    Signature split into ``bands`` bands of ``num_hashes/bands`` rows;
    docs colliding on any full band become a candidate pair. Collision
    probability ≈ 1-(1-J^r)^b — with 16 hashes / 4 bands, J=0.8 pairs
    are caught w.p. ~97%. Candidates come from grouping ids per
    (band, band_key) bucket and exploding in-bucket combinations — NOT
    a self-join, which would scan the corpus and build the signatures
    twice (Spark does not reuse the exchange across differently-aliased
    subtrees). One corpus scan, one signature shuffle, one bucket
    shuffle; fan-out bounded by bucket size — or, with
    ``max_bucket_df`` (see :func:`bucket_pairs`), hard-capped against
    boilerplate bucket blow-up.
    Output: (id_a, id_b) distinct candidate pairs, id_a < id_b.
    """
    band_sig = band_signatures(
        docs, text_col, id_col, k, num_hashes, bands, hash_fn
    )
    return bucket_pairs(band_sig, id_col, max_bucket_df, stats)


def shared_shingle_contamination(
    corpus: DataFrame,
    holdout: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    min_shared: int = 3,
) -> DataFrame:
    """Benchmark decontamination: (corpus doc, holdout doc) pairs that
    share ≥ ``min_shared`` distinct k-char shingles.

    Training corpora must drop documents that overlap evaluation sets;
    the standard test is shared-n-gram count. Both sides explode to
    distinct (id, shingle) postings and meet in an equi-join ON THE
    SHINGLE — an inverted index, never a corpus × holdout cross product.
    The join shuffles by shingle hash; per-pair counts are a partial
    aggregate. The holdout side is typically tiny (benchmarks), so AQE
    broadcasts it at runtime; hot shingles (boilerplate) fan out — cap
    shingle document-frequency upstream for 100 TB corpora.
    """
    c = char_shingles(corpus, text_col, id_col, k, distinct=True)
    h = (
        char_shingles(holdout, text_col, id_col, k, distinct=True)
        .withColumnRenamed(id_col, "holdout_id")
    )
    return (
        c.join(h, "shingle")
        .groupBy(id_col, "holdout_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """Transitive dedup clusters: connected components over a near-dup
    pair list by min-label propagation. Returns (node, component) with
    component = the smallest node id reachable through the pair graph —
    pair-level dedup alone under-merges (A≈B, B≈C but A̸≈C split into
    two groups); the component is the true dedup cluster.

    Two execution paths, chosen by edge count:

    - **small graph** (≤200k edges — the normal dedup case, since only
      near-dups produce edges): stream the edge list to the driver and
      union-find; one pass, no join rounds.
    - **large graph**: delegates to :func:`connected_components_star`
      (alternating large-star/small-star) — O(log² n) rounds regardless
      of component diameter, two groupBy passes per round, no joins.
      Only the loop CONTROL is driver-side (an O(1) fixpoint
      signature); edge state never leaves the cluster and
      ``localCheckpoint`` truncates lineage each round. (An earlier
      revision used min-label propagation here; its O(diameter) round
      count dies on chain-shaped near-dup components — templated crawl
      text produces exactly those.)
    """
    # Materialize the pair list ONCE before the symmetric union — the
    # two union branches are separate subtrees, and Spark re-executes
    # the (potentially expensive) pair pipeline for each alias without
    # this checkpoint (measured: it doubled the Jaccard-family runtime).
    p = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).localCheckpoint()
    edges = (
        p.union(p.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    # Size-adaptive fast path: dedup pair graphs are usually TINY
    # relative to the corpus (only near-dups appear). When the edge
    # list fits comfortably on the driver, a union-find there beats
    # O(diameter) distributed join rounds; the propagation loop below
    # remains the path for genuinely large graphs. The cutoff is an
    # edge COUNT (already materialized by the checkpoint — the count is
    # free), so no data-dependent surprise at scale.
    if edges.count() <= driver_threshold:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in edges.toLocalIterator():
            a, b = r["src"], r["dst"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by smaller root so the representative IS the min
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        rows = [(n, find(n)) for n in parent]
        from pyspark.sql.types import StructField, StructType

        schema = StructType(
            [
                StructField("node", edges.schema["src"].dataType),
                StructField("component", edges.schema["src"].dataType),
            ]
        )
        return edges.sparkSession.createDataFrame(rows, schema)
    return connected_components_star(p, id_a="src", id_b="dst", max_iter=max_iter)


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the planet-scale path: O(log² n) rounds worst-case regardless of
    component diameter, where min-label propagation needs O(diameter)
    rounds (a million-node near-dup CHAIN — common in templated crawl
    data — is a million-round death sentence for propagation but ~20
    rounds here).

    Each round is two groupBy-explode passes over the edge list (no
    joins at all — the per-node min is a partial aggregate, so the
    shuffle carries one row per node, not per edge):

    - **large-star(u)**: attach every neighbor v > u to
      m = min(N(u) ∪ {u}). Strictly shrinks tall nodes' neighborhoods
      toward local minima; never disconnects (v stays reachable via m).
    - **small-star(u)** (edges canonical v < u): attach u and all its
      smaller neighbors to m = min(N(u) ∪ {u}).

    Fixpoint: the canonical edge set is stable — checked by an O(1)
    (count, hash-sum) aggregate pair, not a set compare. At fixpoint
    every component is a star rooted at its global minimum, so the
    edges themselves are the (node, component) assignment.

    Returns (node, component), component = min reachable id — same
    contract as :func:`connected_components`, equivalence-tested
    against its union-find path in tests/test_dedup_clusters.py.
    """
    spark = pairs.sparkSession
    # Materialize the (possibly expensive) pair pipeline ONCE: it feeds
    # both the edge list and the singleton-recovery node set below, and
    # Spark re-executes unshared subplans per alias.
    pairs = pairs.select(id_a, id_b).localCheckpoint()
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    if edges.isEmpty():
        schema = edges.select(
            F.col("u").alias("node"), F.col("u").alias("component")
        ).schema
        return spark.createDataFrame([], schema)

    def _star(e: DataFrame, large: bool) -> DataFrame:
        # Group by u over the (symmetrized for large / canonicalized
        # for small) edge list; emit (kept neighbor, min). collect_list
        # per node is bounded by that node's CURRENT degree — both star
        # operations monotonically reroute high-degree fan-in to
        # component minima, which is exactly what caps hot-node state.
        if large:
            sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        else:
            sym = e.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
        grouped = sym.groupBy("u").agg(
            F.collect_set("v").alias("_nbrs"),
            F.least(F.min("v"), F.first("u")).alias("_m"),
        )
        if large:
            kept = F.expr("filter(_nbrs, x -> x > u)")
        else:
            # small-star: all (smaller) neighbors plus u itself rewire
            kept = F.expr("array_union(_nbrs, array(u))")
        out = grouped.select(
            F.explode(kept).alias("a"), F.col("_m").alias("b")
        ).filter(F.col("a") != F.col("b"))
        return out.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        ).distinct()

    prev_sig, converged = None, False
    for _ in range(max_iter):
        edges = _star(_star(edges, large=True), large=False).localCheckpoint()
        # bit_xor, not sum: ANSI mode makes a long-sum of 64-bit hashes
        # an overflow error; xor is overflow-free and order-insensitive.
        # (xor alone would miss a change where two edges swap in/out with
        # equal xor — the count catches the realistic version of that,
        # and a same-count same-xor false fixpoint needs a 2^-64 hash
        # coincidence on top.)
        sig = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        if (sig["n"], sig["h"]) == prev_sig:
            converged = True
            break
        prev_sig = (sig["n"], sig["h"])
    if not converged:
        # An unconverged edge set is NOT a star forest — extracting
        # labels from it would silently split components.
        raise RuntimeError(
            f"star CC did not converge in {max_iter} rounds; raise max_iter"
        )
    # Stars: (u=member, v=root). Roots need a self row, and nodes that
    # appeared only in self-pairs (filtered out of the edge list) come
    # back as their own singleton component — matching the union-find
    # path's contract exactly.
    members = edges.select(
        F.col("u").alias("node"), F.col("v").alias("component")
    )
    roots = edges.select("v").distinct().select(
        F.col("v").alias("node"), F.col("v").alias("component")
    )
    all_nodes = (
        pairs.select(F.col(id_a).alias("node"))
        .union(pairs.select(F.col(id_b).alias("node")))
        .distinct()
    )
    labeled = members.union(roots)
    singletons = all_nodes.join(
        labeled.select("node"), "node", "left_anti"
    ).select("node", F.col("node").alias("component"))
    return labeled.union(singletons)


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k-word shingle, slide a
    w-shingle window, keep each window's MINIMUM hash; the distinct
    mins are the document's fingerprint set. Guarantee: any shared run
    of >= w + k - 1 words between two documents shares at least one
    fingerprint, while storage shrinks ~2/(w+1) per position.

    This is the *set* formulation (distinct selected hash values per
    doc) — position metadata is dropped, which preserves the detection
    guarantee and keeps the whole operator expressible as shingle
    hashing + ONE doc-partitioned window min + a distinct, portable to
    a SQL oracle bit-for-bit. Ties (equal hashes inside one window,
    i.e. nearby repeated shingles) need no tie-break rule under the
    set semantics: the min VALUE is selected either way.

    Scale: shingling is map-side (word_ngram_spans); the window min
    partitions BY DOCUMENT (never a global window — the per-partition
    working set is one document's shingle stream); the distinct is one
    hash shuffle carrying <= |positions|/(w+1)-ish selected rows.

    Returns (id_col, fingerprint BIGINT). Docs shorter than
    w + k - 1 words have no full window and produce no rows.
    """
    spans = word_ngram_spans(docs, text_col, id_col, w=k, step=1)
    h = F.conv(F.substring("win_hash", 1, 15), 16, 10).cast("long")
    spans = spans.select(F.col(id_col), "start_pos", h.alias("_h"))
    frame = (
        Window.partitionBy(id_col)
        .orderBy("start_pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    per_doc = Window.partitionBy(id_col)
    # step=1 makes start_pos contiguous (1..m), so the ROWS frame is
    # exactly the positional window; start_pos <= m - w + 1 keeps only
    # windows fully inside the document.
    full = spans.select(
        F.col(id_col),
        "start_pos",
        F.min("_h").over(frame).alias("_wmin"),
        F.count(F.lit(1)).over(per_doc).alias("_m"),
    ).filter(F.col("start_pos") <= F.col("_m") - F.lit(w - 1))
    return (
        full.select(F.col(id_col), F.col("_wmin").alias("fingerprint"))
        .distinct()
    )


def winnow_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 20,
) -> DataFrame:
    """MOSS-style near-dup candidates: document pairs ranked by the
    number of shared winnowing fingerprints.

    Plan shape (the inverted-index join, never an all-pairs scan):
    fingerprint -> doc postings, drop fingerprints hotter than
    ``max_df`` docs (boilerplate shingles — exactly MOSS's "too common
    to be interesting" cutoff, and the bound that keeps the in-bucket
    pair explosion O(max_df^2) per fingerprint), explode in-posting
    pairs, count per pair. Returns (id_a, id_b, n_shared) with
    n_shared >= ``min_shared``, id_a < id_b.
    """
    fp = winnow_fingerprints(docs, text_col, id_col, k, w)
    pairs = (
        fp.groupBy("fingerprint")
        .agg(F.collect_list(F.col(id_col)).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= int(max_df)))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), y -> struct("
                    "least(x, y) AS id_a, greatest(x, y) AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
    )
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
    )


def boilerplate_coverage(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    w: int = 10,
) -> DataFrame:
    """Per-document boilerplate coverage, RefinedWeb/CCNet-style
    template detection: the fraction of a document's w-word windows
    whose content also appears in ANOTHER document of the same
    ``group_col`` (site/domain/source). Headers, footers and injected
    navigation repeat across a site's pages; genuine prose does not —
    docs with high coverage are template-dominated and get dropped or
    stripped by curation pipelines.

    Plan: map-side window hashing (word_ngram_spans), ONE partial-
    aggregated groupBy(group, win_hash) marking hashes seen in >= 2
    docs of the group, one hash join back onto the span stream, one
    groupBy(doc). The hot keys are by definition the boilerplate
    hashes — AQE skew handling splits them; nothing is quadratic and
    nothing global. All-integer counts + one final division →
    bit-exact.

    Returns (id, group, n_windows, n_boiler, coverage) for docs with
    >= w words.
    """
    spans = word_ngram_spans(docs, text_col, id_col, w=w, step=1).join(
        docs.select(id_col, group_col), id_col
    )
    spans = track(spans)
    hot = (
        spans.groupBy(group_col, "win_hash")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select(group_col, "win_hash", F.lit(1).alias("_rep"))
    )
    flagged = spans.join(hot, [group_col, "win_hash"], "left")
    return (
        flagged.groupBy(id_col, group_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce(F.col("_rep"), F.lit(0)))
            .cast("bigint")
            .alias("n_boiler"),
        )
        .select(
            id_col,
            group_col,
            "n_windows",
            "n_boiler",
            (F.col("n_boiler").cast("double") / F.col("n_windows")).alias(
                "coverage"
            ),
        )
    )


def incremental_components(
    prev_labels: DataFrame,
    new_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Incremental connected components for the daily-crawl pattern:
    yesterday's (node, lbl) table + today's NEW edges → updated
    labels, WITHOUT re-running CC over the historical edge set.

    Soundness: components are closed under contraction — collapse
    every existing component to its label (a supernode), and CC of
    (old ∪ new) equals CC of the new edges over supernodes, mapped
    back. So the expensive step runs on a graph bounded by TODAY'S
    edges (typically orders of magnitude below the accumulated
    corpus), via the same large-star/small-star kernel
    (:func:`connected_components_star`).

    Edge endpoints unseen before act as their own supernode. Labels
    stay canonical (the min node id of the merged component) because
    both the star kernel and the final coalesce take minima over
    already-minimal labels.

    Returns the updated (node, lbl) table — feed it back in tomorrow.
    ``prev_labels`` takes (node, lbl) or the star kernel's own
    (node, component) output directly.
    """
    if "component" in prev_labels.columns and "lbl" not in prev_labels.columns:
        prev_labels = prev_labels.withColumnRenamed("component", "lbl")
    lbl_a = prev_labels.select(
        F.col("node").alias(id_a), F.col("lbl").alias("_la")
    )
    lbl_b = prev_labels.select(
        F.col("node").alias(id_b), F.col("lbl").alias("_lb")
    )
    mapped = (
        new_pairs.select(id_a, id_b)
        .join(lbl_a, id_a, "left")
        .join(lbl_b, id_b, "left")
        .select(
            F.coalesce(F.col("_la"), F.col(id_a)).alias("_sa"),
            F.coalesce(F.col("_lb"), F.col(id_b)).alias("_sb"),
        )
        .filter(F.col("_sa") != F.col("_sb"))
    )
    reduced = connected_components_star(
        mapped.select(
            F.least("_sa", "_sb").alias(id_a),
            F.greatest("_sa", "_sb").alias(id_b),
        ),
        id_a,
        id_b,
        max_iter=max_iter,
    )  # (node, component) over supernodes touched by new edges
    new_nodes = (
        new_pairs.select(F.col(id_a).alias("node"))
        .unionAll(new_pairs.select(F.col(id_b).alias("node")))
        .distinct()
        .join(prev_labels.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("lbl"))
    )
    base = prev_labels.select("node", "lbl").unionAll(new_nodes)
    remap = reduced.select(
        F.col("node").alias("lbl"), F.col("component").alias("_new")
    )
    return base.join(remap, "lbl", "left").select(
        "node", F.coalesce(F.col("_new"), F.col("lbl")).alias("lbl")
    )
