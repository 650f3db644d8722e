"""Text analysis operators for training-data pipelines.

All JVM-side column expressions (regex + array lambdas) — no Python in
the hot path; each scales as a pure map over the corpus (no shuffle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language marker-word lists (n-gram heuristic language ID).
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|to|in|is|it)\b",
    "es": r"\b(el|la|los|de|que|y|en)\b",
    "de": r"\b(der|die|das|und|ist|nicht)\b",
    "fr": r"\b(le|la|les|et|est|dans)\b",
}

STOPWORDS = ("the", "and", "of", "to", "in", "a", "is", "it", "for", "on")

PUNCT_CLASS = r"""[.,;:!?'"()\[\]{}-]"""

# BPE-ish token: word chars, or a single non-space non-word char.
BPE_TOKEN_RE = r"\w+|[^\w\s]"


def tokens(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), F.lit(0)))


def stopword_ratio(text: Column) -> Column:
    toks = tokens(F.lower(text))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return n_stop.cast("double") / F.size(toks)


def punct_ratio(text: Column) -> Column:
    n_punct = F.size(F.regexp_extract_all(text, F.lit(PUNCT_CLASS), F.lit(0)))
    return n_punct.cast("double") / F.length(text)


def quality_features(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Length/token/punct/stopword quality features per document."""
    t = F.col(text_col)
    toks = tokens(t)
    return docs.select(
        F.col(id_col),
        F.length(t).alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        bpe_token_count(t).alias("n_bpe_tokens"),
        (
            F.aggregate(
                F.transform(toks, lambda x: F.length(x).cast("double")),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            / F.size(toks)
        ).alias("avg_token_len"),
        F.round(stopword_ratio(t), 6).alias("stopword_ratio"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
    )


def language_scores(text: Column) -> dict[str, Column]:
    """Marker-word hit count per language."""
    lowered = F.lower(text)
    return {
        lang: F.size(F.regexp_extract_all(lowered, F.lit(pat), F.lit(0)))
        for lang, pat in LANG_MARKERS.items()
    }


def predict_language(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Heuristic language ID: argmax of marker-word counts, alphabetical
    tiebreak (deterministic)."""
    scores = language_scores(F.col(text_col))
    # argmax with deterministic tiebreak: sort (score desc, lang asc)
    pairs = F.array(
        *[
            F.struct((-scores[lang]).alias("neg"), F.lit(lang).alias("lang"))
            for lang in sorted(scores)
        ]
    )
    best = F.array_sort(pairs)[0]["lang"]
    out_cols = [F.col(id_col)]
    out_cols += [scores[lang].alias(f"score_{lang}") for lang in sorted(scores)]
    out_cols.append(best.alias("predicted_lang"))
    return docs.select(*out_cols)


def fingerprint(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Content fingerprint: md5 over whitespace/case-normalized text +
    a 4-hex-char shard key (for partitioned dedup downstream)."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    fp = F.md5(norm)
    return docs.select(
        F.col(id_col),
        fp.alias("fingerprint"),
        F.substring(fp, 1, 4).alias("shard_key"),
    )


def chunk_text(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 500,
    overlap: int = 50,
) -> DataFrame:
    """Split each document into fixed-size character chunks with overlap
    (training-data preparation: context-window-sized pieces).

    Chunk ``i`` covers characters ``[i*step, i*step+size)`` with
    ``step = size - overlap``; the last chunk starts at the smallest
    multiple of ``step`` that still reaches the end of the text, so no
    chunk is fully contained in its predecessor. Pure JVM-side
    ``sequence``+``explode`` — a map with fan-out, no Python, no
    shuffle; at 100 TB this parallelizes per input split.
    """
    if overlap >= size:
        raise ValueError("overlap must be smaller than size")
    step = size - overlap
    n = F.length(F.col(text_col))
    last = F.greatest(F.lit(0), F.ceil((n - size) / F.lit(step))).cast("int")
    return (
        docs.filter(n > 0)
        .select(
            F.col(id_col),
            F.col(text_col),
            F.explode(F.sequence(F.lit(0), last)).alias("chunk_idx"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.substring(
                F.col(text_col), F.col("chunk_idx") * step + 1, size
            ).alias("chunk"),
        )
        .withColumn("chunk_len", F.length("chunk"))
    )


def repetition_features(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style repetition features per document.

    Emits ``(id, n_words, distinct_word_frac, dup_2gram_frac,
    top_word_frac)`` — the repetition signals used to gate low-quality
    documents out of training corpora (cf. the repetition filters in the
    Gopher/MassiveText data-quality papers; the reference engine has no
    profiling beyond count/min/max/mean — SURVEY.md §2.5).

    Everything is a pure array expression over ONE scan — zero
    shuffles, a map the size of the corpus: ``split`` →
    ``array_distinct`` sizes; bigrams via an index-lambda ``transform``
    over ``sequence`` (guarded — Spark's ``sequence(1, 0)`` counts
    DOWN, so short docs take the empty-array branch); and the per-doc
    word mode as a max-run ``aggregate`` over the SORTED word array
    (equal words are adjacent after ``array_sort``, so the longest run
    IS the top frequency) — O(n log n) per document instead of an
    (id, word) shuffle + per-id max + join back.
    """
    base = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_w")).select(
        F.col(id_col),
        "_w",
        F.size("_w").alias("n_words"),
        (F.size(F.array_distinct("_w")).cast("double") / F.size("_w")).alias(
            "distinct_word_frac"
        ),
    )
    bigrams = F.expr(
        "transform(sequence(1, size(_w)-1), i -> "
        "concat(element_at(_w, i), ' ', element_at(_w, i+1)))"
    )
    base = base.withColumn(
        "dup_2gram_frac",
        F.when(F.col("n_words") < 2, F.lit(0.0)).otherwise(
            F.lit(1.0)
            - F.size(F.array_distinct(bigrams)).cast("double")
            / (F.col("n_words") - 1)
        ),
    )
    run = lambda acc, w: F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
    max_freq = F.aggregate(
        F.array_sort("_w"),
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")),
        lambda acc, w: F.struct(
            w.alias("prev"),
            run(acc, w).alias("run"),
            F.greatest(acc["best"], run(acc, w)).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return base.select(
        F.col(id_col),
        "n_words",
        "distinct_word_frac",
        "dup_2gram_frac",
        (max_freq.cast("double") / F.col("n_words")).alias("top_word_frac"),
    )


# HTML entity map for clean_text; &amp; decodes LAST so "&amp;lt;" ends
# as the literal "&lt;", not an (incorrect) double-unescaped "<".
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def clean_text(text: Column) -> Column:
    """Markup-stripping cleaner for crawled corpora: drop HTML tags,
    decode the common entities, remove control characters, collapse
    whitespace, trim. Pure JVM regex chain — one map pass, no shuffle,
    and every pattern is RE2/DuckDB-portable so the cleaning is
    oracle-checkable."""
    c = F.regexp_replace(text, r"<[^>]+>", " ")
    for ent, ch in HTML_ENTITIES:
        c = F.regexp_replace(c, ent, ch)
    c = F.regexp_replace(c, r"[\x00-\x08\x0B\x0C\x0E-\x1F]", "")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


# Lexicon-based sentiment (EDBT'16 "Large Scale Sentiment Analysis on
# Twitter with Spark" problem shape). A tiny built-in valence lexicon —
# REPLACE with AFINN/VADER terms in production; the mechanics under
# test are the scale shape: the lexicon broadcasts as a literal MAP, a
# doc's score is one codegen'd fold over its tokens, no join and no
# shuffle for the per-doc stage.
SENTIMENT_LEXICON: dict[str, int] = {
    "fast": 2, "big": 1, "small": -1, "slow": -2,
    "good": 3, "bad": -3, "best": 4, "worst": -4,
}


def sentiment_totals(text: Column) -> Column:
    """Struct (v_total, n_toks): summed token valence (exact BIGINT)
    and token count. Callers derive ratios/signs — keeping the exact
    integers exposed lets aggregates stay order-insensitive."""
    lex = F.create_map(
        *[F.lit(x) for kv in SENTIMENT_LEXICON.items() for x in kv]
    )
    toks = tokens(F.lower(text))
    total = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.coalesce(
            F.element_at(lex, t).cast("long"), F.lit(0).cast("long")
        ),
    )
    return F.struct(
        total.alias("v_total"), F.size(toks).cast("long").alias("n_toks")
    )


def collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """PMI-style collocation mining: adjacent word pairs ranked by
    lift = P(w1 w2) / (P(w1)·P(w2)) — the association-strength measure
    behind phrase induction ("new york" scores high, "of the" low
    despite its raw count).

    Returns the deterministic top-``top_k`` by (lift desc, w1, w2)
    among bigrams with ≥ ``min_count`` occurrences. Lift is reported
    instead of its log (PMI = log2 lift): every input to the ratio is
    an exact integer count, so the double division is bit-reproducible
    across engines, while log/log2 are NOT correctly-rounded libm
    calls and may differ at the ULP between JVMs and C runtimes.

    Shape: tokenize once (persisted — at 100 TB you would write the
    token arrays to a staging table instead; MEMORY_AND_DISK spills
    rather than OOMs), unigram counts from an explode, bigram counts
    from a zip-with-next transform (map-side, no positional self-join),
    two vocab-sized count joins, scalar totals broadcast. The top-k is
    a TakeOrdered over the ≥min_count survivors, not a global sort.
    """
    from ..cache import track

    ws = track(
        docs.select(
            F.expr(
                f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)"
            ).alias("_ws")
        )
    )
    uni = ws.select(F.explode("_ws").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("n")
    )
    big = (
        ws.select(
            F.explode(
                F.expr(
                    "transform(slice(_ws, 1, greatest(size(_ws) - 1, 0)),"
                    " (x, i) -> struct(x AS w1, element_at(_ws, i + 2) AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= F.lit(int(min_count)))
    )
    nw = uni.agg(F.sum("n").alias("n"))
    nb_tot = ws.select(
        F.sum(F.greatest(F.size("_ws") - 1, F.lit(0))).alias("n")
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("n").alias("_n1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("n").alias("_n2"))
    lift = (
        F.col("n_ab").cast("double")
        * F.col("_nw").cast("double")
        * F.col("_nw").cast("double")
    ) / (
        F.col("_nb").cast("double")
        * F.col("_n1").cast("double")
        * F.col("_n2").cast("double")
    )
    return (
        big.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(nw.select(F.col("n").alias("_nw"))))
        .crossJoin(F.broadcast(nb_tot.select(F.col("n").alias("_nb"))))
        .select(
            "w1",
            "w2",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            lift.alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "w1", "w2")
        .limit(int(top_k))
    )


def compression_ratio(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Compression-ratio quality signal: len(zlib(text)) / len(text) —
    the cheap redundancy detector curation pipelines run beside the
    Gopher heuristics (templated/repetitive text compresses far
    better than prose; near-1.0 ratios flag high-entropy noise).

    This is the canonical JUSTIFIED Python-kernel case: no JVM
    expression computes DEFLATE, so the kernel runs as Arrow-batched
    ``mapInPandas`` (stdlib zlib, level 6) — batch-vectorized, pure
    map, no shuffle, memory bounded by the Arrow batch. Deterministic
    for a fixed zlib build; cross-engine oracles can't replay DEFLATE,
    so consumers treat it as a feature column (rows-only check), with
    the discrimination property pinned in pytest.

    Returns (id, n_bytes, n_compressed, ratio).
    """
    from collections.abc import Iterator

    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import zlib

        for pdf in batches:
            raw = pdf[text_col].fillna("").str.encode("utf-8")
            comp = raw.map(lambda b: len(zlib.compress(b, 6)))
            n = raw.map(len)
            # Empty docs have no content to score: NULL, not the
            # header-bytes/1 artifact (which would read as the most
            # extreme "high-entropy" ratio in the corpus).
            ratio = pd.array(
                (comp / n.clip(lower=1)).where(n > 0, None),
                dtype="Float64",
            )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": n.astype("int64"),
                    "n_compressed": comp.astype("int64"),
                    "ratio": ratio,
                }
            )

    id_field = docs.schema[id_col]
    return docs.select(id_col, text_col).mapInPandas(
        run,
        schema=(
            f"{id_col} {id_field.dataType.simpleString()}, n_bytes long, "
            "n_compressed long, ratio double"
        ),
    )
