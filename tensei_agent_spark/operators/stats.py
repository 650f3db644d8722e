"""Column profiling — the reference's Stats subsystem re-expressed.

Reference: ``Stats.scala:94-128`` streams parsed cells into per-column
``NumericAnalyzer`` (count/min/max/mean + error counters,
``analyzer/NumericAnalyzer.scala:48-103``) and ``StringAnalyzer`` (the
same stats over string *length*, ``analyzer/StringAnalyzer.scala:44-100``),
optionally on a sampled fraction.

Spark: ALL columns profile in a single ``agg`` over ONE scan — partial
aggregation is map-side, and ``stack`` pivots the wide 1-row result to
the per-column long format afterwards (a per-column union of aggs would
re-scan the table once per column: harmless at sf0.1, N full scans at
100 TB). Sums are computed in exact DECIMAL then cast to DOUBLE so
results are bit-stable across engines.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def numeric_profile(
    df: DataFrame, cols: Sequence[str], sample_fraction: float | None = None
) -> DataFrame:
    """count/min/max/mean + null-error count per numeric column.

    Output: one row per column (col_name, n, n_null, min_v, max_v, mean_v).
    One scan for every column; ``sample_fraction`` mirrors the
    reference's percent parameter (for an engine-portable sample,
    filter on ``sampling.hash_bucket`` of a content key upstream
    instead).
    """
    if sample_fraction is not None:
        df = df.sample(fraction=sample_fraction, seed=42)
    aggs = []
    for i, c in enumerate(cols):
        col = F.col(c)
        # decimal(38,4): a profiler must absorb full-range bigints (epoch
        # micros, 64-bit hash ids) — (20,4) overflows and, under ANSI,
        # ABORTS at values >= 10^16. Sum headroom: 10^34 / value.
        dec = col.try_cast("decimal(38,4)")
        aggs += [
            F.count(col).alias(f"_n{i}"),
            F.count(F.when(col.isNull(), 1)).alias(f"_nn{i}"),
            F.min(col).cast("double").alias(f"_mn{i}"),
            F.max(col).cast("double").alias(f"_mx{i}"),
            (F.sum(dec).cast("double") / F.count(col)).alias(f"_mean{i}"),
        ]
    wide = df.agg(*aggs)
    parts = ", ".join(
        f"'{c}', _n{i}, _nn{i}, _mn{i}, _mx{i}, _mean{i}" for i, c in enumerate(cols)
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {parts}) AS (col_name, n, n_null, min_v, max_v, mean_v)"
    )


def string_profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """count/min/max/mean over string LENGTH per column (StringAnalyzer).
    Same one-scan wide-agg + ``stack`` shape as ``numeric_profile``."""
    aggs = []
    for i, c in enumerate(cols):
        col = F.col(c)
        ln = F.length(col)
        aggs += [
            F.count(col).alias(f"_n{i}"),
            F.count(F.when(col.isNull(), 1)).alias(f"_nn{i}"),
            F.min(ln).alias(f"_mn{i}"),
            F.max(ln).alias(f"_mx{i}"),
            (F.sum(ln.cast("decimal(20,0)")).cast("double") / F.count(col)).alias(
                f"_mean{i}"
            ),
        ]
    wide = df.agg(*aggs)
    parts = ", ".join(
        f"'{c}', _n{i}, _nn{i}, _mn{i}, _mx{i}, _mean{i}" for i, c in enumerate(cols)
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {parts}) AS (col_name, n, n_null, min_len, max_len, mean_len)"
    )


def fd_audit(
    df: DataFrame, candidates: Sequence[tuple[Sequence[str], str]]
) -> DataFrame:
    """Functional-dependency audit (Deequ/metanome-style profiling):
    for each candidate ``(lhs_cols, rhs_col)`` measure how close
    LHS → RHS is to holding exactly.

    Returns one row per candidate: ``fd`` (display name), ``n_lhs``
    (distinct LHS groups), ``n_violating_lhs`` (groups with >1 distinct
    RHS), ``max_rhs_per_lhs``, and ``holds`` (no violations). The g1-
    style violation share is n_violating_lhs / n_lhs.

    Shape per candidate: one hash aggregate to the distinct (LHS, RHS)
    pair set, one to LHS-group RHS counts, one to the 1-row summary —
    all map-side partialed, no windows, no distinct-on-the-driver. The
    summaries union into a candidate-count-sized result. NULL RHS
    counts as a value (SQL ``COUNT(DISTINCT ...)`` drops NULLs; we
    audit determinism, so two groups differing only in NULL-ness must
    violate) — implemented by pair-set distinct, which keeps NULL rows.
    """
    outs = []
    for lhs, rhs in candidates:
        lhs = list(lhs)
        name = f"{','.join(lhs)} -> {rhs}"
        pairs = df.select(*lhs, rhs).distinct()
        per_lhs = pairs.groupBy(*lhs).agg(F.count(F.lit(1)).alias("_nd"))
        outs.append(
            per_lhs.agg(
                F.lit(name).alias("fd"),
                F.count(F.lit(1)).cast("bigint").alias("n_lhs"),
                F.sum((F.col("_nd") > 1).cast("bigint"))
                .cast("bigint")
                .alias("n_violating_lhs"),
                F.max("_nd").cast("bigint").alias("max_rhs_per_lhs"),
                (F.max("_nd") == F.lit(1)).alias("holds"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def welch_t(
    df: DataFrame,
    group_cols: Sequence[str],
    cond_a: Column,
    cond_b: Column,
    value_col: str,
    value_decimal: str = "decimal(18,2)",
) -> DataFrame:
    """Per-group Welch two-sample t statistic (unequal variances) with
    the Welch–Satterthwaite degrees of freedom — the A/B significance
    screen, grouped.

    ONE hash aggregate folds both arms' exact DECIMAL moments
    (n, Σx, Σx² per arm as conditional sums — map-side partial, no
    second scan, no join); t and df then derive from those identical
    numbers in a fixed double-op order, so given the same moments any
    engine reproduces them bit-for-bit (sqrt is IEEE-correctly
    rounded; a round(9) guard caps the residual risk on the deeper
    df chain). The p-value is deliberately NOT computed: erf/Student
    CDFs are non-correctly-rounded libm territory — callers threshold
    on |t| with df in hand.

    Returns group_cols + (n_a, n_b, mean_a, mean_b, t_stat, df_welch)
    for groups where both arms have >= 2 observations.
    """
    v = F.col(value_col).cast(value_decimal)

    def arm(cond: Column, tag: str) -> list[Column]:
        x = F.when(cond, v)
        return [
            F.count(x).cast("bigint").alias(f"n_{tag}"),
            F.sum(x).alias(f"s_{tag}"),
            F.sum(x * x).alias(f"ss_{tag}"),
        ]

    m = df.groupBy(*group_cols).agg(*arm(cond_a, "a"), *arm(cond_b, "b"))

    def mean(tag: str) -> Column:
        return F.col(f"s_{tag}").cast("double") / F.col(f"n_{tag}")

    def var(tag: str) -> Column:
        n = F.col(f"n_{tag}")
        s = F.col(f"s_{tag}").cast("double")
        return (F.col(f"ss_{tag}").cast("double") - s * s / n) / (n - 1)

    se_a = var("a") / F.col("n_a")
    se_b = var("b") / F.col("n_b")
    se2 = se_a + se_b
    # Both arms constant → zero standard error: t undefined, NULL by
    # contract (under ANSI an unguarded divide ABORTS the job on the
    # one degenerate group). Same rule as acf/ccf's zero-variance
    # guard; oracle twins mirror with NULLIF.
    t = F.when(se2 != 0.0, (mean("a") - mean("b")) / F.sqrt(se2))
    dfw = F.when(
        se2 != 0.0,
        (se2 * se2)
        / (se_a * se_a / (F.col("n_a") - 1) + se_b * se_b / (F.col("n_b") - 1)),
    )
    return m.filter((F.col("n_a") >= 2) & (F.col("n_b") >= 2)).select(
        *group_cols,
        "n_a",
        "n_b",
        F.round(mean("a"), 9).alias("mean_a"),
        F.round(mean("b"), 9).alias("mean_b"),
        F.round(t, 9).alias("t_stat"),
        F.round(dfw, 9).alias("df_welch"),
    )


def t_closeness(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sens_col: str,
) -> DataFrame:
    """t-closeness audit (Li, Li, Venkatasubramanian, ICDE'07) for an
    ORDERED sensitive attribute: per quasi-identifier group, the
    ordered-domain Earth Mover's Distance between the group's
    sensitive-value distribution Q and the global distribution P,

        EMD = (1/(m-1)) · Σ_i |Σ_{j<=i} (q_j − p_j)|

    over the m ordered domain values. A group with EMD > t leaks: an
    attacker who knows the quasi values learns a sensitive
    distribution meaningfully different from the public global one.

    Exactness: every prefix difference is kept as the INTEGER
    cross-product form r_i = cum_g·N_all − cum_all·N_g; only the final
    normalization divides — bit-reproducible anywhere. Zero-filled
    (group × domain) grid so missing values cannot skew the prefix
    sums.

    Scale: counts are partial-aggregated; the domain table (m rows)
    and global counts broadcast; the only window partitions BY GROUP
    over m rows. Returns quasi_cols + (n_rows, emd).
    """
    g = df.groupBy(*quasi_cols, sens_col).agg(
        F.count(F.lit(1)).alias("_cg")
    )
    dom = df.select(sens_col).distinct()
    glob = df.groupBy(sens_col).agg(F.count(F.lit(1)).alias("_ca"))
    n_all = df.agg(F.count(F.lit(1)).alias("_na"))
    groups = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("_ng"))
    grid = (
        groups.crossJoin(F.broadcast(dom))
        .join(g, [*quasi_cols, sens_col], "left")
        .join(F.broadcast(glob), sens_col)
        .crossJoin(F.broadcast(n_all))
        .withColumn("_cg", F.coalesce(F.col("_cg"), F.lit(0)))
    )
    w = (
        Window.partitionBy(*quasi_cols)
        .orderBy(sens_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = dom.count()
    if m < 2:
        raise ValueError("t_closeness needs an ordered domain with >= 2 values")
    r = (
        F.sum("_cg").over(w).cast("bigint") * F.col("_na")
        - F.sum("_ca").over(w).cast("bigint") * F.col("_ng")
    )
    per_row = grid.select(*quasi_cols, "_ng", "_na", F.abs(r).alias("_ar"))
    return (
        per_row.groupBy(*quasi_cols)
        .agg(
            F.max("_ng").cast("bigint").alias("n_rows"),
            F.sum("_ar").alias("_sr"),
            F.max("_na").alias("_na2"),
        )
        .select(
            *quasi_cols,
            "n_rows",
            (
                F.col("_sr").cast("double")
                / (
                    F.col("n_rows").cast("double")
                    * F.col("_na2")
                    * F.lit(float(m - 1))
                )
            ).alias("emd"),
        )
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan–Meier survival estimate (Kaplan & Meier 1958) with
    right-censoring: S(t) = Π_{u ≤ t} (1 − d_u/n_u) over the distinct
    event times, where d_u counts events (``event_col`` = 1) at
    duration u and censored subjects (= 0) leave the risk set without
    an event — the churn/survival curve behind retention and
    reliability analysis.

    Exactness and shape: subjects reduce to ONE partial-aggregated
    pass per duration (d, c counts); the curve itself is a sequential
    product, which no window can express order-safely, so it runs as
    the repo's codegen ARRAY FOLD over the (bounded-domain) sorted
    duration table — the holt/ewma pattern: one row per key, fold in
    whole-stage codegen, explode back. The oracle replays the same
    IEEE multiplication order as a recursive CTE → bit-exact. Domain
    = distinct durations (days), not subjects — constant at any
    corpus size.

    Returns (t, n_risk, d_events, n_censored, survival).
    """
    per_t = df.groupBy(
        F.col(duration_col).cast("long").alias("t")
    ).agg(
        F.sum(F.col(event_col).cast("long")).alias("d"),
        F.sum(F.lit(1) - F.col(event_col).cast("long")).alias("c"),
    )
    one = per_t.agg(
        F.array_sort(
            F.collect_list(F.struct("t", "d", "c"))
        ).alias("_pts"),
        F.sum(F.col("d") + F.col("c")).cast("long").alias("_n0"),
    )
    fold = F.expr(
        """aggregate(
          _pts,
          named_struct(
            'n', _n0, 's', cast(1.0 as double),
            'acc', cast(array() as array<struct<
              t: bigint, n_risk: bigint, d_events: bigint,
              n_censored: bigint, survival: double>>)),
          (st, p) -> named_struct(
            'n', st.n - p.d - p.c,
            's', st.s * (cast(1.0 as double)
                         - cast(p.d as double) / st.n),
            'acc', concat(st.acc, array(named_struct(
              't', p.t, 'n_risk', st.n, 'd_events', p.d,
              'n_censored', p.c,
              'survival', st.s * (cast(1.0 as double)
                                  - cast(p.d as double) / st.n))))),
          st -> st.acc)"""
    )
    return one.select(F.explode(fold).alias("r")).select(
        "r.t", "r.n_risk", "r.d_events", "r.n_censored", "r.survival"
    )
