"""Dimensionality reduction over embedding columns.

Two primitives every 100 TB embedding pipeline wants before the ANN /
clustering stages:

- **Random projection** (Johnson–Lindenstrauss with a ±1 Achlioptas
  matrix, "Database-friendly random projections", PODS'01): a
  data-independent map R^d -> R^k that preserves pairwise distances in
  expectation. Our sign matrix is a pure function of (out_dim, in_dim)
  via md5, so the projection is reproducible everywhere — including
  inside a SQL oracle — with no matrix to ship.

- **PCA** via an exact integer Gramian: components are quantized to
  integers with the engine-portable ``floor(v·scale + 0.5)`` rounding
  (the float-origin-safe quantization — see verify SKILL notes on
  decimal-cast rounding modes), so X'X accumulates in BIGINT with NO
  float summation order anywhere; the tiny d×d Gramian (d=64 → 2080
  upper-triangle cells) is collected and eigendecomposed on the driver
  with numpy, and the resulting loadings re-enter the cluster as
  broadcast literals for a shuffle-free projection map.

Scale notes: quantization + per-partition partial Gramians make the
only exchange a groupBy over d(d+1)/2 keys — constant in the corpus
size; the projection stages are pure maps. The driver touches d²
numbers, never the corpus.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EMB_DIM = 64


def _md5_60bit_py(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def rp_sign(j: int, i: int, salt: str = "rp-v1") -> int:
    """±1 sign for output dim j, input dim i — md5-derived so Spark,
    Python and the SQL oracle agree on the identical matrix."""
    return 1 if _md5_60bit_py(f"{salt}:{j}:{i}") % 2 == 0 else -1


def quantized_components(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 10_000,
) -> DataFrame:
    """(id, i [0-based], q) with q = floor(v·scale + 0.5) as BIGINT —
    the engine-portable quantization (identical double ops in Spark
    and DuckDB; a DECIMAL cast would round HALF_UP vs half-even)."""
    return emb.select(
        F.col(id_col), F.posexplode(vec_col).alias("i", "_v")
    ).select(
        F.col(id_col),
        F.col("i").cast("int").alias("i"),
        F.floor(
            F.col("_v").cast("double") * F.lit(float(scale)) + F.lit(0.5)
        )
        .cast("long")
        .alias("q"),
    )


def random_project(
    emb: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = EMB_DIM,
    scale: int = 10_000,
    salt: str = "rp-v1",
) -> DataFrame:
    """JL projection to k dims as wide columns (id, p0..p{k-1}).

    p_j = Σ_i s(j,i)·v_i / sqrt(k), computed as an exact BIGINT sum of
    quantized components with ONE final double division — bit-exact
    across engines. ``k`` must be a perfect square so 1/sqrt(k) is an
    exact literal.

    Plan: a PURE MAP. The ±1 sign matrix is a driver-side constant
    (md5 of (j,i) — nothing to ship), so each p_j unrolls to a literal
    codegen sum ``±q_0 ± q_1 … ± q_{d-1}`` over the row's quantized
    components: zero exchange, zero join, whole-stage codegen end to
    end. (The earlier posexplode → broadcast-join → k-conditional-sum
    groupBy formulation shuffled one 16-long row per vector — pointless
    for a data-independent linear map; at 100 TB this version touches
    nothing but the scan.)
    """
    isq = math.isqrt(k)
    if isq * isq != k:
        raise ValueError(f"k={k} must be a perfect square (exact 1/sqrt)")
    # Quantize ONCE into an intermediate array column; the 16 sums
    # below only index it. (CollapseProject keeps the producer
    # projection separate — a 64-element CreateArray consumed 16×
    # is not "cheap" — so each component quantizes once per row, not
    # once per output dim.) Both projections are authored as SQL
    # strings: the unrolled tree is ~3000 expression nodes, and
    # composing it Column-by-Column costs one py4j round trip per
    # node (~5s of pure driver chatter, measured); two selectExpr
    # calls hand the JVM parser one string instead.
    # Ragged-input guard: under ANSI (Spark 4's default)
    # element_at past the array end THROWS, so a vector shorter than
    # dim must be zero-padded first — absent components contribute 0,
    # the semantics of the earlier posexplode formulation. The pad is
    # ONE case-when per row (not 64 per-element try_element_at +
    # coalesce wrappers, which blew janino's 64 KB generated-method
    # limit and knocked the whole pipeline out of codegen); the fused
    # element-type cast also shrinks the quantize projection vs having
    # a per-element CAST.
    pad_expr = (
        "CASE WHEN size({v}) >= {d} THEN CAST({v} AS ARRAY<DOUBLE>) "
        "ELSE concat(CAST({v} AS ARRAY<DOUBLE>),"
        " array_repeat(0.0d, {d} - size({v}))) END AS _v"
    ).format(v=vec_col, d=dim)
    quant_expr = "array({}) AS _q".format(
        ", ".join(
            "CAST(floor(element_at(_v, {i}) * {s} + 0.5d) AS BIGINT)".format(
                i=i + 1, s=float(scale)
            )
            for i in range(dim)
        )
    )
    quant = emb.selectExpr(id_col, pad_expr).selectExpr(id_col, quant_expr)
    div = float(scale * isq)
    p_exprs = []
    for j in range(k):
        terms = "".join(
            ("+" if rp_sign(j, i, salt) > 0 else "-")
            + f"element_at(_q, {i + 1})"
            for i in range(dim)
        ).lstrip("+")
        p_exprs.append(f"CAST(({terms}) AS DOUBLE) / {div} AS p{j}")
    return quant.selectExpr(id_col, *p_exprs)


def gram_matrix(
    emb: DataFrame,
    vec_col: str = "embedding",
    dim: int = EMB_DIM,
    scale: int = 10_000,
) -> DataFrame:
    """Exact integer Gramian X'X of the quantized corpus: rows
    (i, j, gram) for 0 <= i <= j < dim, gram = Σ_rows q_i·q_j (BIGINT).

    Per-partition partial Gramians in numpy int64 (exact — |q| ≤
    scale·|v|max keeps products far from 2^63), then a groupBy over
    the d(d+1)/2 cell keys: the exchange is CONSTANT in corpus size.
    """
    import numpy as np
    import pandas as pd

    iu = np.triu_indices(dim)

    def partials(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        acc = np.zeros((dim, dim), dtype=np.int64)
        seen = False
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            qm = np.floor(x * scale + 0.5).astype(np.int64)
            acc += qm.T @ qm
            seen = True
        if seen:
            yield pd.DataFrame(
                {"i": iu[0], "j": iu[1], "partial": acc[iu]}
            )

    cells = emb.select(vec_col).mapInPandas(
        partials, schema="i int, j int, partial long"
    )
    return cells.groupBy("i", "j").agg(
        F.sum("partial").alias("gram")
    )


def pca_loadings(
    emb: DataFrame,
    n_components: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = EMB_DIM,
    scale: int = 10_000,
) -> tuple[list[list[float]], list[float], int]:
    """Principal axes from the exact integer Gramian.

    Collects the d×d Gramian + per-dim sums (d² numbers — never the
    corpus), forms the sample covariance in float64 on the driver,
    and eigendecomposes with numpy. Deterministic sign convention:
    each eigenvector's largest-|component| entry is positive.

    Returns (loadings [n_components×dim], explained variances, n).
    """
    import numpy as np

    g_rows = gram_matrix(emb, vec_col, dim, scale).collect()
    sums = (
        quantized_components(emb, vec_col, id_col, scale)
        .groupBy("i")
        .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    n = int(sums[0]["n"]) if sums else 0
    if n < 2:
        raise ValueError("PCA needs at least 2 vectors")
    g = np.zeros((dim, dim), dtype=np.float64)
    for r in g_rows:
        g[r["i"], r["j"]] = r["gram"]
        g[r["j"], r["i"]] = r["gram"]
    s = np.zeros(dim, dtype=np.float64)
    for r in sums:
        s[r["i"]] = r["s"]
    cov = (g - np.outer(s, s) / n) / ((n - 1) * float(scale) ** 2)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:n_components]
    loadings, variances = [], []
    for idx in order:
        v = evecs[:, idx]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        loadings.append([float(x) for x in v])
        variances.append(float(max(evals[idx], 0.0)))
    return loadings, variances, n


def pca_project(
    emb: DataFrame,
    loadings: Sequence[Sequence[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Project onto principal axes via broadcast LITERAL loadings —
    a pure map (one codegen'd dot product per component), zero
    shuffles, the serving-path shape for 100 TB corpora."""
    vec = F.col(vec_col)
    outs = []
    for c, row in enumerate(loadings):
        dot = None
        for i, w in enumerate(row):
            term = F.element_at(vec, i + 1).cast("double") * F.lit(float(w))
            dot = term if dot is None else dot + term
        outs.append(dot.alias(f"pc{c}"))
    return emb.select(F.col(id_col), *outs)
