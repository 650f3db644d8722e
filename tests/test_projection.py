from __future__ import annotations

import numpy as np
import pytest

from tensei_agent_spark.catalog import load
from tensei_agent_spark.operators.projection import (
    gram_matrix,
    pca_loadings,
    pca_project,
    random_project,
    rp_sign,
)

SF = "/root/testdata/sf0.001"
SCALE = 10_000


@pytest.fixture(scope="module")
def emb(spark):
    return load(spark, SF, "embeddings")


@pytest.fixture(scope="module")
def x(emb):
    """Corpus as a float64 matrix, row order by vec_id."""
    rows = emb.orderBy("vec_id").collect()
    return (
        [r["vec_id"] for r in rows],
        np.array([list(r["embedding"]) for r in rows], dtype=np.float64),
    )


def test_random_project_matches_python_model(emb, x):
    ids, mat = x
    got = {r["vec_id"]: r for r in random_project(emb, k=16).collect()}
    q = np.floor(mat * SCALE + 0.5).astype(np.int64)
    s = np.array(
        [[rp_sign(j, i) for j in range(16)] for i in range(64)], np.int64
    )
    want = (q @ s).astype(np.float64) / (SCALE * 4)
    for r, vid in enumerate(ids):
        for j in range(16):
            assert got[vid][f"p{j}"] == want[r, j]


def test_random_project_preserves_norms_on_average(emb, x):
    _, mat = x
    proj = random_project(emb, k=16).drop("vec_id").toPandas().to_numpy()
    orig_sq = (np.floor(mat * SCALE + 0.5) / SCALE * 2 / 2) ** 2  # quantized
    ratios = (proj**2).sum(axis=1) / orig_sq.sum(axis=1)
    # E[||Rx||^2] = ||x||^2 for the ±1/sqrt(k) ensemble; k=16 is noisy
    # per-vector but the corpus mean must sit near 1.
    assert 0.7 < float(np.mean(ratios)) < 1.3


def test_gram_matrix_is_exact(emb, x):
    _, mat = x
    q = np.floor(mat * SCALE + 0.5).astype(np.int64)
    want = q.T @ q
    got = gram_matrix(emb).collect()
    assert len(got) == 64 * 65 // 2
    for r in got:
        assert r["gram"] == want[r["i"], r["j"]], (r["i"], r["j"])


def test_pca_loadings_invariants(emb, x):
    _, mat = x
    loadings, variances, n = pca_loadings(emb, 8)
    assert n == mat.shape[0]
    L = np.array(loadings)
    # Orthonormal rows, variances sorted descending.
    assert np.allclose(L @ L.T, np.eye(8), atol=1e-9)
    assert all(a >= b for a, b in zip(variances, variances[1:]))
    # Against numpy.cov of the quantized corpus (same estimator).
    q = np.floor(mat * SCALE + 0.5) / SCALE
    cov = np.cov(q, rowvar=False, ddof=1)
    evals = np.sort(np.linalg.eigvalsh(cov))[::-1][:8]
    assert np.allclose(variances, evals, rtol=1e-9, atol=1e-12)


def test_pca_project_variance_matches_spectrum(emb, x):
    _, mat = x
    loadings, variances, _ = pca_loadings(emb, 4)
    proj = (
        pca_project(emb, loadings)
        .drop("vec_id")
        .toPandas()
        .to_numpy()
        .astype(np.float64)
    )
    got_var = np.var(proj, axis=0, ddof=1)
    # Projection uses RAW components; loadings come from the quantized
    # covariance — agreement to quantization error, not bit-exact.
    assert np.allclose(got_var, variances, rtol=1e-2)


def test_random_project_ragged_vector_components_contribute_zero(spark):
    """A vector shorter than dim must project as if zero-padded (the
    posexplode-era semantics): element_at past the array end returns
    NULL, which must become 0, not poison every p_j."""
    short = [0.5] * 32
    padded = short + [0.0] * 32
    df = spark.createDataFrame(
        [(1, short), (2, padded)], "vec_id int, embedding array<float>"
    )
    rows = {r["vec_id"]: r for r in random_project(df, k=16).collect()}
    for j in range(16):
        assert rows[1][f"p{j}"] == rows[2][f"p{j}"]
        assert rows[1][f"p{j}"] is not None
