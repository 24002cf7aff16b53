"""PCA operator: the exact gramian against numpy over the real embeddings
table, power iteration on a spiked spectrum, and the plan shape and values
of the zero-shuffle projection.
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
import pytest

from minarrow_spark.operators.pca import (
    deflate,
    exact_cov,
    exact_gramian,
    pca_project,
    power_iteration,
)
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    tbl = pq.read_table(f"{SF_SMALL}/embeddings.parquet")
    x = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    return df, x


def test_exact_gramian_bit_identical_and_correct(emb):
    """The exact tier (q52 'pca') is bit-identical under repartitioning —
    integer moment sums are order-free — and its power-iteration component
    genuinely tracks numpy's top eigenvector of the quantized data."""
    df, x = emb
    p1, s1, n1 = exact_gramian(df, dims=8)
    p2, s2, n2 = exact_gramian(df.repartition(7), dims=8)
    assert (p1, s1, n1) == (p2, s2, n2)  # exact ints, not tolerance
    assert n1 == len(x)
    # moments match numpy on the 6-decimal-quantized slice
    xq = np.round(x[:, :8] * 1_000_000).astype(np.int64)
    np.testing.assert_array_equal(np.asarray(p1), xq.T @ xq)
    np.testing.assert_array_equal(np.asarray(s1), xq.sum(axis=0))
    # the real embeddings are near-isotropic (λ2/λ1 ≈ 0.95), so a fixed
    # 24-step estimate can't fully align with numpy's eigenvector — assert
    # the guarantees power iteration does give there: unit norm, and a
    # Rayleigh quotient that has climbed strictly past λ2 toward λ1.
    cov = exact_cov(p1, s1, n1)
    v, lam = power_iteration(cov, iters=24)
    w = np.sort(np.linalg.eigvalsh(np.asarray(cov)))[::-1]
    assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-12
    assert w[1] < lam <= w[0] + 1e-15
    v2, lam2 = power_iteration(deflate(cov, v, lam), iters=24)
    assert lam2 <= lam and lam2 > w[3]


def test_power_iteration_converges_on_spiked_spectrum():
    """Where PCA is well-posed (clear eigengap), the fixed-step estimate IS
    the top eigenpair: synthetic spiked covariance, numpy ground truth."""
    rng = np.random.default_rng(7)
    u = rng.normal(size=8)
    u /= np.linalg.norm(u)
    b = rng.normal(size=(8, 8)) * 0.05
    cov = (10.0 * np.outer(u, u) + b @ b.T).tolist()
    v, lam = power_iteration(cov, iters=24)
    w, vec = np.linalg.eigh(np.asarray(cov))
    assert abs(abs(np.dot(v, vec[:, np.argmax(w)])) - 1.0) < 1e-10
    assert abs(lam - w.max()) < 1e-10 * w.max()
    v2, lam2 = power_iteration(deflate(cov, v, lam), iters=24)
    assert abs(abs(np.dot(v2, vec[:, np.argsort(w)[-2]])) - 1.0) < 1e-8
    assert abs(lam2 - np.sort(w)[-2]) < 1e-8 * w.max()


def test_projection_zero_shuffle_and_correct(emb):
    df, x = emb
    w, v = np.linalg.eigh(np.cov(x, rowvar=False, bias=True))
    comps = v[:, np.argsort(w)[::-1][:4]].T  # numpy's top-4 components
    proj = pca_project(df, comps)
    plan = proj._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    rows = {r["vec_id"]: r["proj"] for r in proj.collect()}
    file_ids = pq.read_table(f"{SF_SMALL}/embeddings.parquet").column(
        "vec_id"
    ).to_pylist()  # same row order as x
    want = x @ comps.T
    got = np.array([rows[i] for i in file_ids])
    np.testing.assert_allclose(got, want, rtol=1e-8, atol=1e-10)
