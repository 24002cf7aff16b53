"""PCA over embedding columns — dimensionality reduction for cheaper ANN /
clustering / visualization of a 100 TB embedding corpus.

Spark-first shape (the same decomposition MLlib's RowMatrix uses):

1. **Gramian + column sums** (`exact_gramian`) over a dimension slice:
   each component quantizes to 6 decimals as a scaled long, so every
   cross-moment is an EXACT integer sum — one long-and-narrow explode and
   group-sum, a shuffle of O(d²) tiny rows after map-side combine, never
   row data.
2. The **d×d covariance eigenpairs** come from power iteration plus
   Hotelling deflation on the driver: model state (8×8 here), exactly like
   k-means centroids — row data never leaves the executors.
3. **Projection** folds the k×d component matrix into the plan as literal
   arrays → a pure per-row codegen projection, ZERO shuffle (same pattern
   as clustering.kmeans_assign).

Determinism note: integer moment sums are order-independent under any
partitioning and reproducible bit-for-bit by a SQL engine, and power
iteration runs in a fixed evaluation order, so the whole pipeline
(gramian → covariance → eigenvector → λ) hash-matches a DuckDB replay
(q52 'pca' tier).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_EXACT_SCALE = 1_000_000  # 6-decimal quantization of each component


def exact_gramian(
    df: DataFrame,
    vec_col: str = "embedding",
    dims: int = 8,
    scale: int = _EXACT_SCALE,
) -> tuple[list[list[int]], list[int], int]:
    """(XᵀX, column sums, n) over the first ``dims`` dims of ``vec_col`` as
    EXACT integers of the 6-decimal-quantized data.

    Shape: per row, one array of (idx, value) structs — ``dims`` scaled
    components, the upper-triangle products, and a count marker — exploded
    long-and-narrow (the codegen-friendly form; a 45-column decimal agg
    risks Janino limits) and group-summed as decimal(38,0). Map-side combine
    collapses the 45× row inflation inside the scan stage; the shuffle
    carries 45 rows total. The collect is model state (≤ dims² ints).

    Exactness bound: |x| ≤ 1 ⇒ per-row products ≤ scale² = 1e12, so sums
    stay below 2⁵³ (exact in DOUBLE on both engines — no hugeint→double
    rounding hazard) for n ≲ 9e3 × 1e6 rows; past that, lower ``scale``
    (the same knob as clustering._MEAN_SCALE)."""
    v = F.col(vec_col).cast("array<double>")
    xs = [
        F.round(F.element_at(v, i + 1) * scale).cast("long").alias(f"x{i}")
        for i in range(dims)
    ]
    rows = df.select(*xs)
    entries, idx = [], 0
    for i in range(dims):
        entries.append(
            F.struct(F.lit(idx).alias("i"), F.col(f"x{i}").alias("v"))
        )
        idx += 1
    pair_at = {}
    for i in range(dims):
        for j in range(i, dims):
            entries.append(
                F.struct(
                    F.lit(idx).alias("i"),
                    (F.col(f"x{i}") * F.col(f"x{j}")).alias("v"),
                )
            )
            pair_at[idx] = (i, j)
            idx += 1
    n_idx = idx
    entries.append(F.struct(F.lit(n_idx).alias("i"), F.lit(1).cast("long").alias("v")))
    agg = (
        rows.select(F.explode(F.array(*entries)).alias("e"))
        .groupBy("e.i")
        .agg(F.sum(F.col("e.v").cast("decimal(38,0)")).alias("s"))
        .collect()
    )
    got = {r["i"]: int(r["s"]) for r in agg}
    s = [got[i] for i in range(dims)]
    p = [[0] * dims for _ in range(dims)]
    for k, (i, j) in pair_at.items():
        p[i][j] = p[j][i] = got[k]
    return p, s, got[n_idx]


def exact_cov(
    p: list[list[int]], s: list[int], n: int, scale: int = _EXACT_SCALE
) -> list[list[float]]:
    """Population covariance from exact integer moments, as the fixed IEEE
    chain ``(P/n − (S_i/n)(S_j/n)) / scale²`` — identical doubles in any
    engine that evaluates the same expression (ints < 2⁵³ convert exactly)."""
    d = len(s)
    nf = float(n)
    sc2 = float(scale) * float(scale)
    return [
        [
            (float(p[i][j]) / nf - (float(s[i]) / nf) * (float(s[j]) / nf)) / sc2
            for j in range(d)
        ]
        for i in range(d)
    ]


def power_iteration(
    cov: list[list[float]], iters: int = 5
) -> tuple[list[float], float]:
    """Top eigenvector + Rayleigh-quotient eigenvalue by fixed-step power
    iteration with a strict left-to-right evaluation order (start vector
    ``(1/√d, …)``), so a SQL twin unrolling the same expressions reproduces
    every double bit-for-bit. Returns (v, λ)."""
    d = len(cov)
    v = [1.0 / math.sqrt(float(d))] * d
    for _ in range(iters):
        w = []
        for j in range(d):
            acc = 0.0
            for i in range(d):
                acc = acc + cov[j][i] * v[i]
            w.append(acc)
        acc = 0.0
        for j in range(d):
            acc = acc + w[j] * w[j]
        nrm = math.sqrt(acc)
        v = [w[j] / nrm for j in range(d)]
    u = []
    for j in range(d):
        acc = 0.0
        for i in range(d):
            acc = acc + cov[j][i] * v[i]
        u.append(acc)
    lam = 0.0
    for j in range(d):
        lam = lam + v[j] * u[j]
    return v, lam


def deflate(
    cov: list[list[float]], v: list[float], lam: float
) -> list[list[float]]:
    """Hotelling deflation ``C − λ v vᵀ`` (fixed order ``(λ·v_j)·v_i``): the
    deflated matrix's top eigenpair is the original's second component."""
    d = len(v)
    return [
        [cov[j][i] - (lam * v[j]) * v[i] for i in range(d)]
        for j in range(d)
    ]


def pca_project(
    df: DataFrame,
    components: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "proj",
) -> DataFrame:
    """Append the k-dim projection: per-row dots with literal component
    rows — pure codegen projection, zero shuffle, scales linearly."""
    v = F.col(vec_col).cast("array<double>")

    def dot(row: np.ndarray) -> Column:
        carr = F.array(*[F.lit(float(x)) for x in row])
        return F.aggregate(
            F.zip_with(v, carr, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    return df.withColumn(out_col, F.array(*[dot(r) for r in np.asarray(components)]))
