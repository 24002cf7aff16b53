"""K-means clustering over embedding columns — the curation op behind
SemDeDup-style semantic dedup at corpus scale.

Fixed-iteration Lloyd's algorithm, Spark-first:

* **init** — deterministic: the k lowest-id vectors seed the centroids
  (reproducible across runs/engines, unlike random init).
* **assign** — centroids fold into the plan as literal arrays (k × dim
  doubles — model state, not row data), so assignment is a pure per-row
  projection: ZERO shuffle, scales linearly. Squared-L2 per centroid via a
  left-fold over `zip_with` (same documented HOF choice as
  operators/similarity.py `dot`); argmin via `least` over (dist, idx)
  structs — ties break to the lowest cluster index, deterministically.
* **update** — per-dimension means via posexplode → groupBy (cluster, dim)
  with EXACT scaled-long sums (each component rounds to 9 decimals as an
  integer; integer addition is order-independent under any partitioning →
  bit-identical centroids on every run, and — unlike a decimal→double
  cast, whose final rounding is engine-implementation-defined — the mean
  `(S/n)/1e9` is plain IEEE ops on exact operands, so a SQL engine
  reproduces it bit-for-bit: that is what lets the q52 'kmeans' tier be
  DuckDB-oracle-checked), rebuilt into arrays with
  `array_sort(collect_list(struct(dim, mean)))`. The shuffle moves only
  (k × dim) tiny rows after map-side partial aggregation. Bound: the
  scaled sum S and n·1e9 stay under 2^53 for per-cluster populations up
  to ~9e6 with |x| ≤ ~10; past that, drop the per-value scale (the knob
  is `_MEAN_SCALE`).

The iteration loop materializes ONLY the k×dim centroid matrix per step
(exactly the model-state exchange MLlib's KMeans does via broadcast
variables); row data never reaches the driver. At 100 TB: iters × (one
linear scan + one k×dim-row shuffle).

Reference parity: the reference has no clustering (its nearest analog is
the similarity kernels this module shares math with); this is a
beyond-reference extension op in the same family as dedup/similarity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_MEAN_SCALE = 1_000_000_000  # 9-decimal quantization as exact scaled longs


def _sq_l2(vec: Column, centroid: list[float]) -> Column:
    """Squared L2 distance to a literal centroid — strict left-fold in
    double, so the test oracle can replicate the exact fp result."""
    carr = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(vec, carr, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def kmeans_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach (cluster, dist2) per row: argmin squared-L2 over the literal
    centroid set. Pure projection — no shuffle, no Python."""
    v = F.col(vec_col).cast("array<double>")
    cands = [
        F.struct(_sq_l2(v, c).alias("d"), F.lit(i).alias("c"))
        for i, c in enumerate(centroids)
    ]
    best = F.least(*cands)
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        best["c"].alias("cluster"),
        best["d"].alias("dist2"),
    )


def _centroid_rows(assigned: DataFrame, vec_col: str) -> DataFrame:
    """(cluster, n, centroid<array<double>>) via exact decimal means."""
    ex = assigned.select(
        "cluster", F.posexplode(F.col(vec_col).cast("array<double>"))
    ).toDF("cluster", "dim", "x")
    sums = ex.groupBy("cluster", "dim").agg(
        F.sum(F.round(F.col("x") * _MEAN_SCALE).cast("long")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    mean = (F.col("s").cast("double") / F.col("n")) / float(_MEAN_SCALE)
    return sums.select("cluster", "n", "dim", mean.alias("m")).groupBy(
        "cluster"
    ).agg(
        F.max("n").alias("n"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))), lambda s: s["m"]
        ).alias("centroid"),
    )


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], DataFrame]:
    """Fixed-iteration Lloyd's. Returns (centroids, assignments DataFrame).

    Deterministic end-to-end: seeded by the k lowest ids, exact-decimal
    centroid updates, lowest-index tie-breaks — the same fit on any
    partitioning/cluster yields bit-identical centroids and labels."""
    seed_rows = (
        df.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(id_col)
        .limit(k)
        .collect()  # k seed vectors: model state, not row data
    )
    cents = [list(r["v"]) for r in seed_rows]
    for _ in range(iters):
        assigned = kmeans_assign(df, cents, id_col, vec_col)
        rows = _centroid_rows(assigned, vec_col).collect()  # k×dim model state
        new = {r["cluster"]: list(r["centroid"]) for r in rows}
        # empty clusters keep their previous centroid
        cents = [new.get(i, c) for i, c in enumerate(cents)]
    return cents, kmeans_assign(df, cents, id_col, vec_col)
