"""K-means clustering operator: exact equivalence against a pure-Python
reference that replicates the operator's arithmetic step for step (left-fold
double distances, HALF_UP decimal means) — the same hard-check style as the
DuckDB oracles, for an op whose iterative shape doesn't fit one SQL string.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq
import pytest

from minarrow_spark.operators.clustering import kmeans_assign, kmeans_fit
from tests.conftest import SF_SMALL

K, ITERS = 4, 2


def exact_mean(values, scale: int = 9) -> float:
    """The update step's arithmetic: each double x rounds as
    round(x·10^scale) HALF_UP on the double product (Spark's F.round on
    DOUBLE — HALF_UP over the shortest decimal repr, which coincides with
    round-half-away on the binary value), the integer scaled sum S is
    exact, and the mean is the IEEE chain (S/n)/10^scale."""
    m = 10**scale
    s = sum(
        int(Decimal(repr(float(x) * m)).quantize(Decimal(1), ROUND_HALF_UP))
        for x in values
    )
    return (float(s) / len(values)) / float(m)


def _ref_fit(ids, vecs, k=K, iters=ITERS):
    """Reference Lloyd's replicating the operator's exact arithmetic."""
    order = sorted(range(len(ids)), key=lambda i: ids[i])
    cents = [list(map(float, vecs[order[i]])) for i in range(k)]

    def d2(v, c):
        acc = 0.0
        for x, y in zip(v, c):  # strict left fold == F.aggregate
            acc = acc + (float(x) - y) * (float(x) - y)
        return acc

    def assign():
        return [
            min(range(k), key=lambda ci: (d2(v, cents[ci]), ci)) for v in vecs
        ]

    for _ in range(iters):
        labels = assign()
        for ci in range(k):
            members = [vecs[i] for i in range(len(vecs)) if labels[i] == ci]
            if members:
                cents[ci] = [
                    exact_mean([m[d] for m in members])
                    for d in range(len(cents[ci]))
                ]
    return cents, assign()


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    tbl = pq.read_table(f"{SF_SMALL}/embeddings.parquet")
    ids = tbl.column("vec_id").to_pylist()
    vecs = [[float(x) for x in v] for v in tbl.column("embedding").to_pylist()]
    return df, ids, vecs


def test_kmeans_matches_exact_reference(emb):
    df, ids, vecs = emb
    cents, assigned = kmeans_fit(df, k=K, iters=ITERS)
    ref_cents, ref_labels = _ref_fit(ids, vecs)

    for c, rc in zip(cents, ref_cents):
        assert max(abs(a - b) for a, b in zip(c, rc)) < 1e-12

    got = {
        r["vec_id"]: r["cluster"]
        for r in assigned.select("vec_id", "cluster").collect()
    }
    want = dict(zip(ids, ref_labels))
    assert got == want


def test_kmeans_deterministic_across_partitionings(emb):
    df, _, _ = emb
    c1, a1 = kmeans_fit(df, k=K, iters=1)
    c2, a2 = kmeans_fit(df.repartition(7), k=K, iters=1)
    assert c1 == c2  # exact decimal means → bit-identical centroids
    assert sorted(map(tuple, a1.select("vec_id", "cluster").collect())) == (
        sorted(map(tuple, a2.select("vec_id", "cluster").collect()))
    )


def test_assign_is_shuffle_free(emb):
    df, _, vecs = emb
    assigned = kmeans_assign(df, [list(v) for v in vecs[:K]])
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
