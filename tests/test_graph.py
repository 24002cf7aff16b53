"""Connected-components / dedup-cluster tests: Spark result vs a pure-Python
union-find oracle on the same edges, plus the end-to-end pairs→clusters path
on the real minhash near-dup pairs."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from minarrow_spark.operators.dedup import augment_with_near_dups, minhash_lsh_jaccard
from minarrow_spark.operators.graph import connected_components, dedup_clusters


def _union_find(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min id of each component
    comp = {}
    for v in list(parent):
        root = find(v)
        comp.setdefault(root, []).append(v)
    out = {}
    for members in comp.values():
        rep = min(members)
        for v in members:
            out[v] = rep
    return out


@pytest.mark.parametrize("seed", [0, 7])
def test_components_match_union_find(spark, seed):
    rng = random.Random(seed)
    n = 400
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(300)]
    expected = _union_find(edges)
    df = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
    got = {
        r["id"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == expected


def test_long_chain_converges(spark):
    # path graph 0-1-2-...-20: worst case for label propagation (diameter
    # rounds); must still converge and label everything 0.
    edges = [(i, i + 1) for i in range(20)]
    df = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
    rows = connected_components(df, max_iter=25).collect()
    assert {r["component"] for r in rows} == {0}
    assert len(rows) == 21


def test_triple_step_round_internals(spark):
    # Focused pins for the r11 triple-step rounds (propagate→jump→
    # propagate→jump→propagate per blocking round).
    # (a) In-round fixpoint proof: a clique converges inside ONE round's
    # budget (max_iter=3 → 1 round) because the round's own trailing diff
    # doubles as the fixpoint check — no extra round may be required.
    clique = [(a, b) for a in range(10, 15) for b in range(10, 15) if a < b]
    df = spark.createDataFrame(clique, "src BIGINT, dst BIGINT")
    rows = connected_components(df, max_iter=3).collect()
    assert {r["component"] for r in rows} == {10}
    assert len(rows) == 5
    # (b) Jump-accelerated reach: a 30-node path (diameter 29) must
    # converge within 3 blocking rounds (max_iter=9) — per-round reach
    # grows ~r→4r+7 (≥35 hops after two rounds), with the third round
    # proving the fixpoint; plain propagation would need 29 steps.
    path = [(i, i + 1) for i in range(29)]
    df = spark.createDataFrame(path, "src BIGINT, dst BIGINT")
    rows = connected_components(df, max_iter=9).collect()
    assert {r["component"] for r in rows} == {0}
    assert len(rows) == 30


def test_max_iter_guard(spark):
    edges = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(df, max_iter=3)


def test_dedup_clusters_from_minhash_pairs(spark, sf_dir):
    """End-to-end: minhash-LSH near-dup pairs → clusters. Every synthetic
    variant (doc_id + 100000) must land in its base doc's cluster with the
    base doc as keeper, and the cluster table must agree with union-find on
    the same pairs."""
    docs = augment_with_near_dups(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    pairs = (
        minhash_lsh_jaccard(docs)
        .filter(F.col("jaccard") >= 0.5)
        .select("da", "db")
    )
    edge_rows = [(r["da"], r["db"]) for r in pairs.collect()]
    assert edge_rows, "augmented corpus must produce near-dup pairs"
    expected = _union_find(edge_rows)

    clusters = {
        r["doc_id"]: (r["keep_id"], r["is_keeper"])
        for r in dedup_clusters(pairs).collect()
    }
    assert {d: k for d, (k, _) in clusters.items()} == expected
    for doc_id, (keep_id, is_keeper) in clusters.items():
        assert is_keeper == (doc_id == keep_id)
        if doc_id >= 100_000:  # synthetic variant: base doc is in-cluster
            assert keep_id <= doc_id - 100_000


def test_pagerank_star_graph_and_determinism(spark):
    """Hand-checkable star: the hub receives every spoke's full damped
    rank; results are bit-identical under repartitioning (exact longs),
    and total mass stays ≈ scale (lost only to per-edge rounding)."""
    from minarrow_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "src long, dst long"
    )
    pr = {r["id"]: (r["rank_scaled"], r["degree"]) for r in pagerank(edges).collect()}
    assert pr[0][1] == 4 and all(pr[i][1] == 1 for i in range(1, 5))
    assert pr[0][0] > pr[1][0]  # hub dominates
    assert pr[1] == pr[2] == pr[3] == pr[4]  # spokes symmetric
    total = sum(v for v, _ in pr.values())
    assert abs(total - 1_000_000_000) < 100  # mass preserved mod rounding
    pr2 = {
        r["id"]: (r["rank_scaled"], r["degree"])
        for r in pagerank(edges.repartition(7)).collect()
    }
    assert pr == pr2  # exact integer arithmetic → partition-invariant
    # replicate round 1 by hand: spokes send round(.85 * r0 / 1) to hub,
    # hub sends round(.85 * r0 / 4) to each spoke; base = round(.15e9 / 5);
    # every round is the exact integer half-up form (damping 0.85 = 17/20)
    ihalf = lambda num, den: (2 * num + den) // (2 * den)
    r0 = ihalf(1_000_000_000, 5)
    base = ihalf(3 * 1_000_000_000, 20 * 5)
    hub1 = base + 4 * ihalf(17 * r0, 20 * 1)
    spoke1 = base + ihalf(17 * r0, 20 * 4)
    pr_1 = {r["id"]: r["rank_scaled"] for r in pagerank(edges, iters=1).collect()}
    assert pr_1[0] == hub1 and pr_1[1] == spoke1


def test_pagerank_lumped_equals_expanded(spark):
    """The lumping theorem, executed: PageRank over the expanded graph
    (clone groups as cliques + complete bipartite bundles along rep edges)
    equals the group-level lumped computation joined back to members —
    bit-for-bit, since both run the same exact integer contract."""
    from minarrow_spark.operators.graph import pagerank, pagerank_lumped

    # groups: A={0,1,2} B={10} C={20,21} D={30,31} (D isolated, c>=2)
    sizes = spark.createDataFrame(
        [(0, 3), (10, 1), (20, 2), (30, 2)], "rep long, gc long"
    )
    members = {0: [0, 1, 2], 10: [10], 20: [20, 21], 30: [30, 31]}
    rep_edges = spark.createDataFrame([(0, 10), (10, 20)], "da long, db long")

    full_edges = []
    for ms in members.values():  # cliques
        full_edges += [(a, b) for a in ms for b in ms if a < b]
    for ra, rb in [(0, 10), (10, 20)]:  # bipartite bundles
        full_edges += [(a, b) for a in members[ra] for b in members[rb]]
    fe = spark.createDataFrame(full_edges, "src long, dst long")

    full = {r["id"]: (r["rank_scaled"], r["degree"])
            for r in pagerank(fe, iters=3).collect()}
    lumped = {r["id"]: (r["rank_scaled"], r["degree"], r["n_members"])
              for r in pagerank_lumped(rep_edges, sizes, iters=3).collect()}
    expanded = {
        m: (lumped[rep][0], lumped[rep][1])
        for rep, ms in members.items()
        if rep in lumped
        for m in ms
    }
    assert full == expanded


def test_q36_repeat_run_determinism(spark, sf_dir):
    """The r4 driver flake hunt (VERDICT r4 #1a): q36's full three-tier
    output must be bit-identical across repeated runs under varied
    shuffle-partition counts, with an induced JVM GC between runs (the
    GC-scoped localCheckpoints must not change results when their blocks'
    lifecycle differs). Any divergence here is the driver's hash_match
    flake reproduced; identical hashes across the sweep is the determinism
    evidence the verdict asked for."""
    import sys
    sys.path.insert(0, "tests")
    from tests.oracle_utils import canon_rows

    from minarrow_spark.queries.dedup import q36_simhash

    orig = spark.conf.get("spark.sql.shuffle.partitions")
    seen = None
    try:
        for parts in ("1", "3", "8", "16", "31"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            df = q36_simhash(spark, sf_dir)
            canon = canon_rows(list(df.columns), [tuple(r) for r in df.collect()])
            if seen is None:
                seen = canon
            else:
                assert canon == seen, f"q36 diverged at shuffle.partitions={parts}"
            spark.sparkContext._jvm.System.gc()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert seen and len(seen) > 0
