"""Empty-input edge semantics: every operator must return an EMPTY result
with the CORRECT schema, never throw — the reference's zero-length-array
unit tier (`src/kernels/arithmetic/mod.rs` empty suites), applied to the
distributed operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from minarrow_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_jaccard,
    simhash,
)
from minarrow_spark.operators.joins import asof_join
from minarrow_spark.operators.sampling import train_test_split
from minarrow_spark.operators.similarity import brute_force_topk
from minarrow_spark.sources.catalog import load_table


def _empty(df):
    return df.filter(F.lit(False))


def test_dedup_operators_empty(spark, sf_dir):
    docs = _empty(load_table(spark, sf_dir, "documents"))
    d = exact_dedup(docs)
    assert d.count() == 0 and d.columns == ["fp", "keep_id", "n_copies"]
    s = simhash(docs)
    assert s.count() == 0 and s.columns == ["doc_id", "simhash"]
    j = minhash_lsh_jaccard(docs)
    assert j.count() == 0 and j.columns == ["da", "db", "jaccard"]


def test_sampling_empty(spark, sf_dir):
    o = _empty(load_table(spark, sf_dir, "orders"))
    s = train_test_split(o, "o_orderkey", test=0.2, val=0.1)
    assert s.count() == 0 and "split" in s.columns


def test_similarity_empty_probes(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    probes = _empty(e).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    t = brute_force_topk(probes, e, k=5)
    assert t.count() == 0


def test_asof_join_empty_right(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    right = _empty(ev).select(
        F.col("event_id").alias("rid"), "user_id", "ts", F.col("value").alias("v")
    )
    out = asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="ts",
        payload=["rid", "v"], tiebreak="rid",
    )
    # left-outer as-of: every left row survives with null payload
    assert out.count() == left.count()
    assert out.filter(F.col("asof_rid").isNotNull()).count() == 0


def test_fuzzy_pairs_blocked_join(spark):
    """Blocked Levenshtein join: in-block near matches found, out-of-block
    (different prefix) pairs never compared, threshold respected."""
    from minarrow_spark.operators.dedup import fuzzy_pairs

    names = spark.createDataFrame(
        [
            (1, "golden lamp"),
            (2, "golden lamb"),   # dist 1, same prefix → pair
            (3, "golden stamp"),  # dist 2 vs #1 (sub l→t, insert s)
            (4, "olden lamp"),    # dist 1 vs #1 but different 4-prefix → missed
            (5, "green lamp"),
        ],
        "k long, nm string",
    )
    got = {(r["da"], r["db"]): r["dist"] for r in fuzzy_pairs(names).collect()}
    assert got == {(1, 2): 1.0, (1, 3): 2.0, (2, 3): 3.0}
    plan = fuzzy_pairs(names)._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_gapfill_locf_and_lerp(spark):
    """Grid completion + LOCF + linear interpolation, incl. series edges:
    leading gaps take the next observation, trailing gaps carry forward."""
    from minarrow_spark.operators.timeseries import gapfill

    present = spark.createDataFrame(
        [(100, "a", 1, 10.0), (130, "a", 2, 40.0), (110, "b", 1, 5.0)],
        "b long, k string, n long, v double",
    )
    out = {
        (r["b"], r["k"]): (r["v"], r["locf"], r["lerp"])
        for r in gapfill(present, step=10).collect()
    }
    # global span [100, 130] × {a, b} = 8 cells
    assert len(out) == 8
    assert out[(100, "a")] == (10.0, 10.0, 10.0)
    assert out[(110, "a")] == (None, 10.0, 20.0)   # 1/3 of the way 10→40
    assert out[(120, "a")] == (None, 10.0, 30.0)
    assert out[(130, "a")] == (40.0, 40.0, 40.0)
    assert out[(100, "b")] == (None, None, 5.0)    # leading gap → next obs
    assert out[(110, "b")] == (5.0, 5.0, 5.0)
    assert out[(120, "b")] == (None, 5.0, 5.0)     # trailing gap → LOCF
    assert out[(130, "b")] == (None, 5.0, 5.0)
