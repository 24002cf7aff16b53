"""Deterministic hash-sampling operators (operators/sampling.py): the
properties per-row RNG sampling cannot give — reproducibility, cross-table
alignment, leak-proof splits."""

from __future__ import annotations

from pyspark.sql import functions as F

from minarrow_spark.operators.sampling import (
    hex_threshold,
    sample_mask,
    train_test_split,
)
from minarrow_spark.sources.catalog import load_table


def test_hex_threshold_bounds():
    assert hex_threshold(0.0) == "00000000"
    assert hex_threshold(1.0) == "g"  # sorts after every hex digit → keep all
    assert hex_threshold(0.5) == "80000000"


def _sample(df, key, fraction, salt=""):
    return df.filter(sample_mask(F.col(key), fraction, salt))


def test_hash_sample_deterministic_and_sized(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    s1 = _sample(o, "o_orderkey", 0.2)
    s2 = _sample(o, "o_orderkey", 0.2)
    assert s1.count() == s2.count()
    assert s1.exceptAll(s2).count() == 0  # identical rows, not just counts
    frac = s1.count() / o.count()
    assert 0.15 < frac < 0.25, frac
    # independent salt → different (but equally sized-ish) sample
    s3 = _sample(o, "o_orderkey", 0.2, salt="other")
    assert s3.exceptAll(s1).count() > 0


def test_hash_sample_aligns_across_tables(spark, sf_dir):
    """Sampling orders and lineitem by the SAME key keeps them joinable:
    every sampled lineitem's order is in the sampled orders — the property
    that makes hash sampling the 100 TB tool."""
    o = _sample(load_table(spark, sf_dir, "orders"), "o_orderkey", 0.1)
    l = _sample(
        load_table(spark, sf_dir, "lineitem").withColumnRenamed(
            "l_orderkey", "o_orderkey"
        ),
        "o_orderkey",
        0.1,
    )
    orphans = l.join(o, "o_orderkey", "left_anti")
    assert orphans.count() == 0


def test_train_test_split_disjoint_exhaustive(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    s = train_test_split(c, "c_custkey", test=0.2, val=0.1)
    counts = {r.split: r.n for r in s.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == c.count()  # exhaustive
    assert set(counts) <= {"train", "val", "test"}
    # deterministic: rerun assigns identical splits
    s2 = train_test_split(c, "c_custkey", test=0.2, val=0.1)
    assert s.exceptAll(s2).count() == 0


def test_weighted_sample_topk_deterministic_and_cross_engine(spark):
    """A-ES weighted sampling: bit-identical across partitionings, heavier
    keys oversampled, and the exact same k rows as an independent DuckDB
    replay of the priority expression."""
    import duckdb

    from minarrow_spark.operators.sampling import weighted_sample_topk

    rows = [(i, float(1 + (i % 10))) for i in range(1000)]
    df = spark.createDataFrame(rows, "k long, w double")
    got = sorted(r["k"] for r in weighted_sample_topk(df, "k", "w", 100).collect())
    got2 = sorted(
        r["k"]
        for r in weighted_sample_topk(df.repartition(13), "k", "w", 100).collect()
    )
    assert got == got2  # partition-invariant
    # heavier weights are overrepresented: mean weight of the sample must
    # exceed the population mean (5.5) decisively
    wmap = dict(rows)
    assert sum(wmap[k] for k in got) / 100 > 6.5
    # independent cross-engine replay (same md5-uniform, same rounding)
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k BIGINT, w DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = sorted(
        r[0]
        for r in con.execute(
            """
            SELECT k FROM t
            ORDER BY round(ln((CAST(CAST(
                     ('0x' || substr(md5('|' || CAST(k AS VARCHAR)), 1, 8))
                     AS UBIGINT) AS DOUBLE) + 1.0) / 4294967296.0) / w, 6)
                     DESC, k
            LIMIT 100
            """
        ).fetchall()
    )
    assert got == want
