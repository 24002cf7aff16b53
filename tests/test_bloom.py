"""Bloom semi-join pre-filter: no false negatives, useful prune rate,
exact equivalence of the pruned semi-join with the plain one, NDV sizing
and refusal, and a DuckDB replay of the filter bits (the md5
construction is engine-portable)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from minarrow_spark.operators.bloom import (
    bloom_build,
    bloom_build_auto,
    bloom_might_contain,
)


@pytest.fixture(scope="module")
def tables(spark):
    dim = spark.range(0, 100).select((F.col("id") * 7).alias("k"))
    fact = spark.range(0, 20000).select((F.col("id") % 5000).alias("k"), "id")
    return dim, fact


def test_no_false_negatives_and_prune_rate(spark, tables):
    dim, fact = tables
    words = bloom_build(dim, "k")
    passed = fact.filter(bloom_might_contain(F.col("k"), words))
    true_keys = {r["k"] for r in dim.collect()}
    passed_keys = {r["k"] for r in passed.select("k").distinct().collect()}
    assert true_keys <= passed_keys  # Bloom guarantee
    # 100 keys in 16384 bits → FP rate well under 5%; fact has 5000
    # distinct keys, ~2% truly match, so the pass-through must stay small
    assert passed.count() < 0.10 * fact.count()


def test_semi_join_equivalence(spark, tables):
    """q06's shape: the Bloom prune plus the exact semi-join returns the
    plain semi-join's rows (no false negatives; the join drops the false
    positives)."""
    dim, fact = tables
    words = bloom_build(dim, "k")
    pruned = fact.filter(bloom_might_contain(F.col("k"), words))
    got = sorted(r["id"] for r in pruned.join(dim, "k", "left_semi").collect())
    want = sorted(r["id"] for r in fact.join(dim, "k", "left_semi").collect())
    assert got == want and got


def test_auto_sizes_from_ndv(spark, tables):
    dim, _ = tables
    # 100 keys × 10 bits → min_bits floor (16384)
    built = bloom_build_auto(dim, "k")
    assert built is not None
    words, n_bits = built
    assert n_bits == 1 << 14
    assert words == bloom_build(dim, "k", n_bits=n_bits)
    # ~40k keys × 10 bits → next pow2 = 2^19, inside the cap
    mid = spark.range(0, 40000).select(F.col("id").alias("k"))
    _, mid_bits = bloom_build_auto(mid, "k")
    assert mid_bits == 1 << 19


def test_auto_refuses_on_saturating_ndv(spark):
    # 1M distinct keys × 10 bits ≫ MAX_BITS → refusal, not a useless filter
    # (q06 then runs the plain semi-join: a refusal builds no filter)
    big = spark.range(0, 1_000_000).select(F.col("id").alias("k"))
    assert bloom_build_auto(big, "k") is None


def test_auto_refuses_on_non_selective_dim(spark, tables):
    dim, fact = tables
    # dim covers 95% of the probe domain → filter passes ~everything →
    # refusal (the q06 lesson: a fitting filter can still never pay)
    wide = spark.range(0, 4750).select(F.col("id").alias("k"))
    probe = spark.range(0, 5000).select(F.col("id").alias("k"))
    assert bloom_build_auto(wide, "k", probe_keys=probe) is None
    # a genuinely selective dim (2% of the domain) still builds
    assert bloom_build_auto(dim, "k", probe_keys=probe) is not None


def test_bits_replay_in_duckdb(spark, tables):
    dim, _ = tables
    words = bloom_build(dim, "k", n_hashes=3, n_bits=1 << 10)
    con = duckdb.connect()
    rows = con.execute(
        """
        WITH keys AS (SELECT (i * 7) AS k FROM range(0, 100) t(i))
        SELECT DISTINCT CAST(CAST(('0x' || substr(md5('d' || (h.i // 4) || '|'
                   || CAST(k AS VARCHAR)), 1 + 8 * (h.i % 4), 8)) AS UBIGINT)
                   % 1024 AS BIGINT) AS p
        FROM keys, range(0, 3) h(i)
        """
    ).fetchall()
    acc = [0] * (1024 // 64)
    for (p,) in rows:
        acc[p // 64] |= 1 << (p % 64)
    # Spark words are signed longs; wrap bit 63 the same way
    acc = [w - (1 << 64) if w >= (1 << 63) else w for w in acc]
    assert acc == words
