"""Schema-contract gate at catalog load (r6 verdict task 7): a testdata
regeneration that flips a column type in a way load_table does not
normalize must fail the LOAD with the delta spelled out — not surface
three stages later as an oracle hash mismatch."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from minarrow_spark.sources.catalog import (
    SCHEMA_CONTRACT,
    TABLES,
    load_table,
    table_path,
)

from .conftest import SF_SMALL

_SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scratch",
    "contract_test",
)


def test_contract_covers_every_table():
    assert set(SCHEMA_CONTRACT) == set(TABLES)


def test_normal_loads_pass(spark):
    for t in TABLES:
        load_table(spark, SF_SMALL, t)  # must not raise


def test_wrong_type_fails_loudly(spark):
    # documents with n_chars flipped bigint→double: the exact silent-regen
    # shape — values round-trip, downstream decimal sums quietly change.
    bad = (
        spark.read.parquet(table_path(SF_SMALL, "documents"))
        .withColumn("n_chars", F.col("n_chars").cast("double"))
    )
    bad.write.mode("overwrite").parquet(table_path(_SCRATCH, "documents"))
    with pytest.raises(TypeError, match="n_chars.*got double.*expected bigint"):
        load_table(spark, _SCRATCH, "documents")


def test_missing_column_fails_loudly(spark):
    bad = spark.read.parquet(table_path(SF_SMALL, "region")).drop("r_name")
    bad.write.mode("overwrite").parquet(table_path(_SCRATCH, "region"))
    with pytest.raises(TypeError, match="r_name: MISSING"):
        load_table(spark, _SCRATCH, "region")


def test_plan_cache_repeat_and_failure_semantics(spark):
    # r10 opt: repeat loads of the same (sf_dir, table) return the cached
    # lazy plan (the ~100 ms listing+footer read is paid once per session)...
    df1 = load_table(spark, SF_SMALL, "nation")
    df2 = load_table(spark, SF_SMALL, "nation")
    assert df1 is df2
    # ...equivalent paths share one entry (keyed on abspath)...
    assert load_table(spark, SF_SMALL + os.sep, "nation") is df1
    # ...and FAILED loads are never cached: a bad table raises on EVERY
    # call (the contract gate can't be skipped by a stale entry).
    bad = (
        spark.read.parquet(table_path(SF_SMALL, "documents"))
        .withColumn("n_chars", F.col("n_chars").cast("double"))
    )
    bad.write.mode("overwrite").parquet(table_path(_SCRATCH, "documents"))
    for _ in range(2):
        with pytest.raises(TypeError, match="n_chars"):
            load_table(spark, _SCRATCH, "documents")


def test_par_memo_semantics(spark):
    # r11 §10: par() memoizes its RESULT weakly on the input DataFrame
    # object (the load_table plan-cache class — metadata only), skipping
    # the per-build Dataset→RDD partition probe + repartition rebuild.
    from minarrow_spark.queries._util import T, par

    d = T(spark, SF_SMALL, "nation")
    p1 = par(d)
    # repeat builds on the cached catalog df hit the memo (same lazy plan)
    assert par(d) is p1
    # the guard itself still holds: small scan ends up at defaultParallelism
    assert p1.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    # a DIFFERENT df object (e.g. post-invalidation reload) misses the memo
    # and gets its own entry — no cross-object reuse
    fresh = spark.read.parquet(table_path(SF_SMALL, "nation"))
    p2 = par(fresh)
    assert p2 is not p1 and par(fresh) is p2
    # schema/behavior unchanged
    assert p1.columns == d.columns and p2.columns == fresh.columns


def test_par_memo_identity_entry_is_collectable(spark):
    # An input that already has enough partitions comes back unchanged; its
    # memo entry must not pin it (a value equal to its own weak key would).
    import gc
    import weakref

    from minarrow_spark.queries._util import par

    wide = spark.range(
        0, 64, numPartitions=2 * spark.sparkContext.defaultParallelism
    )
    unchanged = par(wide) is wide and par(wide) is wide  # second call: memo hit
    assert unchanged
    ref = weakref.ref(wide)
    del wide
    gc.collect()
    assert ref() is None


def test_extra_column_is_fine(spark):
    ok = spark.read.parquet(table_path(SF_SMALL, "region")).withColumn(
        "r_comment", F.lit("x")
    )
    ok.write.mode("overwrite").parquet(table_path(_SCRATCH, "region_extra"))
    # load_table only accepts registry names; exercise the checker directly
    from minarrow_spark.sources.catalog import _check_contract

    _check_contract(
        "region",
        spark.read.parquet(table_path(_SCRATCH, "region_extra")),
        "synthetic",
    )  # must not raise
