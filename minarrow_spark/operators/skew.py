"""Skew mitigation: salted aggregation.

AQE's skew-join splitting (on in `session.py`) handles most skew at runtime
but not a hot-key aggregation: a groupBy where one key holds a large share
of all rows bottlenecks on a single reducer. `salted_agg` does a two-stage
aggregate: stage 1 groups on (key, salt) — spreading the hot key over
``n_salts`` reducers — stage 2 merges the partials. Works for any algebraic
aggregate (sum/count/min/max and their compositions). A pure DataFrame
composition — no Python in the data path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int, col_name: str = "__salt") -> DataFrame:
    """Uniform random salt in [0, n_salts). Salt only routes rows between
    reducers — results never depend on its value. The seed is FIXED: an
    unseeded ``rand()`` puts a fresh seed literal into the generated code on
    every build, so each run of the same plan compiles new classes."""
    return df.withColumn(col_name, (F.rand(0) * n_salts).cast("int"))


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    partial_aggs: Sequence[Column],
    merge_aggs: Sequence[Column],
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage skew-safe aggregation.

    ``partial_aggs`` run per (keys, salt); ``merge_aggs`` combine the
    partials per keys. E.g. count: partial ``count(1).alias("c")``, merge
    ``sum("c").alias("c")``. The extra stage costs one small shuffle of
    |keys|×n_salts rows — negligible against de-bottlenecking a hot key."""
    staged = (
        with_salt(df, n_salts)
        .groupBy(*keys, "__salt")
        .agg(*partial_aggs)
    )
    return staged.groupBy(*keys).agg(*merge_aggs)
