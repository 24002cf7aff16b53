"""Continuous aggregate (hypertable-style rollup): incrementally maintain a
coarse time-grain aggregate of an event stream so serving queries never
rescan raw history.

The 100 TB pattern: raw events are append-heavy and huge; dashboards ask
hourly/daily aggregates. Recomputing the window agg over all history per
refresh is O(history); a continuous rollup is O(new data):

* each micro-batch writes its PARTIAL aggregate (decomposable measures
  only — counts and exact long sums) to ``{dir}/batch=<id>``;
* a batch that replays after a failure OVERWRITES its own directory —
  foreachBatch's batch_id is stable across restarts from the same
  checkpoint, so the sink is idempotent (effectively exactly-once);
* reads merge partials with one small groupBy (sum-of-sums, sum-of-counts)
  — the LSM shape: cheap appends, merge-on-read, optional compaction;
* every read of the at-rest files — here and in the dedup and ANN state
  tiers — uses the writer's declared schema (``PARTIAL_SCHEMA``), so
  serving runs no schema-inference job (``spark.read.parquet`` without a
  schema runs one on every call); only the ``batch=<id>`` partition
  column is discovered from the paths.

Measures are carried as scaled longs (value × 100 → cents), so partial
merges are EXACT under any batch split — the same partial-agg algebra
Spark's own two-phase hash aggregate relies on, surfaced at rest.

Reference parity: the reference's chunked containers accumulate batches in
memory (`/root/reference/src/structs/chunked/super_table.rs:99,138`); this
is the at-rest, restart-safe, distributed counterpart for aggregates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# The rollup grain. Writer, stream and batch twin must agree on it, so it
# is fixed here rather than passed.
WINDOW = "1 hour"

# The at-rest schema of a partial, exactly what ``_partial_agg`` writes
# (pinned against it in tests/test_streaming.py).
PARTIAL_SCHEMA = (
    "window_start BIGINT, event_type STRING, n BIGINT, value_cents BIGINT, "
    "users_hll BINARY"
)


def _partial_agg(batch: DataFrame) -> DataFrame:
    """Per-batch partial rollup: decomposable measures (count + exact
    scaled-long sum) PLUS a mergeable Datasketches HLL sketch of user_id,
    keyed by (window_start, event_type).

    The sketch is what lets the rollup answer "distinct users per window" —
    a measure plain sums cannot decompose (distinct is not algebraic).
    HLL register states merge by element-wise max, so sketches built from
    ANY batch split union to the identical state the one-shot aggregate
    produces — deterministic, order-free, and a few KB per row at rest."""
    return (
        batch.groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
            F.hll_sketch_agg("user_id").alias("users_hll"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias("window_start"),
            "event_type",
            "n",
            "value_cents",
            "users_hll",
        )
    )


def _merge_partials(partials: DataFrame) -> DataFrame:
    """The merge algebra: partials → one partial per (window_start,
    event_type). Sum-of-counts, sum-of-cents and the HLL register-max
    union are all associative, so any batch split or compaction order
    merges to the same state."""
    return partials.groupBy("window_start", "event_type").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("value_cents").cast("bigint").alias("value_cents"),
        F.hll_union_agg("users_hll").alias("users_hll"),
    )


def _finalize(merged: DataFrame) -> DataFrame:
    """Merged partials → served measures: exact cents back to a double
    total, the sketch to its distinct-users estimate."""
    return merged.select(
        "window_start",
        "event_type",
        "n",
        (F.col("value_cents").cast("decimal(38,0)") / 100)
        .cast("double")
        .alias("total_value"),
        F.hll_sketch_estimate("users_hll").cast("bigint").alias("approx_users"),
    )


def rollup_writer(rollup_dir: str):
    """foreachBatch callback: write this batch's partial aggregate under
    ``batch=<id>``, overwriting any previous attempt of the SAME batch —
    replays after failure/restart are idempotent."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        _partial_agg(batch).coalesce(1).write.mode("overwrite").parquet(
            f"{rollup_dir}/batch={batch_id}"
        )

    return write_batch


def continuous_rollup(events: DataFrame, rollup_dir: str, checkpoint_dir: str):
    """Start the rollup maintenance stream (availableNow: drain what exists,
    then stop — on a live cluster use a processingTime trigger instead).
    Returns the StreamingQuery handle."""
    return (
        events.writeStream.foreachBatch(rollup_writer(rollup_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def rollup_view(spark: SparkSession, rollup_dir: str) -> DataFrame:
    """Merge-on-read over the partial files, read with ``PARTIAL_SCHEMA``
    (no inference job): one groupBy over rollup-cardinality rows (windows ×
    types, NOT raw events). Exact: long sums merge associatively regardless
    of how batches split the data."""
    partials = spark.read.schema(PARTIAL_SCHEMA).parquet(rollup_dir)
    return _finalize(_merge_partials(partials))


def prior_batches(
    spark: SparkSession, lsm_dir: str, schema: str, before_batch: int
) -> DataFrame:
    """Rows of the ``batch=<id>`` partials under ``lsm_dir`` with id below
    ``before_batch``, read with their declared ``schema`` (the state tables
    of streaming/dedup.py and streaming/ann.py: a replayed batch must not
    probe its own earlier attempt). An empty frame when no partial exists
    yet: the directory is missing or holds no ``batch=*`` entry. A partial
    that cannot be read fails the action that scans it; it is never taken
    for an empty state."""
    if not os.path.isdir(lsm_dir) or not any(
        name.startswith("batch=") for name in os.listdir(lsm_dir)
    ):
        return spark.createDataFrame([], schema)
    prior = spark.read.schema(schema).option("basePath", lsm_dir).parquet(lsm_dir)
    return prior.filter(F.col("batch") < before_batch).drop("batch")


def rollup_batch_twin(events: DataFrame) -> DataFrame:
    """The one-shot batch recomputation of the same rollup (for equivalence
    tests and backfills): identical measures, identical cents math."""
    return _finalize(_merge_partials(_partial_agg(events)))


def compact_rollup(spark: SparkSession, rollup_dir: str, out_dir: str) -> DataFrame:
    """Fold accumulated batch=* partials into one consolidated partial set
    (the LSM compaction step: many small per-batch files → one file per
    shuffle partition, same merge algebra, identical view results).

    Writes to ``out_dir`` (never in place — a live maintenance stream may
    still be appending to ``rollup_dir``; the caller swaps directories or
    repoints readers once the write commits). Returns the compacted frame.
    """
    partials = spark.read.schema(PARTIAL_SCHEMA).parquet(rollup_dir)
    compacted = _merge_partials(partials)
    compacted.write.mode("overwrite").parquet(out_dir)
    return compacted
