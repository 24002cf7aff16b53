"""Shared helpers for query modules."""

from __future__ import annotations

import os
import shutil
import tempfile
from pathlib import Path
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession

from minarrow_spark.sources.catalog import load_table

# Queries that exercise at-rest state machines (q34 stream, q46 rollup)
# need a scratch directory for their state/verdict files. Resolution order:
# MINARROW_SCRATCH env var → a process-lifetime tempdir (r9: an absolute
# path hardcoded inside a registered query was a portability landmine).
_FALLBACK_SCRATCH: str | None = None


def scratch_dir(family: str, sf_dir: str) -> Path:
    """Fresh per-(family, sf) scratch dir for a query's at-rest files.

    Always cleared on entry: these queries replay a deterministic state
    lineage from scratch, so stale files from a prior run would be read as
    state (merge-on-read) and change verdicts."""
    global _FALLBACK_SCRATCH
    base = os.environ.get("MINARROW_SCRATCH")
    if base is None:
        if _FALLBACK_SCRATCH is None:
            _FALLBACK_SCRATCH = tempfile.mkdtemp(prefix="minarrow_scratch_")
            # The fallback dir holds parquet state/verdict files for the
            # process lifetime only — reap it at exit (r10 advice: mkdtemp
            # alone leaked one dir per process run).
            import atexit

            atexit.register(shutil.rmtree, _FALLBACK_SCRATCH, ignore_errors=True)
        base = _FALLBACK_SCRATCH
    d = Path(base) / family / Path(sf_dir).name
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True, exist_ok=True)
    return d


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# par() result memo (r11 §10): keyed WEAKLY on the input DataFrame object —
# load_table returns one cached lazy DataFrame per (session, sf_dir, table),
# so repeat builds of the same query hit the memo and skip the Dataset→RDD
# partition probe + repartition-node rebuild (~13 ms/call measured, paid
# per bench rep by every par()-using timed builder). Metadata only (a lazy
# plan object, the load_table plan-cache class): nothing row-level is
# cached, a fresh input df (cache invalidation, non-catalog caller) simply
# misses, and entries die with their input df. When par() returns its
# input unchanged the memo stores _SAME instead of the df itself: a value
# that references its own weak key would keep the entry alive forever.
# Built at import so concurrent first calls share one dict.
_PAR_MEMO: WeakKeyDictionary = WeakKeyDictionary()
_SAME = object()


def par(df: DataFrame) -> DataFrame:
    """Scan-parallelism guard for CPU-heavy per-row pipelines (regex
    tokenization, per-shingle hashing, vector math): when the source scan
    yields fewer partitions than the cluster's parallelism — a single
    sub-`maxPartitionBytes` file, the small-SF test shape — round-robin
    repartition so the expensive map work uses every core instead of one.

    At production scale the scan's file splits already exceed
    defaultParallelism, the guard short-circuits, and NO exchange is added —
    this is not a blanket repartition. The repartitioned case moves only the
    raw scan rows (the cheapest point in the pipeline, before any explode/
    hash fan-out multiplies bytes). Measured at sf0.1: q35 minhash map stage
    32× parallel vs single-core, headline ~1.4s vs 2.5-8.6s erratic."""
    hit = _PAR_MEMO.get(df)
    if hit is not None:
        return df if hit is _SAME else hit
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        _PAR_MEMO[df] = _SAME
        return df
    out = _PAR_MEMO[df] = df.repartition(target)
    return out
