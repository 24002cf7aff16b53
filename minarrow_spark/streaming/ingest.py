"""Streaming ingestion: the reference's chunked-container surface (SURVEY
§2.12) re-expressed as Structured Streaming.

Reference mapping:
* `SuperTable::push(batch)` / `from_batches` (`super_table.rs:99,138`) →
  a file/rate micro-batch source feeding `readStream`.
* `RechunkStrategy::{Count,Memory,Auto}` (`super_array.rs:51-60`) →
  `maxFilesPerTrigger` / `maxBytesPerTrigger` trigger sizing + AQE.
* `consolidate()` (`consolidate.rs:61`) → sink-side coalesce/compaction.

Local testing uses a replay directory: the batch events table split into
chunk files, consumed with maxFilesPerTrigger=1 — a real incremental file
source driving the same query specs as the batch tier (SURVEY §5's
batch-equivalence strategy). On a cluster the same code points at a
Kafka/cloud-files source; nothing below assumes local mode.
"""

from __future__ import annotations

import os
import tempfile
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minarrow_spark.sources.catalog import _path_sig, load_table

FILES_PER_TRIGGER = 1  # one replay chunk per micro-batch


def replay_dir(
    spark: SparkSession, sf_dir: str, n_chunks: int = 8, base_dir: str | None = None
) -> str:
    """Materialize `events` as ``n_chunks`` parquet files for streaming replay
    (the SuperTable::push batch sequence). Chunks are split on event_id ranges
    so replay order is deterministic."""
    e = load_table(spark, sf_dir, "events")
    return replay_frame_dir(e, "event_id", n_chunks, base_dir)


def replay_frame_dir(
    df: DataFrame, id_col: str, n_chunks: int = 8, base_dir: str | None = None
) -> str:
    """Materialize any frame as ``n_chunks`` id-range chunk files for replay.
    Chunks are written in ascending id order (the file source picks batches
    up in modification order), so arrival order tracks ``id_col``."""
    out = base_dir or tempfile.mkdtemp(prefix="minarrow_stream_")
    e = df
    # Even-width id ranges → stable chunking independent of partition layout.
    bounds = e.agg(F.min(id_col), F.max(id_col)).first()
    lo, hi = bounds[0], bounds[1]
    width = max(1, (hi - lo + n_chunks) // n_chunks)
    chunked = e.withColumn(
        "chunk", ((F.col(id_col) - F.lit(lo)) / width).cast("int")
    )
    for i in range(n_chunks):
        (
            chunked.filter(F.col("chunk") == i)
            .drop("chunk")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(out, f"chunk={i:04d}"))
        )
    return out


# Per-session memo of each replay directory's inferred schema, keyed like
# the catalog's _PLAN_CACHE: the first chunk's absolute path plus its
# (mtime_ns, size) signature, so a rewritten chunk=0000 misses. Schema
# inference runs a Spark job on every `spark.read.parquet` call; a landing
# directory polled once per cycle would otherwise pay it every cycle. Only
# successful inferences are stored.
_SCHEMA_MEMO: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def read_event_stream(spark: SparkSession, replay_path: str) -> DataFrame:
    """readStream over the replay directory — micro-batch ingestion with
    Count-style rechunk policy (``FILES_PER_TRIGGER``). The schema is inferred
    from ``chunk=0000`` once per directory and session (one Spark job),
    then memoised until that chunk is rewritten; chunks of one directory
    must share it."""
    first = os.path.abspath(os.path.join(replay_path, "chunk=0000"))
    memo = _SCHEMA_MEMO.setdefault(spark, {})
    key = (first, _path_sig(first))
    schema = memo.get(key)
    if schema is None:
        schema = memo[key] = spark.read.parquet(first).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
        .option("recursiveFileLookup", "true")
        .parquet(replay_path)
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "complete"):
    """Drive a streaming DataFrame to completion into a memory sink and return
    the query handle (caller reads `SELECT * FROM {name}`)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    return q
