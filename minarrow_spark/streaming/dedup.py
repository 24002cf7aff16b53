"""Incremental (streaming) near-duplicate detection: dedup a document
STREAM against everything already ingested, without ever rescanning raw
history.

The 100 TB pattern: a training-data pipeline ingests documents
continuously; each new document must be checked against the full corpus
seen so far. Recomputing batch MinHash-LSH over all history per micro-batch
is O(history); the incremental form is O(new data):

* each micro-batch computes its docs' LSH **band keys** with the batch
  operator's one MinHash body (``operators/dedup._signature`` /
  ``_band_keys``: word 3-gram shingles, 8 × 16-bit minhashes from one md5
  per shingle, 4 bands of 2), pinned to an independent ``hashlib`` band
  reference in tests/test_streaming.py, and probes the accumulated
  band-key state with one join;
* a doc is a duplicate iff any of its band keys was seen in an earlier
  batch, or earlier (lower ``doc_id``) within its own batch — first
  arrival wins, deterministically;
* the batch then appends its own (band_key → first doc) rows to the state
  under ``batch=<id>`` — foreachBatch's batch_id is stable across restarts
  from the same checkpoint, and the directory is overwritten on replay, so
  the state sink is idempotent (effectively exactly-once), the same LSM
  shape as ``streaming/rollup.py``;
* state grows with DISTINCT band keys (corpus-scale but signature-sized —
  4 small rows per doc, no text, no shingles); ``compact_state``
  folds the per-batch files into one min-merged set, and the probe join is
  a plain equi-join that a real deployment bucket-partitions by band_key.

Batch equivalence: when arrival order follows ``doc_id`` (the replay
harness's id-range chunks), the streamed verdicts equal the one-shot
``batch_twin`` — dup iff a lower-id doc shares a band key — for ANY
batch split (pinned in tests/test_streaming.py).

Reference parity: the reference has no streaming dedup (its closest
surface is chunked-container append, `super_table.rs:99`); this is a
beyond-reference extension in the dedup family (SURVEY §2 extensions).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minarrow_spark.operators.dedup import K, _band_keys, _signature, shingles
from minarrow_spark.streaming.rollup import prior_batches

# At-rest schemas, exactly what ``dedup_writer`` writes (pinned against it
# in tests/test_streaming.py): every reader passes them, so no read runs a
# schema-inference job. A ``batch`` partition column joins them on read.
STATE_SCHEMA = "band_id int, band_key string, first_id bigint"
VERDICT_SCHEMA = "doc_id bigint, is_dup boolean"


def band_rows(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, band_id, band_key) rows: the batch operator's MinHash
    signature and band keys (``operators/dedup._signature`` /
    ``_band_keys``, its one fixed config), grouped per doc, so batch and
    streaming tiers share one hash. Docs with no shingles have no
    signature row and never collide."""
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(shingles(F.col(text_col), K))
        ).alias("shingle"),
    )
    return (
        _signature(sh, ["doc_id"])
        .select("doc_id", F.explode(_band_keys()).alias("b"))
        .select("doc_id", "b.band_id", "b.band_key")
        .filter(F.col("band_key").isNotNull())  # shingle-less docs never collide
    )


def dedup_writer(state_dir: str, out_dir: str, text_col: str = "text"):
    """foreachBatch callback: verdicts to ``out_dir/batch=<id>``, this
    batch's (band_key → first doc) rows to ``state_dir/batch=<id>`` — both
    overwritten on replay of the same batch id (idempotent)."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # reused by probe, within-batch min, and the state write → one compute
        keys = band_rows(batch, text_col).localCheckpoint(eager=True)
        batch_first = keys.groupBy("band_id", "band_key").agg(
            F.min("doc_id").alias("first_id")
        )
        prior = prior_batches(spark, state_dir, STATE_SCHEMA, batch_id)
        hit_prior = keys.join(
            prior.select("band_id", "band_key"), ["band_id", "band_key"], "left_semi"
        ).select("doc_id")
        hit_within = (
            keys.join(batch_first, ["band_id", "band_key"])
            .filter(F.col("doc_id") > F.col("first_id"))
            .select("doc_id")
        )
        dups = hit_prior.unionByName(hit_within).distinct()
        verdict = (
            batch.select("doc_id")
            .distinct()
            .join(dups.withColumn("_dup", F.lit(True)), "doc_id", "left")
            .select("doc_id", F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup"))
        )
        # No coalesce(1): it collapses the ENTIRE probe/verdict plan into a
        # single task (coalesce is a narrow dependency — measured 22 s for
        # q34's stream tier at the 10× point, 13.9 s after removing it).
        # Multi-file batch dirs are fine: every reader goes through
        # basePath partition discovery. A real deployment sizes files via
        # shuffle-partition tuning, not by strangling the plan. The two
        # writes are independent (different outputs, both reading the
        # already-materialized keys checkpoint), so they run CONCURRENTLY
        # (the q46 rollup-writer pattern; job submission is thread-safe).
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(2) as pool:
            fv = pool.submit(
                lambda: verdict.write.mode("overwrite").parquet(
                    os.path.join(out_dir, f"batch={batch_id}")
                )
            )
            fs = pool.submit(
                lambda: batch_first.write.mode("overwrite").parquet(
                    os.path.join(state_dir, f"batch={batch_id}")
                )
            )
            fv.result()
            fs.result()

    return write_batch


def streaming_dedup(
    docs_stream: DataFrame, state_dir: str, out_dir: str, checkpoint_dir: str
):
    """Start the incremental dedup stream (availableNow: drain what exists,
    then stop — a live cluster uses a processingTime trigger). Returns the
    StreamingQuery handle."""
    return (
        docs_stream.writeStream.foreachBatch(dedup_writer(state_dir, out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def verdicts(spark: SparkSession, out_dir: str) -> DataFrame:
    """All per-doc verdicts written so far: (doc_id, is_dup, batch)."""
    return (
        spark.read.schema(VERDICT_SCHEMA).option("basePath", out_dir).parquet(out_dir)
    )


def compact_state(spark: SparkSession, state_dir: str, out_dir: str) -> DataFrame:
    """LSM compaction of the band-key state: min-of-firsts per key — the
    same merge algebra the probe's "earlier batch wins" relies on, so a
    compacted state answers probes identically. Writes to ``out_dir``
    (never in place: a live stream may still be appending) under
    ``batch=-1`` — a sentinel no foreachBatch id can ever take, so the
    compacted directory IS a valid state lineage for ANY resumed or fresh
    stream: the probe's ``batch < before_batch`` filter includes the
    fold for every batch id down to 0, and a FRESH checkpoint's batch 0
    both probes the folded history and appends beside it without
    clobbering (r9 — under the previous ``batch=0`` layout a fresh
    checkpoint's first batch probed nothing and then overwrote the fold:
    silent history loss; r8's flat layout was unreadable as state
    entirely)."""
    compacted = (
        spark.read.schema(STATE_SCHEMA)
        .option("basePath", state_dir)
        .parquet(state_dir)
        .groupBy("band_id", "band_key")
        .agg(F.min("first_id").alias("first_id"))
    )
    compacted.write.mode("overwrite").parquet(os.path.join(out_dir, "batch=-1"))
    return compacted


def batch_twin(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One-shot recomputation of the same verdicts (backfills/equivalence
    tests): a doc is a duplicate iff a lower-id doc shares any band key —
    exactly the streamed outcome when arrival order follows doc_id."""
    keys = band_rows(docs, text_col)
    first = keys.groupBy("band_id", "band_key").agg(F.min("doc_id").alias("first_id"))
    dups = (
        keys.join(first, ["band_id", "band_key"])
        .filter(F.col("doc_id") > F.col("first_id"))
        .select("doc_id")
        .distinct()
    )
    return (
        docs.select("doc_id")
        .distinct()
        .join(dups.withColumn("_dup", F.lit(True)), "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup"))
    )
