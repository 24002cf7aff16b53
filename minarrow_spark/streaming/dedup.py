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

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minarrow_spark.operators.dedup import (
    K,
    _band_keys,
    _signature,
    shingles,
    simhash,
    simhash_width_auto,
)
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


def simhash_band_rows(
    docs: DataFrame,
    text_col: str = "text",
    width: int = 32,
    bands: int = 4,
) -> DataFrame:
    """(doc_id, band_id, band_key) rows from the ``width``-bit simhash —
    the batch operator's exact banding (``operators/dedup.
    simhash_hamming_pairs``: equal band-width slices of one long), keyed
    into the SAME state schema the minhash tier uses (band_key string, so
    one state reader serves both methods)."""
    if width % bands:
        raise ValueError(f"width={width} not divisible by bands={bands}")
    w = width // bands
    mask = (1 << w) - 1
    sig = simhash(docs.select("doc_id", text_col), text_col, bits=width)
    return (
        sig.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_id"),
                            F.shiftright("simhash", b * w)
                            .bitwiseAND(F.lit(mask).cast("long"))
                            .cast("string")
                            .alias("band_key"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("b"),
        )
        .select("doc_id", "b.band_id", "b.band_key")
        .filter(F.col("band_key").isNotNull())  # token-less docs have no signature
    )


def _resolve_width(
    state_dir: str,
    batch: DataFrame,
    width: int | str,
    text_col: str,
    collision_budget: int = 100,
) -> int:
    """Resolve ``width`` for a state lineage. ``'auto'`` applies the batch
    operator's corpus-stats rule (``simhash_width_auto``) to the FIRST
    batch and PERSISTS the choice in ``state_dir/_WIDTH.json``: band keys
    from different widths never collide coherently, so one state directory
    must speak exactly one width — later batches and checkpoint restarts
    read the pinned choice instead of re-deciding. The pin is written AND
    enforced for explicit widths too: reopening an existing lineage with a
    different concrete width would silently mix incoherent band keys
    across batches (missed duplicates), so it raises instead."""
    path = os.path.join(state_dir, "_WIDTH.json")
    pinned = None
    if os.path.exists(path):
        with open(path) as fh:
            pinned = int(json.load(fh)["width"])
    if width != "auto":
        bits = int(width)
        if pinned is not None and pinned != bits:
            raise ValueError(
                f"state lineage {state_dir!r} is pinned to width {pinned}; "
                f"reopening it with width={bits} would mix incoherent band "
                f"keys across batches (one state dir speaks one width)"
            )
        if pinned is None:
            os.makedirs(state_dir, exist_ok=True)
            with open(path, "w") as fh:
                json.dump({"width": bits, "source": "explicit"}, fh)
        return bits
    if pinned is not None:
        return pinned
    from minarrow_spark._sql import ident
    from minarrow_spark.functions.text import token_count_sql

    stats = batch.agg(
        F.approx_count_distinct(F.md5(F.col(text_col))).alias("n"),
        F.percentile_approx(
            F.expr(token_count_sql(ident(text_col))), F.lit(0.5)
        ).alias("med"),
    ).collect()[0]
    bits, _bands = simhash_width_auto(
        int(stats["n"]), float(stats["med"] or 0), collision_budget
    )
    os.makedirs(state_dir, exist_ok=True)
    with open(path, "w") as fh:
        json.dump(
            {
                "width": bits,
                "distinct_n": int(stats["n"]),
                "median_tokens": float(stats["med"] or 0),
            },
            fh,
        )
    return bits


def dedup_writer(
    state_dir: str,
    out_dir: str,
    text_col: str = "text",
    method: str = "minhash",
    width: int | str = 32,
):
    """foreachBatch callback: verdicts to ``out_dir/batch=<id>``, this
    batch's (band_key → first doc) rows to ``state_dir/batch=<id>`` — both
    overwritten on replay of the same batch id (idempotent).

    ``method='simhash'`` keys the state with simhash bands instead of
    minhash bands, tracking the batch operator's config surface (r6 task
    8): ``width`` is 32, 64, or ``'auto'`` — auto resolves once per state
    lineage via ``_resolve_width`` and stays pinned across batches and
    restarts."""
    if method not in ("minhash", "simhash"):
        raise ValueError(f"method must be 'minhash' or 'simhash', got {method!r}")

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if method == "simhash":
            bits = _resolve_width(state_dir, batch, width, text_col)
            keys = simhash_band_rows(batch, text_col, width=bits)
        else:
            keys = band_rows(batch, text_col)
        # reused by probe, within-batch min, and the state write → one compute
        keys = keys.localCheckpoint(eager=True)
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
    docs_stream: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    **kw,
):
    """Start the incremental dedup stream (availableNow: drain what exists,
    then stop — a live cluster uses a processingTime trigger). Returns the
    StreamingQuery handle."""
    return (
        docs_stream.writeStream.foreachBatch(dedup_writer(state_dir, out_dir, **kw))
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
    src_pin = os.path.join(state_dir, "_WIDTH.json")
    if os.path.exists(src_pin):  # carry the simhash width pin with the state
        import shutil

        shutil.copy(src_pin, os.path.join(out_dir, "_WIDTH.json"))
    return compacted


def batch_twin(
    docs: DataFrame,
    text_col: str = "text",
    method: str = "minhash",
    width: int = 32,
) -> DataFrame:
    """One-shot recomputation of the same verdicts (backfills/equivalence
    tests): a doc is a duplicate iff a lower-id doc shares any band key —
    exactly the streamed outcome when arrival order follows doc_id.
    ``method``/``width`` mirror ``dedup_writer`` (width must be concrete
    here — a one-shot twin has no state lineage to pin 'auto' to)."""
    if method == "simhash":
        keys = simhash_band_rows(docs, text_col, width=int(width))
    else:
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
