"""Streaming layer tests: streaming results must equal batch recomputation
of the same specs (SURVEY §5 — watermark/session ops have no static oracle).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from minarrow_spark.sources.catalog import load_table
from minarrow_spark.streaming import (
    dedup_within_watermark,
    read_event_stream,
    replay_dir,
    run_to_memory,
    windowed_counts,
)


@pytest.fixture(scope="module")
def replay(spark, sf_dir):
    path = replay_dir(spark, sf_dir, n_chunks=6)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_windowed_counts_matches_batch(spark, sf_dir, replay):
    stream = read_event_stream(spark, replay)
    q = run_to_memory(windowed_counts(stream), "win_out", output_mode="complete")
    try:
        streamed = spark.sql("SELECT * FROM win_out")
        # Batch recomputation: identical spec without the watermark.
        from minarrow_spark.functions.arithmetic import dec

        e = load_table(spark, sf_dir, "events")
        batch = (
            e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(dec("value")).cast("double").alias("total_value"),
            )
            .select(
                F.unix_timestamp(F.col("w.start")).cast("bigint").alias("window_start"),
                "event_type",
                "n",
                "total_value",
            )
        )
        assert _canon(streamed) == _canon(batch)
    finally:
        q.stop()


def test_dedup_within_watermark(spark, sf_dir, replay):
    stream = read_event_stream(spark, replay)
    q = run_to_memory(
        dedup_within_watermark(stream).select("event_id"),
        "dedup_out",
        output_mode="append",
    )
    try:
        out = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_out").first()
        n_src = load_table(spark, sf_dir, "events").count()
        # Replay has no duplicate ids → pass-through, but each id exactly once.
        assert out.n == out.d == n_src
    finally:
        q.stop()


def test_stateful_running_totals(spark, sf_dir, replay):
    from minarrow_spark.streaming import running_totals_per_user

    stream = read_event_stream(spark, replay)
    q = (
        running_totals_per_user(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("running_out")
        .start()
    )
    try:
        q.processAllAvailable()
        # update-mode memory sink may hold several versions per key; the last
        # (max n_events) version per user must equal the batch totals.
        final = spark.sql(
            """
            SELECT user_id, max_by(total_value, n_events) AS total_value,
                   max(n_events) AS n_events
            FROM running_out GROUP BY user_id
            """
        )
        e = load_table(spark, sf_dir, "events")
        batch = e.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        j = final.alias("s").join(batch.alias("b"), "user_id")
        bad = j.filter(
            (F.col("s.n_events") != F.col("b.n_events"))
            | (F.abs(F.col("s.total_value") - F.col("b.total_value")) > 1e-6)
        ).count()
        assert bad == 0
        assert final.count() == batch.count()
    finally:
        q.stop()


def test_watermark_drops_late_rows(spark, tmp_path):
    """ST7 late-data semantics, tested with actual late data (the replay
    fixtures arrive in order, so batch-equivalence alone never exercises
    the drop path): an event arriving after the watermark passed its
    window must NOT appear in the closed window's append-mode output."""
    import datetime
    import os
    import time as _time

    from minarrow_spark.streaming import windowed_counts

    # watermarks require TIMESTAMP (tz-aware); session TZ is UTC
    schema = (
        "event_id long, user_id long, ts timestamp, "
        "event_type string, value double"
    )

    def write_chunk(idx, times):
        rows = [
            (100 * idx + i, 1, datetime.datetime(2024, 1, 1, h, m), "click", 1.0)
            for i, (h, m) in enumerate(times)
        ]
        path = os.path.join(str(tmp_path), f"chunk={idx:04d}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        _time.sleep(1.1)  # distinct mtimes → deterministic replay order

    write_chunk(0, [(10, 5), (10, 10), (10, 50)])  # window [10:00, 11:00)
    write_chunk(1, [(12, 0)])  # advances the eviction watermark past 11:00
    # Spark filters late rows against the PREVIOUS batch's watermark
    # (watermarkForLateEvents lags watermarkForEviction by one batch), so
    # one more batch must run before a late arrival is actually rejected:
    write_chunk(2, [(12, 5)])
    write_chunk(3, [(10, 20)])  # LATE: window closed two batches ago → dropped

    stream = read_event_stream(spark, str(tmp_path))
    q = run_to_memory(
        windowed_counts(stream, watermark="10 minutes"),
        "late_out",
        output_mode="append",
    )
    try:
        out = {r.window_start: r.n for r in spark.sql("SELECT * FROM late_out").collect()}
        w10 = int(datetime.datetime(2024, 1, 1, 10, 0, tzinfo=datetime.timezone.utc).timestamp())
        assert out.get(w10) == 3, out  # late 10:20 event NOT counted
        dropped = sum(
            p["stateOperators"][0]["numRowsDroppedByWatermark"]
            for p in q.recentProgress
            if p["stateOperators"]
        )
        assert dropped == 1, dropped  # and it was dropped BY THE WATERMARK
    finally:
        q.stop()


def test_hash_sampling_in_stream_matches_batch(spark, sf_dir, replay):
    """Deterministic hash sampling is a stateless projection+filter, so the
    identical operator applies under Structured Streaming and selects the
    SAME rows the batch form selects — the reproducibility property that
    makes it the right sampling tool for continuous ingestion."""
    from minarrow_spark.operators.sampling import sample_mask

    stream = read_event_stream(spark, replay)
    sampled = stream.filter(sample_mask(F.col("event_id"), 0.2)).select("event_id")
    q = run_to_memory(sampled, "sample_out", output_mode="append")
    try:
        streamed = spark.sql("SELECT * FROM sample_out")
        batch = (
            load_table(spark, sf_dir, "events")
            .filter(sample_mask(F.col("event_id"), 0.2))
            .select("event_id")
        )
        assert _canon(streamed) == _canon(batch)
        assert streamed.count() > 0
    finally:
        q.stop()


def test_stream_pair_join_matches_batch(spark, sf_dir, replay):
    from minarrow_spark.streaming import stream_pair_join

    sa = read_event_stream(spark, replay)
    sb = read_event_stream(spark, replay)
    q = run_to_memory(stream_pair_join(sa, sb), "pairs_out", output_mode="append")
    try:
        streamed = spark.sql("SELECT * FROM pairs_out")
        e = load_table(spark, sf_dir, "events")
        a, b = e.alias("a"), e.alias("b")
        batch = a.join(
            b,
            F.expr(
                "a.user_id = b.user_id AND a.event_id < b.event_id "
                "AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 minutes"
            ),
        ).select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_id").alias("eid_a"),
            F.col("b.event_id").alias("eid_b"),
        )
        assert _canon(streamed) == _canon(batch)
    finally:
        q.stop()


def test_continuous_rollup_matches_batch_and_is_idempotent(
    spark, sf_dir, replay, tmp_path
):
    """The continuous aggregate (streaming/rollup.py) must equal the one-shot
    batch rollup after draining the replay stream, and re-writing a batch id
    (a foreachBatch replay after failure) must not change the merged view."""
    from minarrow_spark.streaming import (
        continuous_rollup,
        rollup_batch_twin,
        rollup_view,
        rollup_writer,
    )

    rollup_dir = str(tmp_path / "rollup")
    q = continuous_rollup(
        read_event_stream(spark, replay),
        rollup_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    merged = rollup_view(spark, rollup_dir)
    batch = rollup_batch_twin(load_table(spark, sf_dir, "events"))
    assert _canon(merged) == _canon(batch)

    # Idempotent replay: re-run batch 0's write (same batch_id, fresh data
    # slice from the same chunk) — the per-batch overwrite must leave the
    # merged result unchanged.
    chunk0 = spark.read.parquet(os.path.join(replay, "chunk=0000"))
    rollup_writer(rollup_dir)(chunk0, 0)
    assert _canon(rollup_view(spark, rollup_dir)) == _canon(batch)


def test_rollup_compaction_preserves_view(spark, sf_dir, replay, tmp_path):
    """Compacting batch=* partials into one consolidated set must not change
    the merged rollup (same decomposable-measure algebra)."""
    from minarrow_spark.streaming import continuous_rollup, rollup_view
    from minarrow_spark.streaming.rollup import compact_rollup

    rollup_dir = str(tmp_path / "rollup")
    q = continuous_rollup(
        read_event_stream(spark, replay),
        rollup_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    before = _canon(rollup_view(spark, rollup_dir))
    out = str(tmp_path / "compacted")
    compact_rollup(spark, rollup_dir, out)
    assert _canon(rollup_view(spark, out)) == before


def test_rollup_writer_handles_empty_batch(spark, sf_dir, replay, tmp_path):
    """foreachBatch delivers empty micro-batches on idle triggers; an empty
    partial must neither fail nor change the merged view."""
    from minarrow_spark.streaming import rollup_view, rollup_writer

    rollup_dir = str(tmp_path / "rollup")
    chunk0 = spark.read.parquet(os.path.join(replay, "chunk=0000"))
    rollup_writer(rollup_dir)(chunk0, 0)
    before = _canon(rollup_view(spark, rollup_dir))
    rollup_writer(rollup_dir)(chunk0.limit(0), 1)
    assert _canon(rollup_view(spark, rollup_dir)) == before


def test_rollup_hll_distinct_users_accuracy(spark, sf_dir):
    """The rollup's mergeable HLL sketch answers distinct-users-per-window —
    the measure plain sums can't decompose. Estimate must land within the
    Datasketches HLL error envelope (generous 5%) of the exact distinct."""
    from minarrow_spark.streaming import rollup_batch_twin

    e = load_table(spark, sf_dir, "events")
    roll = rollup_batch_twin(e).select("window_start", "event_type", "approx_users")
    exact = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias("window_start"),
            "event_type",
            "n_users",
        )
    )
    rows = roll.join(exact, ["window_start", "event_type"]).collect()
    assert rows
    for r in rows:
        assert abs(r.approx_users - r.n_users) <= max(2, 0.05 * r.n_users), r


def test_band_rows_matches_hof_signature_form(spark):
    """band_rows' codegen explode→groupBy form (r8) must produce the EXACT
    (doc_id, band_id, band_key) set the original HOF composition
    (minhash_signatures over doc_shingle_arrays + hashlib md5 band concat)
    does — the check on the shared ``_signature``/``_band_keys`` definition
    that does not depend on it."""
    import os as _os

    from minarrow_spark.operators.dedup import (
        doc_shingle_arrays,
        minhash_signatures,
    )
    from minarrow_spark.streaming.dedup import band_rows
    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(_os.path.join(SF_SMALL, "documents.parquet")).select(
        "doc_id", "text"
    )
    got = {
        (r.doc_id, r.band_id, r.band_key)
        for r in band_rows(docs).collect()
    }
    sig = minhash_signatures(doc_shingle_arrays(docs))
    hof = set()
    for r in sig.collect():
        if r.h0 is None:
            continue
        import hashlib

        for b in range(4):
            key = hashlib.md5(
                (r[f"h{2 * b}"] + r[f"h{2 * b + 1}"]).encode()
            ).hexdigest()
            hof.add((r.doc_id, b, key))
    assert got == hof and got


def test_streaming_dedup_matches_batch_twin(spark, tmp_path):
    """Incremental LSH dedup over an id-ordered replay equals the one-shot
    batch twin for every doc, replayed batches are idempotent, and the
    compacted state answers probes identically."""
    from minarrow_spark.operators.dedup import augment_with_near_dups
    from minarrow_spark.streaming.dedup import (
        band_rows,
        batch_twin,
        compact_state,
        dedup_writer,
        streaming_dedup,
        verdicts,
    )
    from minarrow_spark.streaming.ingest import replay_frame_dir
    from tests.conftest import SF_SMALL

    docs = augment_with_near_dups(
        spark.read.parquet(os.path.join(SF_SMALL, "documents.parquet"))
    ).select("doc_id", "text")
    replay = replay_frame_dir(docs, "doc_id", n_chunks=5, base_dir=str(tmp_path / "r"))
    schema = spark.read.parquet(os.path.join(replay, "chunk=0000")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(replay)
    )
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    q = streaming_dedup(stream, state, out, str(tmp_path / "ck"))
    q.awaitTermination()
    got = {r["doc_id"]: r["is_dup"] for r in verdicts(spark, out).collect()}
    want = {r["doc_id"]: r["is_dup"] for r in batch_twin(docs).collect()}
    assert got == want
    assert sum(want.values()) > 0  # the near-dup population is detected
    assert not all(want.values())
    # replaying the LAST batch (same batch_id) must not change any verdict:
    # the writer overwrites its own directories and never probes its own state
    last = max(
        int(p.split("=")[1]) for p in os.listdir(out) if p.startswith("batch=")
    )
    last_docs = spark.read.parquet(os.path.join(out, f"batch={last}")).select("doc_id")
    replay_batch = docs.join(last_docs, "doc_id", "left_semi")
    dedup_writer(state, out)(replay_batch, last)
    again = {r["doc_id"]: r["is_dup"] for r in verdicts(spark, out).collect()}
    assert again == want
    # compaction preserves the probe algebra: min-of-firsts == twin's firsts
    comp_dir = str(tmp_path / "state_c")
    comp = compact_state(spark, state, comp_dir)
    first = band_rows(docs).groupBy("band_id", "band_key").agg(
        F.min("doc_id").alias("first_id")
    )
    assert _canon(comp) == _canon(first)
    # The fold lives under the batch=-1 sentinel, so a FRESH checkpoint's
    # batch_id=0 against the compacted dir (a) probes the folded history —
    # every doc that contributed a band key is now a duplicate of it — and
    # (b) appends batch=0 BESIDE the fold instead of clobbering it (the r8
    # batch=0 layout failed both, silently).
    fresh_out = str(tmp_path / "out_fresh")
    dedup_writer(comp_dir, fresh_out)(docs, 0)
    fresh = {r["doc_id"]: r["is_dup"] for r in verdicts(spark, fresh_out).collect()}
    keyed = {r["doc_id"] for r in band_rows(docs).select("doc_id").distinct().collect()}
    assert keyed and all(fresh[d] for d in keyed)
    state_batches = sorted(
        int(p.split("=")[1])
        for p in os.listdir(comp_dir)
        if p.startswith("batch=")
    )
    assert state_batches == [-1, 0]
    assert _canon(
        spark.read.parquet(os.path.join(comp_dir, "batch=-1"))
    ) == _canon(first)


def test_streaming_ann_matches_batch_twin(spark, tmp_path):
    """Incremental ANN: streamed top-k prior-corpus neighbors (through the
    int8 at-rest round-trip) equal the one-shot twin for an id-ordered
    replay; the first batch has no candidates; replay is idempotent."""
    from minarrow_spark.streaming.ann import (
        ann_writer,
        batch_twin,
        neighbors,
        streaming_ann,
    )
    from minarrow_spark.streaming.ingest import replay_frame_dir
    from tests.conftest import SF_SMALL

    vecs = spark.read.parquet(os.path.join(SF_SMALL, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    n_chunks = 4
    replay = replay_frame_dir(
        vecs, "vec_id", n_chunks=n_chunks, base_dir=str(tmp_path / "r")
    )
    schema = spark.read.parquet(os.path.join(replay, "chunk=0000")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(replay)
    )
    index, out = str(tmp_path / "idx"), str(tmp_path / "out")
    q = streaming_ann(stream, index, out, str(tmp_path / "ck"), k=3)
    q.awaitTermination()
    got = sorted(
        (r["q_id"], r["c_id"], r["sim"], r["rank"])
        for r in neighbors(spark, out).collect()
    )
    # twin: replicate the replay's id-range batch assignment
    lo, hi = vecs.agg(F.min("vec_id"), F.max("vec_id")).first()
    width = max(1, (hi - lo + n_chunks) // n_chunks)
    twin = batch_twin(
        vecs, lambda vid: ((vid - F.lit(lo)) / width).cast("int"), k=3
    )
    want = sorted(
        (r["q_id"], r["c_id"], r["sim"], r["rank"]) for r in twin.collect()
    )
    assert got == want
    assert want  # later batches found neighbors
    first_batch_ids = {
        r["vec_id"] for r in vecs.filter(F.col("vec_id") < lo + width).collect()
    }
    assert first_batch_ids.isdisjoint({q_id for q_id, *_ in want})
    # replaying the last batch id is a no-op on the verdicts
    last = max(int(p.split("=")[1]) for p in os.listdir(out) if p.startswith("batch="))
    rb = vecs.filter(((F.col("vec_id") - lo) / width).cast("int") == last)
    ann_writer(index, out, k=3)(rb, last)
    again = sorted(
        (r["q_id"], r["c_id"], r["sim"], r["rank"])
        for r in neighbors(spark, out).collect()
    )
    assert again == want


def test_streaming_dedup_kill_restart_exactly_once(spark, tmp_path):
    """Exactly-once under failure (r4 verdict #8): kill the stream mid-way,
    simulate the torn-batch crash window — a foreachBatch writer that
    finished its output/state writes but died BEFORE the checkpoint
    committed the offset — then restart from the same checkpoint. The
    restarted stream must replay the torn batch id over its own
    directories (overwrite semantics) and the final verdicts must equal
    the one-shot batch twin exactly."""
    import shutil

    from minarrow_spark.operators.dedup import augment_with_near_dups
    from minarrow_spark.streaming.dedup import (
        batch_twin,
        dedup_writer,
        streaming_dedup,
        verdicts,
    )
    from minarrow_spark.streaming.ingest import replay_frame_dir
    from tests.conftest import SF_SMALL

    docs = augment_with_near_dups(
        spark.read.parquet(os.path.join(SF_SMALL, "documents.parquet"))
    ).select("doc_id", "text")
    staged = replay_frame_dir(docs, "doc_id", n_chunks=5, base_dir=str(tmp_path / "r"))
    live = str(tmp_path / "live")
    os.makedirs(live)
    chunks = sorted(p for p in os.listdir(staged) if p.startswith("chunk="))
    assert len(chunks) == 5

    schema = spark.read.parquet(os.path.join(staged, chunks[0])).schema

    def start_stream():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(live)
        )
        return streaming_dedup(stream, state, out, ck)

    state, out, ck = (str(tmp_path / d) for d in ("state", "out", "ck"))

    # phase 1: only chunks 0-1 visible; drain and "crash" (query ends)
    for cdir in chunks[:2]:
        shutil.copytree(os.path.join(staged, cdir), os.path.join(live, cdir))
    start_stream().awaitTermination()
    committed = {p for p in os.listdir(out) if p.startswith("batch=")}
    assert committed == {"batch=0", "batch=1"}

    # phase 2: the torn batch — chunk 2 arrives, the writer completes BOTH
    # directory writes for batch id 2, but no checkpoint commit happens
    shutil.copytree(os.path.join(staged, chunks[2]), os.path.join(live, chunks[2]))
    torn = spark.read.parquet(os.path.join(live, chunks[2]))
    dedup_writer(state, out)(torn, 2)
    assert os.path.isdir(os.path.join(state, "batch=2"))  # torn state on disk

    # phase 3: the rest arrives; restart from the SAME checkpoint — the
    # source re-plans batch 2 from the undiscovered files and the writer
    # overwrites the torn directories idempotently
    for cdir in chunks[3:]:
        shutil.copytree(os.path.join(staged, cdir), os.path.join(live, cdir))
    start_stream().awaitTermination()

    got = {r["doc_id"]: r["is_dup"] for r in verdicts(spark, out).collect()}
    want = {r["doc_id"]: r["is_dup"] for r in batch_twin(docs).collect()}
    assert got == want
    assert sum(want.values()) > 0 and not all(want.values())


def test_streaming_ann_kill_restart_exactly_once(spark, tmp_path):
    """Kill-and-restart exactly-once for the ANN stream — the dedup
    stream's torn-batch scenario (r4 verdict #8) applied to the second
    stateful pipeline: drain two batches, simulate a writer that finished
    its index/output writes for the next batch id but died before the
    checkpoint committed, then restart from the same checkpoint with the
    remaining files present. The replayed batch id must overwrite the
    torn directories and the final neighbor table must equal the one-shot
    batch twin."""
    import shutil

    from minarrow_spark.streaming.ann import (
        ann_writer,
        batch_twin,
        neighbors,
        streaming_ann,
    )
    from minarrow_spark.streaming.ingest import replay_frame_dir
    from tests.conftest import SF_SMALL

    vecs = spark.read.parquet(os.path.join(SF_SMALL, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    n_chunks = 4
    staged = replay_frame_dir(
        vecs, "vec_id", n_chunks=n_chunks, base_dir=str(tmp_path / "r")
    )
    live = str(tmp_path / "live")
    os.makedirs(live)
    chunks = sorted(p for p in os.listdir(staged) if p.startswith("chunk="))
    schema = spark.read.parquet(os.path.join(staged, chunks[0])).schema
    index, out, ck = (str(tmp_path / d) for d in ("idx", "out", "ck"))

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(live)
        )
        return streaming_ann(stream, index, out, ck, k=3)

    for cdir in chunks[:2]:
        shutil.copytree(os.path.join(staged, cdir), os.path.join(live, cdir))
    start().awaitTermination()
    assert {p for p in os.listdir(index) if p.startswith("batch=")} == {
        "batch=0", "batch=1",
    }

    # torn batch 2: writes complete, checkpoint offset never committed
    shutil.copytree(os.path.join(staged, chunks[2]), os.path.join(live, chunks[2]))
    torn = spark.read.parquet(os.path.join(live, chunks[2]))
    ann_writer(index, out, k=3)(torn, 2)
    assert os.path.isdir(os.path.join(index, "batch=2"))

    shutil.copytree(os.path.join(staged, chunks[3]), os.path.join(live, chunks[3]))
    start().awaitTermination()

    got = sorted(
        (r["q_id"], r["c_id"], r["sim"], r["rank"])
        for r in neighbors(spark, out).collect()
    )
    lo, hi = vecs.agg(F.min("vec_id"), F.max("vec_id")).first()
    width = max(1, (hi - lo + n_chunks) // n_chunks)
    twin = batch_twin(
        vecs, lambda vid: ((vid - F.lit(lo)) / width).cast("int"), k=3
    )
    want = sorted(
        (r["q_id"], r["c_id"], r["sim"], r["rank"]) for r in twin.collect()
    )
    assert got == want and want


def _jobs_run(spark, build) -> int:
    """Spark jobs started while ``build()`` runs, counted by job group."""
    sc = spark.sparkContext
    group = f"declared-schema-{os.getpid()}-{id(build)}"
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _small_docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown fox jumps over"),
            (3, "an unrelated sentence here"),
        ],
        "doc_id bigint, text string",
    )


def _small_vecs(spark):
    from tests.conftest import SF_SMALL

    return (
        spark.read.parquet(os.path.join(SF_SMALL, "embeddings.parquet"))
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(40)
    )


def test_declared_schemas_match_writers(spark, sf_dir, tmp_path):
    """Each declared at-rest schema equals what its writer produces
    (nullability aside), so a drifting writer fails here rather than a
    read at serve time."""
    from minarrow_spark.streaming.ann import INDEX_SCHEMA, NEIGHBOR_SCHEMA, ann_writer
    from minarrow_spark.streaming.dedup import (
        STATE_SCHEMA,
        VERDICT_SCHEMA,
        dedup_writer,
    )
    from minarrow_spark.streaming.rollup import PARTIAL_SCHEMA, _partial_agg

    def declared(ddl):
        return spark.createDataFrame([], ddl).schema.simpleString()

    def written(path):  # inferred from the files, as the parent read them
        return spark.read.parquet(path).schema.simpleString()

    partial = _partial_agg(load_table(spark, sf_dir, "events"))
    assert partial.schema.simpleString() == declared(PARTIAL_SCHEMA)

    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    dedup_writer(state, out)(_small_docs(spark), 0)
    assert written(os.path.join(state, "batch=0")) == declared(STATE_SCHEMA)
    assert written(os.path.join(out, "batch=0")) == declared(VERDICT_SCHEMA)

    index, nb = str(tmp_path / "index"), str(tmp_path / "nb")
    ann_writer(index, nb)(_small_vecs(spark), 0)
    assert written(os.path.join(index, "batch=0")) == declared(INDEX_SCHEMA)
    assert written(os.path.join(nb, "batch=0")) == declared(NEIGHBOR_SCHEMA)


def test_unreadable_state_partial_is_not_empty_state(spark, tmp_path):
    """A state or index dir whose only partial is not parquet must fail the
    next batch's probe, not read as "no state yet" (which would probe
    every doc as new). A missing dir is still the empty state."""
    from minarrow_spark.streaming.ann import ann_writer
    from minarrow_spark.streaming.dedup import dedup_writer

    for name in ("state", "index"):
        os.makedirs(tmp_path / name / "batch=0")
        (tmp_path / name / "batch=0" / "part-00000.parquet").write_bytes(
            b"not a parquet file"
        )
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        dedup_writer(str(tmp_path / "state"), str(tmp_path / "out"))(
            _small_docs(spark), 1
        )
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        ann_writer(str(tmp_path / "index"), str(tmp_path / "nb"))(
            _small_vecs(spark), 1
        )
    # no state dir at all: batch 0 probes nothing and writes its verdicts
    fresh_out = str(tmp_path / "fresh_out")
    dedup_writer(str(tmp_path / "fresh_state"), fresh_out)(_small_docs(spark), 0)
    assert spark.read.parquet(os.path.join(fresh_out, "batch=0")).count() == 3


def test_rollup_view_builds_without_jobs(spark, replay, tmp_path):
    """Building the merge-on-read view over 3 partials runs no Spark job:
    the partials are read with PARTIAL_SCHEMA, not inferred."""
    from minarrow_spark.streaming import rollup_view, rollup_writer

    rollup_dir = str(tmp_path / "rollup")
    chunk0 = spark.read.parquet(os.path.join(replay, "chunk=0000"))
    for b in range(3):
        rollup_writer(rollup_dir)(chunk0.filter(F.col("event_id") % 3 == b), b)
    assert _jobs_run(spark, lambda: rollup_view(spark, rollup_dir)) == 0
    view = rollup_view(spark, rollup_dir)
    assert sum(r["n"] for r in view.collect()) == chunk0.count()


def test_read_event_stream_infers_schema_once_per_directory(spark, sf_dir, tmp_path):
    """A second readStream over the same replay dir runs no inference job;
    rewriting chunk=0000 with another column misses the memo."""
    e = load_table(spark, sf_dir, "events").limit(50)
    first = str(tmp_path / "chunk=0000")
    e.write.parquet(first)
    replay = str(tmp_path)
    read_event_stream(spark, replay)
    got = []
    assert _jobs_run(spark, lambda: got.append(read_event_stream(spark, replay))) == 0
    assert got[0].columns == e.columns
    e.withColumn("extra", F.lit(1)).write.mode("overwrite").parquet(first)
    assert read_event_stream(spark, replay).columns == e.columns + ["extra"]
