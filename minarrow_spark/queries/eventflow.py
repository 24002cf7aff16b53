"""Event-time processing over `events` — batch forms of the streaming surface
(SURVEY §2.12 ST1-ST7). The same window specs run under Structured Streaming
in minarrow_spark.streaming (tested by batch-equivalence, SURVEY §5).

Timestamps: parquet stores ns; Spark truncates to µs on read — oracles cast
to TIMESTAMP (µs) to match. Window starts are emitted as epoch seconds
(BIGINT), the cross-engine-safe form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from minarrow_spark.functions.arithmetic import dec
from minarrow_spark.operators.joins import asof_join
from minarrow_spark.queries._util import T, scratch_dir
from minarrow_spark.registry import query


@query(
    "q45_tumbling_window",
    oracle="""
    SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) * 3600 AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("ST4", "streaming", "window"),
    bench=True,
)
def q45_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows (window() — identical spec runs
    under readStream + watermark in the streaming layer).

    Built as ONE parameterized spark.sql statement (r11 §10, the q01/q47
    build-cut pattern): one parse round-trip, same plan (after-dump diff
    empty modulo expression ids), identical values. The DECIMAL(18,2) sum
    is the exact order-independent aggregation contract (functions.
    arithmetic.dec), emitted as double."""
    return spark.sql(
        """
        SELECT CAST(unix_timestamp(w.start) AS BIGINT) AS window_start,
               event_type, n, total_value
        FROM (
          SELECT window(ts, '1 hour') AS w, event_type,
                 count(1) AS n,
                 CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_value
          FROM {e}
          GROUP BY window(ts, '1 hour'), event_type
        )
        """,
        e=T(spark, sf_dir, "events"),
    )


@query(
    "q46_hopping_window",
    oracle="""
    WITH hops AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, 3) t(i)),
    assigned AS (
      SELECT ((epoch_us(CAST(e.ts AS TIMESTAMP)) // 600000000) - h.i) * 600
               AS window_start,
             epoch_us(CAST(e.ts AS TIMESTAMP)) AS ep,
             e.value
      FROM events e CROSS JOIN hops h
    ),
    cud AS (
      SELECT DISTINCT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
      FROM events
    ),
    cfirst AS (SELECT user_id, MIN(d) AS c FROM cud GROUP BY user_id),
    cret AS (
      SELECT f.c, a.d - f.c AS k, COUNT(*) AS n
      FROM cud a JOIN cfirst f USING (user_id) GROUP BY 1, 2
    ),
    csz AS (SELECT c, COUNT(*) AS sz FROM cfirst GROUP BY c)
    SELECT 'hop' AS tier, window_start, '' AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           TRUE AS approx_users_ok
    FROM assigned
    WHERE ep >= window_start * 1000000
      AND ep < (window_start + 1800) * 1000000
    GROUP BY window_start
    UNION ALL
    SELECT 'rollup' AS tier,
           (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) * 3600 AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DECIMAL(38,0))
                / 100 AS DOUBLE) AS total_value,
           TRUE AS approx_users_ok
    FROM events
    GROUP BY 2, 3
    UNION ALL
    SELECT 'cohort', CAST(r.c * 86400 AS BIGINT),
           'd' || lpad(CAST(r.k AS VARCHAR), 3, '0'),
           CAST(r.n AS BIGINT),
           round(CAST(r.n AS DOUBLE) / s.sz, 6),
           TRUE
    FROM cret r JOIN csz s ON s.c = r.c
    """,
    tags=("ST4", "ST1", "ST3", "streaming", "window", "rollup", "cohort"),
)
def q46_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time window suite, three tiers:

    * tier 'hop' — sliding 30-min windows every 10 min (each event lands in
      3 windows; F.window hop spec).
    * tier 'rollup' — the continuous-aggregate serving path
      (streaming/rollup.py) exercised end-to-end THROUGH ITS AT-REST FILES:
      events are split into 3 deterministic micro-batches (event_id % 3),
      each batch's partial aggregate is written to `batch=<id>` parquet via
      the same `rollup_writer` callback foreachBatch uses (ST1 micro-batch
      append), the partials are folded by `compact_rollup` (ST3/U3
      consolidation), and the returned rows come from `rollup_view`'s
      merge-on-read over the compacted files. The DuckDB twin is the plain
      one-shot aggregate over raw events — equality PROVES the
      partial/merge algebra (exact scaled-long cents) is lossless under
      batch splits, restarts (idempotent overwrite), and compaction.
    * tier 'cohort' — retention analysis: users cohorted by first-seen
      day; per (cohort, day-offset) cell, the distinct retained users and
      the retention rate (rounded 6) — the standard product-analytics
      cut, two map-side-combined aggregates + one broadcast size join.

    Scale shape: the hop tier is one map-side-combined shuffle; the rollup
    tier's serving read scans rollup-cardinality rows (windows × types),
    never raw history — the O(new-data) refresh pattern hypertables use."""
    from minarrow_spark.streaming.rollup import (
        WINDOW,
        compact_rollup,
        rollup_view,
        rollup_writer,
    )

    e = T(spark, sf_dir, "events")
    hop = (
        e.groupBy(F.window("ts", "30 minutes", "10 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .select(
            F.lit("hop").alias("tier"),
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias("window_start"),
            F.lit("").alias("event_type"),
            "n",
            "total_value",
            F.lit(True).alias("approx_users_ok"),
        )
    )

    scratch = scratch_dir("rollup", sf_dir)
    raw_dir, comp_dir = str(scratch / "partials"), str(scratch / "compacted")
    write_batch = rollup_writer(raw_dir)
    # The three batch writes are INDEPENDENT jobs (each scans+aggregates
    # its own event slice into its own batch=<id> dir) — submit them
    # concurrently from threads (the q35 orchestration pattern; job
    # submission is thread-safe). Measured at the 100× replica point:
    # ~1.6 s per sequential write → the trio overlaps instead of summing.
    # A real deployment never does this: foreachBatch delivers batches one
    # at a time — this harness replays three batches' worth of history.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(3) as pool:
        futs = [
            pool.submit(write_batch, e.filter(F.col("event_id") % 3 == b), b)
            for b in range(3)
        ]
        for f in futs:
            f.result()
    compact_rollup(spark, raw_dir, comp_dir)
    # Sketch-serving check: the rollup's mergeable HLL distinct-users
    # estimate (built per batch, unioned through compaction) must land
    # within 5% of the exact per-window distinct — deterministic for fixed
    # input, so the boolean is a hash-checked error bound (the q24
    # approx_*_ok pattern), proving sketch partials survive the batch
    # split + compaction + merge-on-read path losslessly.
    exact_users = (
        e.groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias("window_start"),
            "event_type",
            "n_users",
        )
    )
    roll = (
        rollup_view(spark, comp_dir)
        .join(F.broadcast(exact_users), ["window_start", "event_type"])
        .select(
            F.lit("rollup").alias("tier"),
            F.col("window_start").cast("bigint").alias("window_start"),
            "event_type",
            "n",
            "total_value",
            (
                F.abs(F.col("approx_users") - F.col("n_users"))
                <= F.greatest(F.lit(2.0), 0.05 * F.col("n_users"))
            ).alias("approx_users_ok"),
        )
    )
    # tier 'cohort' — retention analysis: users cohorted by first-seen day,
    # retained-count and retention-rate per day offset. One linear chain:
    # distinct user-days → first-seen as a window MIN over the user_id
    # partition (no self-join) → one map-side-combined (cohort, offset)
    # count. Cohort size needs no extra pass: every user's first day is a
    # retained day, so size(c) == the offset-0 cell — the tiny cohort table
    # is checkpointed (GC-scoped) and its k=0 slice broadcast-joined back.
    # Output is cohorts × offsets (time-range², not row-count) at any scale.
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    ud = e.select("user_id", day.alias("d")).distinct()
    wu = W.partitionBy("user_id")
    ret = (
        ud.withColumn("c", F.min("d").over(wu))
        .groupBy("c", (F.col("d") - F.col("c")).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)  # tiny (cohorts × offsets); 2 branches
    )
    size = ret.filter(F.col("k") == 0).select("c", F.col("n").alias("sz"))
    cohort = ret.join(F.broadcast(size), "c").select(
        F.lit("cohort").alias("tier"),
        (F.col("c") * 86400).cast("bigint").alias("window_start"),
        F.format_string("d%03d", F.col("k").cast("int")).alias("event_type"),
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n") / F.col("sz"), 6).alias("total_value"),
        F.lit(True).alias("approx_users_ok"),
    )
    return hop.unionByName(roll).unionByName(cohort)


@query(
    "q47_sessionization",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ep,
             LAG(epoch_us(CAST(ts AS TIMESTAMP)))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ep
      FROM events
    ),
    marked AS (
      SELECT user_id, event_id, ep,
             CASE WHEN prev_ep IS NULL OR ep - prev_ep > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM seq
    ),
    sess AS (
      SELECT user_id, event_id, ep,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ep, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST((MAX(ep) - MIN(ep)) // 1000000 AS BIGINT) AS duration_s
    FROM sess
    GROUP BY user_id, session_id
    """,
    tags=("ST7", "sessionization"),
    bench=True,  # tracks the stateful/sessionization tier round-over-round
)
def q47_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-min inactivity gap: lag → new-session flag →
    running sum → per-session rollup. One shuffle on user_id.

    Built as ONE parameterized spark.sql statement (r11, the q01 build-cut
    pattern): one parse round-trip instead of ~35 py4j Column/window ops
    per build; same optimized plan (r11 after-dump diff empty modulo
    expression ids), identical values. Literal notes: 1800000000 (30 min in
    µs) and 1000000 are bare integer SQL literals = INT, matching the
    Column form's Python ints; FLOOR already returns BIGINT (the CAST is
    the explicit output-type contract either way)."""
    return spark.sql(
        """
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               count(1) AS n_events,
               CAST(FLOOR((max(ep) - min(ep)) / 1000000) AS BIGINT)
                 AS duration_s
        FROM (
          SELECT user_id, event_id, ep,
                 SUM(new_session) OVER (PARTITION BY user_id
                   ORDER BY ep, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
          FROM (
            SELECT user_id, event_id, unix_micros(ts) AS ep,
                   CASE WHEN LAG(unix_micros(ts)) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) IS NULL
                        OR (unix_micros(ts) - LAG(unix_micros(ts)) OVER
                          (PARTITION BY user_id ORDER BY ts, event_id))
                          > 1800000000
                        THEN 1 ELSE 0 END AS new_session
            FROM {e}
          )
        )
        GROUP BY user_id, CAST(session_id AS BIGINT)
        """,
        e=T(spark, sf_dir, "events"),
    )


@query(
    "q48_asof_join",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT event_id AS p_event_id, user_id, ts, value AS p_value
      FROM events WHERE event_type = 'purchase'
    ),
    gpresent AS (
      SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 600000000) * 600 AS b,
             event_type AS k,
             CAST(COUNT(*) AS BIGINT) AS n,
             round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6) AS v
      FROM events WHERE value >= 199 GROUP BY 1, 2
    ),
    gspan AS (SELECT MIN(b) AS lo, MAX(b) AS hi FROM gpresent),
    gspine AS (
      SELECT unnest(generate_series(lo, hi, 600)) AS b, k.k
      FROM gspan, (SELECT DISTINCT k FROM gpresent) k
    ),
    gfill AS (
      SELECT s.b, s.k, COALESCE(p.n, 0) AS n, p.v,
             LAST_VALUE(p.v IGNORE NULLS) OVER
               (PARTITION BY s.k ORDER BY s.b
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf,
             LAST_VALUE(CASE WHEN p.v IS NOT NULL THEN s.b END IGNORE NULLS)
               OVER (PARTITION BY s.k ORDER BY s.b
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
             FIRST_VALUE(p.v IGNORE NULLS) OVER
               (PARTITION BY s.k ORDER BY s.b
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             FIRST_VALUE(CASE WHEN p.v IS NOT NULL THEN s.b END IGNORE NULLS)
               OVER (PARTITION BY s.k ORDER BY s.b
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
      FROM gspine s LEFT JOIN gpresent p ON p.b = s.b AND p.k = s.k
    )
    SELECT 'asof' AS tier, c.event_id AS k1, CAST(c.user_id AS VARCHAR) AS k2,
           CAST(0 AS BIGINT) AS n,
           CAST(p.p_event_id AS DOUBLE) AS v1, p.p_value AS v2
    FROM clicks c
    ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    UNION ALL
    SELECT 'gapfill', b, k, n, locf,
           CASE WHEN v IS NOT NULL THEN v
                WHEN locf IS NULL THEN nv
                WHEN nv IS NULL THEN locf
                ELSE round(locf + (nv - locf) * (b - pb) / (nb - pb), 6)
           END
    FROM gfill
    """,
    tags=("J7", "asof", "gapfill"),
)
def q48_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series alignment suite, two tiers (tier/k1/k2/n/v1/v2):

    * tier 'asof' — as-of join (J7): for each click, the latest purchase
      at-or-before it per user — union + last-observation window (one
      shuffle, no Python).
    * tier 'gapfill' — hypertable-style regularization
      (operators/timeseries.gapfill): sparse high-value observations
      (value ≥ 199) bucketed to a 10-minute grid, missing cells filled
      with LOCF (v1) and linear interpolation (v2) — TimescaleDB's
      `time_bucket_gapfill + locf + interpolate` semantics, one spine
      join + one key-partitioned window shuffle, every fill expression
      per-row IEEE math the DuckDB twin replays exactly.
    """
    e = T(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        "user_id",
        "ts",
        F.col("value").alias("p_value"),
    )
    joined = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        payload=["p_event_id", "p_value"],
        allow_exact=True,
        tiebreak="p_event_id",  # unique right id → deterministic under ts ties
    )
    asof_rows = joined.select(
        F.lit("asof").alias("tier"),
        F.col("event_id").alias("k1"),
        F.col("user_id").cast("string").alias("k2"),
        F.lit(0).cast("bigint").alias("n"),
        F.col("asof_p_event_id").cast("double").alias("v1"),
        F.col("asof_p_value").alias("v2"),
    )

    from minarrow_spark.operators.timeseries import gapfill

    present = (
        e.filter(F.col("value") >= 199)
        .groupBy(
            (F.floor(F.unix_timestamp("ts") / 600) * 600).alias("b"),
            F.col("event_type").alias("k"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(dec("value")).cast("double"), 6).alias("v"),
        )
    )
    filled = gapfill(present, step=600)
    gap_rows = filled.select(
        F.lit("gapfill").alias("tier"),
        F.col("b").alias("k1"),
        F.col("k").alias("k2"),
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
        F.col("locf").alias("v1"),
        F.col("lerp").alias("v2"),
    )
    return asof_rows.unionByName(gap_rows)
