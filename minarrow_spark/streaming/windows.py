"""Event-time streaming operators (ST4, ST7): windowed aggregation under
watermarks, within-watermark dedup, and a custom stateful operator.

Each batch-tier query spec (queries/eventflow.py) has its streaming twin
here with identical semantics — tests assert streaming result == batch
recomputation (SURVEY §5's strategy for operators with no static oracle).
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from minarrow_spark.functions.arithmetic import dec


def windowed_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Tumbling 1-hour counts/sums under a watermark — the streaming twin of
    q45_tumbling_window. Late rows beyond the watermark are dropped; state
    for closed windows is evicted (bounded memory at any stream length)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
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


def dedup_within_watermark(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact dedup on event_id with bounded state
    (dropDuplicatesWithinWatermark — ST7)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


_RUNNING_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def _running_totals_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def running_totals_per_user(events: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState, F5/ST7): per-user
    running event count + value total, state carried across micro-batches.
    The Arrow-batched analog of the reference's pyo3 compute hook
    (`pyo3/src/lib.rs:86-94`)."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_totals_fn,
            outputStructType=_RUNNING_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_pair_join(
    a: DataFrame,
    b: DataFrame,
    watermark: str = "30 minutes",
    within: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join (ST5 — the reference's chunk-aligned binary
    ops between streams, `broadcast/super_table.rs`): events of the same user
    where b follows a within ``within``. Both sides carry watermarks + the
    time-range join condition, so Spark bounds the join state (evicts rows
    older than watermark+range) — constant memory at any stream length."""
    wa = a.withWatermark("ts", watermark).alias("a")
    wb = b.withWatermark("ts", watermark).alias("b")
    return wa.join(
        wb,
        F.expr(
            f"""
            a.user_id = b.user_id AND a.event_id < b.event_id
            AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL {within}
            """
        ),
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.col("a.event_id").alias("eid_a"),
        F.col("b.event_id").alias("eid_b"),
    )
