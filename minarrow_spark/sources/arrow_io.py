"""Arrow interop boundary: the Spark analog of the reference's FFI layer.

Reference mapping (SURVEY §2.1 S2-S6, §2.13 F4):

* `import_from_c` (`src/ffi/arrow_c_ffi.rs:640`) — Arrow data *into* the
  engine → ``from_arrow`` (``spark.createDataFrame`` on a ``pyarrow.Table``;
  Spark's Arrow fast path does the zero-copy batch transfer).
* `export_to_c` (`arrow_c_ffi.rs:432`) — engine data *out* as Arrow →
  ``to_arrow`` (``DataFrame.toArrow()``, Spark 4).
* RecordBatch stream import/export (`arrow_c_ffi.rs:2104-2660`) →
  ``arrow_batches`` (a pull iterator of ``pyarrow.RecordBatch``).
* The pyo3 kernel pattern — "take a RecordBatch, compute, return a
  RecordBatch" (`pyo3/src/lib.rs:86-94`) → ``map_in_arrow``: the engine's
  escape hatch for kernels Catalyst can't express. The user function sees
  Arrow batches exactly like the reference's FFI kernels do, but Spark runs
  it on every partition of a distributed DataFrame.

Scale posture: ``map_in_arrow`` is executor-side (no driver materialization,
works at any partition count); ``to_arrow``/``arrow_batches`` are *driver*
collection points — boundary/export APIs, intentionally not used inside any
query plan (the same role `export_to_c` plays in the reference).
"""

from __future__ import annotations

from typing import Callable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


# SURVEY §1.3 widening policy: Spark has no unsigned types (and rejects
# unsigned Arrow input outright), so unsigned columns widen to the next
# signed type that holds the full range — Spark's own Parquet convention.
# u64 exceeds i64 and needs decimal(20,0).
_UNSIGNED_WIDENING: dict[pa.DataType, pa.DataType] = {
    pa.uint8(): pa.int16(),
    pa.uint16(): pa.int32(),
    pa.uint32(): pa.int64(),
    pa.uint64(): pa.decimal128(20, 0),
}

# Spark column-metadata key recording the original Arrow type of any column
# the import boundary had to convert (the reference keeps the same note as
# Field metadata — SURVEY §1.3).
ARROW_TYPE_META_KEY = "minarrow_spark.arrow_type"

_MDN_STRUCT = pa.struct(
    [("months", pa.int32()), ("days", pa.int32()), ("nanoseconds", pa.int64())]
)


def _rebuild(col: pa.ChunkedArray, target: pa.DataType) -> pa.ChunkedArray:
    """Value-level rebuild for types pyarrow cannot cast yet (the *_view
    family in pyarrow 16). Driver-side boundary cost only."""
    return pa.chunked_array([pa.array(col.to_pylist(), target)])


def _import_column(
    col: pa.ChunkedArray, t: pa.DataType
) -> tuple[pa.ChunkedArray, pa.DataType, str | None]:
    """Normalize one column to a Spark-importable Arrow type.

    Returns (column, new_type, original_type_str-or-None). Mirrors the
    reference's import matrix (`src/ffi/arrow_dtype.rs:81-141`):

    * dictionary          → decoded to the value type (then re-normalized)
    * unsigned ints       → widened signed (u64 → decimal(20,0))
    * time32[s|ms]        → time64[us] (Spark TimeType, µs precision)
    * time64[ns]          → time64[us] (truncating — Spark is µs-native,
                            the same policy Spark applies to parquet nanos)
    * duration[s|ms|ns]   → duration[us] (→ DayTimeIntervalType; ns truncates)
    * date64              → date32
    * utf8_view/large     → utf8 (the reference flattens Utf8View the same
                            way — pyo3/README.md "Utf8View import")
    * binary_view         → binary
    * month_day_nano      → struct<months,days,nanoseconds> (Spark has no
                            constructible calendar-interval column type)
    """
    import pyarrow.compute as pc

    orig = str(t)
    if pa.types.is_dictionary(t):
        col = col.cast(t.value_type)
        inner, new_t, _ = _import_column(col, t.value_type)
        return inner, new_t, orig
    if t in _UNSIGNED_WIDENING:
        new_t = _UNSIGNED_WIDENING[t]
        return col.cast(new_t), new_t, orig
    if pa.types.is_time32(t) or (pa.types.is_time64(t) and t.unit == "ns"):
        new_t = pa.time64("us")
        return pc.cast(col, new_t, safe=False), new_t, orig
    if pa.types.is_duration(t) and t.unit != "us":
        new_t = pa.duration("us")
        return pc.cast(col, new_t, safe=False), new_t, orig
    if t == pa.date64():
        return col.cast(pa.date32()), pa.date32(), orig
    if t == pa.string_view():
        return _rebuild(col, pa.string()), pa.string(), orig
    if t == pa.binary_view():
        return _rebuild(col, pa.binary()), pa.binary(), orig
    if t == pa.month_day_nano_interval():
        vals = [
            None
            if v is None
            else {"months": v.months, "days": v.days, "nanoseconds": v.nanoseconds}
            for v in col.to_pylist()
        ]
        return pa.chunked_array([pa.array(vals, _MDN_STRUCT)]), _MDN_STRUCT, orig
    return col, t, None


def from_arrow(spark: SparkSession, data: pa.Table | pa.RecordBatch) -> DataFrame:
    """Arrow → DataFrame (reference `import_from_c`). Accepts a Table or a
    single RecordBatch; schema (incl. nullability) comes from Arrow.

    Columns outside Spark's native Arrow surface are normalized per the
    policy in ``_import_column`` (unsigned widening, dictionary decode,
    time/duration/date/view conversions); each converted column records its
    original Arrow type under ``ARROW_TYPE_META_KEY`` in the Spark column
    metadata, so the mapping is inspectable and reversible at the API level
    — the reference keeps the identical note in Field metadata
    (SURVEY §1.3, `src/ffi/arrow_dtype.rs:81-141`)."""
    if isinstance(data, pa.RecordBatch):
        data = pa.Table.from_batches([data])
    cols: list[pa.ChunkedArray] = []
    fields: list[pa.Field] = []
    converted: dict[str, str] = {}
    for i, f in enumerate(data.schema):
        col, new_t, orig = _import_column(data.column(i), f.type)
        cols.append(col)
        fields.append(pa.field(f.name, new_t, f.nullable))
        if orig is not None:
            converted[f.name] = orig
    norm = pa.Table.from_arrays(
        cols, schema=pa.schema(fields, metadata=data.schema.metadata)
    )
    df = spark.createDataFrame(norm)
    for name, orig in converted.items():
        df = df.withMetadata(name, {ARROW_TYPE_META_KEY: orig})
    return df


def to_arrow(df: DataFrame) -> pa.Table:
    """DataFrame → Arrow table at the driver (reference `export_to_c`)."""
    return df.toArrow()


def arrow_batches(
    df: DataFrame, batch_rows: int = 1 << 16
) -> Iterator[pa.RecordBatch]:
    """DataFrame → pull-iterator of RecordBatches (reference's stream export,
    `arrow_c_ffi.rs:2104`, a genuine pull iterator): batches stream to the
    driver one partition at a time via ``toLocalIterator`` — the first batch
    is yielded while later partitions HAVE NOT RUN yet, and peak driver
    memory is ~one partition plus one prefetched partition, never the full
    DataFrame (pinned by tests/test_arrow_io.py::test_arrow_batches_streams).

    The data plane is Arrow end-to-end: each partition serializes its
    batches (re-sliced to at most ``batch_rows`` rows) to Arrow IPC blobs
    inside a ``mapInArrow`` stage, so ONE driver-side Python object crosses
    per *batch*, not per row — the rows themselves never pass through
    Python. The old per-row ``Row.asDict`` rebuild scaled linearly in rows
    (~5.5 s at 1M) where this path is near-flat (~0.8 s, ~7× warm and
    growing with size; pinned by
    test_arrow_batches_vectorized_beats_row_path). ``batch_rows``
    is an upper bound: executor-side batches are never merged across
    Spark's own Arrow batch boundaries, only split.

    Trade-off, stated plainly: like any single-consumer stream export the
    pull is sequential — partitions execute (with one-ahead prefetch) in
    order, so cluster parallelism is bounded while exporting. For bulk
    driver-side materialization use ``to_arrow``; for distributed Arrow
    compute stay on ``map_in_arrow`` and never collect at all."""

    def _to_ipc(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import io

        for batch in batches:
            for start in range(0, batch.num_rows, batch_rows):
                piece = batch.slice(start, batch_rows)
                sink = io.BytesIO()
                with pa.ipc.new_stream(sink, piece.schema) as writer:
                    writer.write_batch(piece)
                yield pa.RecordBatch.from_arrays(
                    [pa.array([sink.getvalue()], type=pa.binary())], ["ipc"]
                )

    for row in df.mapInArrow(_to_ipc, "ipc binary").toLocalIterator(
        prefetchPartitions=True
    ):
        with pa.ipc.open_stream(pa.py_buffer(bytes(row.ipc))) as reader:
            yield from reader


def to_polars(df: DataFrame):
    """DataFrame → polars.DataFrame via one Arrow collection (the
    reference's `to_polars`, `/root/reference/src/structs/table.rs:718`).
    Zero-copy from the Arrow table where polars allows it. Boundary API:
    driver-resident result, same contract as ``to_arrow``/``to_matrix``.
    Gated: polars is an optional dependency (absent in the test
    container); the import error names the missing piece."""
    try:
        import polars as pl
    except ImportError as ex:  # pragma: no cover - env-dependent
        raise ImportError(
            "to_polars requires the optional 'polars' package "
            "(pip install polars); the Arrow path (to_arrow) has no "
            "extra dependency"
        ) from ex
    return pl.from_arrow(to_arrow(df))


def from_polars(spark: SparkSession, pldf) -> DataFrame:
    """polars.DataFrame → DataFrame through the Arrow import path (same
    normalization policy as ``from_arrow``). Accepts anything exposing
    ``to_arrow()``; no polars import needed here — the object brings its
    own."""
    return from_arrow(spark, pldf.to_arrow())


def to_matrix(df: DataFrame, cols: list[str] | None = None):
    """DataFrame → dense 2-D numpy matrix (rows × cols) at the driver, via
    one Arrow collection — the reference's Table→Matrix cast
    (`src/structs/matrix.rs:410,448` `to_matrix`/`to_matrix_view`).

    ``cols`` defaults to every numeric column. Like the reference's, this is
    a *boundary* API: the result is driver-resident (use it to hand a
    modest aggregate/sample to numpy/sklearn), not a distributed structure
    — distributed linear algebra stays in DataFrame land (q52's covariance
    is the worked example)."""
    import numpy as np

    from minarrow_spark.functions.arithmetic import numeric_columns

    cols = cols or numeric_columns(df)
    tbl = df.select(*cols).toArrow()
    if tbl.num_rows == 0:
        return np.empty((0, len(cols)), dtype=np.float64)
    return np.column_stack(
        [
            tbl.column(c).to_numpy(zero_copy_only=False).astype(np.float64)
            for c in cols
        ]
    )


def map_in_arrow(
    df: DataFrame,
    fn: Callable[[pa.RecordBatch], pa.RecordBatch],
    schema: T.StructType | str,
) -> DataFrame:
    """Apply a RecordBatch→RecordBatch kernel across all partitions.

    Mirrors the reference's pyo3 extension pattern (`pyo3/src/lib.rs:86-94`):
    the kernel author writes against Arrow, the engine handles distribution.
    ``fn`` must be row-count-preserving per batch only if the caller's
    semantics require it — Spark imposes no constraint."""

    def _iter(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield fn(batch)

    return df.mapInArrow(_iter, schema)
