"""Arrow interop boundary tests (SURVEY §2.1 S2-S6, §2.13 F4): round-trips
mirroring the reference's FFI test strategy (`pyo3/tests/atomic_tests.rs` —
per-type Rust→PyArrow→Rust equality; here DataFrame→Arrow→DataFrame)."""

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from minarrow_spark.sources.arrow_io import (
    arrow_batches,
    from_arrow,
    map_in_arrow,
    to_arrow,
    to_matrix,
)
from minarrow_spark.sources.catalog import load_table


def test_roundtrip_typed_table(spark):
    tbl = pa.table(
        {
            "i": pa.array([1, None, 3], pa.int64()),
            "f": pa.array([1.5, 2.5, None], pa.float64()),
            "s": pa.array(["a", None, "c"], pa.string()),
            "b": pa.array([True, False, None], pa.bool_()),
        }
    )
    df = from_arrow(spark, tbl)
    back = to_arrow(df)
    assert back.to_pydict() == tbl.to_pydict()


def test_roundtrip_parquet_table(spark, sf_dir):
    df = load_table(spark, sf_dir, "supplier")
    back = from_arrow(spark, to_arrow(df))
    assert back.schema == df.schema
    assert back.count() == df.count()


def test_arrow_batches_stream(spark):
    df = spark.range(1000).select(F.col("id"), (F.col("id") * 2).alias("x"))
    total = 0
    for batch in arrow_batches(df):
        assert isinstance(batch, pa.RecordBatch)
        total += batch.num_rows
    assert total == 1000


def test_arrow_batch_stream_roundtrip(spark):
    """Export stream → import → identical table (reference stream FFI
    round-trip, `arrow_c_ffi.rs:2104-2660`)."""
    df = spark.range(500).select(F.col("id"), (F.col("id") % 7).alias("m"))
    batches = list(arrow_batches(df, batch_rows=128))
    back = from_arrow(spark, pa.Table.from_batches(batches))
    assert back.schema == df.schema
    assert back.exceptAll(df).count() == 0
    assert df.exceptAll(back).count() == 0


def test_arrow_batches_streams_incrementally(spark):
    """The memory contract: the first batch arrives while later partitions
    have not executed. Partitions ≥4 sleep 1s each — a full driver
    materialization (the old toArrow() path) could not yield the first
    batch before paying every sleep."""
    import time

    from pyspark import TaskContext

    df = spark.range(0, 8000, numPartitions=8).select(F.col("id"))

    def slow_tail(batches):
        ctx = TaskContext.get()
        if ctx is not None and ctx.partitionId() >= 4:
            time.sleep(1.0)
        yield from batches

    slow = df.mapInArrow(slow_tail, "id long")
    t0 = time.time()
    gen = arrow_batches(slow, batch_rows=500)
    first = next(gen)
    elapsed = time.time() - t0
    gen.close()
    assert first.num_rows > 0
    assert elapsed < 3.0, f"first batch took {elapsed:.1f}s — not streaming"


def test_map_in_arrow_kernel_matches_expr(spark, sf_dir):
    df = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")

    def kernel(batch: pa.RecordBatch) -> pa.RecordBatch:
        import numpy as np

        doubled = batch.column("s_acctbal").to_numpy() * 2.0
        return pa.RecordBatch.from_arrays(
            [batch.column("s_suppkey"), pa.array(doubled)],
            names=["s_suppkey", "dbl"],
        )

    via_arrow = map_in_arrow(df, kernel, "s_suppkey long, dbl double")
    via_expr = df.select("s_suppkey", (F.col("s_acctbal") * 2.0).alias("dbl"))
    assert via_arrow.exceptAll(via_expr).count() == 0
    assert via_expr.exceptAll(via_arrow).count() == 0


def test_matrix_roundtrip_and_cov(spark, sf_dir):
    """Table→Matrix boundary (reference `src/structs/matrix.rs:410-448`):
    numpy round-trip, and the matrix view cross-checks q52's distributed
    covariance against numpy's."""
    import numpy as np

    from minarrow_spark.registry import all_queries

    mat = np.array([[1.0, 2.0, 3.0], [4.0, 5.0, 6.0], [7.0, 8.0, 10.0]])
    df = spark.createDataFrame(mat.tolist(), ["x", "y", "z"])
    back = to_matrix(df.orderBy("x"))
    assert np.array_equal(back, mat)

    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    li = load_table(spark, sf_dir, "lineitem").select(*cols)
    m = to_matrix(li, cols)
    np_cov = np.cov(m, rowvar=False, ddof=0)
    q52 = all_queries()["q52_cov_matrix"].fn(spark, sf_dir).collect()
    got = {(r.var_a, r.var_b): r.cov for r in q52}
    for i, a in enumerate(cols):
        for j, b in enumerate(cols):
            assert abs(got[(a, b)] - np_cov[i, j]) < 1e-6, (a, b)


def test_import_type_matrix(spark):
    """Per-type import coverage mirroring the reference's FFI matrix
    (`src/ffi/arrow_dtype.rs:81-141`; test style of
    `pyo3/tests/atomic_tests.rs:60-130`): dictionary decode, time32/time64,
    duration, date64, utf8/binary views, month-day-nano intervals. Each
    converted column records its original Arrow type in Spark column
    metadata."""
    import datetime

    from minarrow_spark.sources.arrow_io import ARROW_TYPE_META_KEY

    tbl = pa.table(
        {
            "dict_s": pa.array(["a", "b", "a", None]).dictionary_encode(),
            "t32s": pa.array([1, 2, None, 86399], pa.time32("s")),
            "t64ns": pa.array([1_500, None, 2_000, 3_000], pa.time64("ns")),
            "dur_ms": pa.array([1_000, 2_500, None, 0], pa.duration("ms")),
            "d64": pa.array([86_400_000, 0, None, 172_800_000], pa.date64()),
            "sv": pa.array(["x", None, "yy", "zzz"], pa.string_view()),
            "bv": pa.array([b"x", b"yy", None, b""], pa.binary_view()),
            "mdn": pa.array(
                [(1, 2, 3), None, (0, 0, 0), (-1, -2, -3)],
                pa.month_day_nano_interval(),
            ),
        }
    )
    df = from_arrow(spark, tbl)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types == {
        "dict_s": "string",
        "t32s": "time(6)",
        "t64ns": "time(6)",
        "dur_ms": "interval day to second",
        "d64": "date",
        "sv": "string",
        "bv": "binary",
        "mdn": "struct<months:int,days:int,nanoseconds:bigint>",
    }, types
    rows = df.collect()
    assert [r.dict_s for r in rows] == ["a", "b", "a", None]
    assert rows[0].t32s == datetime.time(0, 0, 1)
    assert rows[3].t32s == datetime.time(23, 59, 59)
    assert rows[0].t64ns == datetime.time(0, 0, 0, 1)  # 1500ns → 1µs truncation
    assert rows[0].dur_ms == datetime.timedelta(seconds=1)
    assert rows[0].d64 == datetime.date(1970, 1, 2)
    assert [r.sv for r in rows] == ["x", None, "yy", "zzz"]
    assert [r.bv for r in rows] == [bytearray(b"x"), bytearray(b"yy"), None, bytearray(b"")]
    assert rows[0].mdn.asDict() == {"months": 1, "days": 2, "nanoseconds": 3}
    assert rows[3].mdn.asDict() == {"months": -1, "days": -2, "nanoseconds": -3}
    # provenance metadata for every converted column
    meta = {f.name: f.metadata.get(ARROW_TYPE_META_KEY) for f in df.schema.fields}
    assert meta["dict_s"].startswith("dictionary")
    assert meta["t32s"] == "time32[s]"
    assert meta["t64ns"] == "time64[ns]"
    assert meta["dur_ms"] == "duration[ms]"
    assert meta["d64"] == "date64[ms]"
    assert meta["sv"] == "string_view"
    assert meta["bv"] == "binary_view"
    assert meta["mdn"] == "month_day_nano_interval"


def test_unsigned_widening_policy(spark):
    # SURVEY §1.3: u8→short, u16→int, u32→long, u64→decimal(20,0); the full
    # unsigned range must survive (Spark itself rejects unsigned Arrow input).
    from decimal import Decimal

    tbl = pa.table(
        {
            "u8": pa.array([0, 255], pa.uint8()),
            "u16": pa.array([0, 65535], pa.uint16()),
            "u32": pa.array([0, 2**32 - 1], pa.uint32()),
            "u64": pa.array([0, 2**64 - 1], pa.uint64()),
        }
    )
    df = from_arrow(spark, tbl)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types == {
        "u8": "smallint",
        "u16": "int",
        "u32": "bigint",
        "u64": "decimal(20,0)",
    }, types
    top = df.orderBy(F.col("u8").desc()).first()
    assert (top.u8, top.u16, top.u32, top.u64) == (
        255, 65535, 2**32 - 1, Decimal(2**64 - 1),
    )


def test_arrow_batches_vectorized_beats_row_path(spark):
    """The export data plane must be Arrow end-to-end: one Python object per
    BATCH crossing the driver boundary, not per row. Compared against the
    old per-row Row.asDict rebuild (kept inline here as the yardstick) on
    1M rows — same session, so VM noise hits both sides. At this size the\n    vectorized path is all fixed overhead (~0.8s flat) while the row path\n    scales linearly (~5.5s)."""
    import time

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from minarrow_spark.sources.arrow_io import arrow_batches

    df = spark.range(1_000_000).select(
        F.col("id"),
        (F.col("id") * 2).alias("x"),
        F.concat(F.lit("v"), F.col("id")).alias("s"),
    )
    df.write.format("noop").mode("overwrite").save()  # warm the plan
    sum(b.num_rows for b in arrow_batches(df))  # warm the python workers

    def row_path():
        schema = to_arrow_schema(df.schema)
        buf = []
        for row in df.toLocalIterator(prefetchPartitions=True):
            buf.append(row.asDict(recursive=True))
            if len(buf) >= 1 << 16:
                yield pa.RecordBatch.from_pylist(buf, schema=schema)
                buf = []
        if buf:
            yield pa.RecordBatch.from_pylist(buf, schema=schema)

    t0 = time.time()
    n_vec = sum(b.num_rows for b in arrow_batches(df))
    t_vec = time.time() - t0
    t0 = time.time()
    n_row = sum(b.num_rows for b in row_path())
    t_row = time.time() - t0
    assert n_vec == n_row == 1_000_000
    # conservative 3x floor (measured ~7x warm at 1M rows; VM noise headroom)
    assert t_vec * 3 < t_row, f"vectorized {t_vec:.2f}s vs row-path {t_row:.2f}s"


def test_polars_bridge(spark):
    """to_polars/from_polars (reference table.rs:718 parity): real round-trip
    when polars is installed; a clean, named ImportError when it is not
    (the container ships without polars — the gate is the contract)."""
    import pytest

    from minarrow_spark.sources.arrow_io import from_polars, to_polars

    df = spark.range(10).select(F.col("id"), (F.col("id") % 3).alias("m"))
    try:
        import polars  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="polars"):
            to_polars(df)
        return
    back = from_polars(spark, to_polars(df))
    assert back.schema == df.schema
    assert back.exceptAll(df).count() == 0 and df.exceptAll(back).count() == 0


class _FakePolarsFrame:
    """Anything exposing to_arrow() feeds from_polars — lets the import path
    be tested without the polars package itself."""

    def __init__(self, tbl):
        self._tbl = tbl

    def to_arrow(self):
        return self._tbl


def test_from_polars_duck_typed(spark):
    tbl = pa.table({"a": pa.array([1, 2, 3], pa.int64())})
    df = __import__(
        "minarrow_spark.sources.arrow_io", fromlist=["from_polars"]
    ).from_polars(spark, _FakePolarsFrame(tbl))
    assert [r.a for r in df.orderBy("a").collect()] == [1, 2, 3]
