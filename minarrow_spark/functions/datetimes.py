"""Datetime kernels with reference-pinned semantics (SURVEY §2.10, D1-D12).

Reference: `DatetimeOps` trait (`/root/reference/src/traits/datetime_ops.rs`),
implemented over physical i32/i64 epochs. Spark timestamps are µs internally —
the reference's `TimeUnit` conversions (`datetime_ops.rs:117-137`) map to
`unix_micros`-based integer math here.

Cross-engine notes (these also pin the oracle SQL shapes):
* ISO day-of-week: Spark `dayofweek` is 1=Sunday; the portable form is
  `weekday()+1` (1=Monday), matching DuckDB `isodow`.
* `weekofyear` is ISO in Spark and matches DuckDB `week`.
* Epoch seconds are computed as floor(epoch_us / 1e6) — safe for post-1970
  data and identical in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def epoch_micros(col: Column) -> Column:
    # Parquet ms/µs columns load as TIMESTAMP_NTZ; with the session pinned to
    # UTC the cast to TIMESTAMP is the identity mapping DuckDB's epoch_us uses.
    return F.unix_micros(col.cast("timestamp"))


def epoch_seconds(col: Column) -> Column:
    return F.floor(epoch_micros(col) / F.lit(1_000_000)).cast("bigint")


def iso_dow(col: Column) -> Column:
    """ISO day of week, 1=Monday..7=Sunday (reference `weekday`, D2)."""
    return (F.weekday(col) + 1).cast("bigint")


def iso_week(col: Column) -> Column:
    return F.weekofyear(col).cast("bigint")


def is_leap_year(col: Column) -> Column:
    """Reference `is_leap_year` (`datetime_ops.rs:73`) as a pure expression."""
    y = F.year(col)
    return ((y % 4 == 0) & ((y % 100 != 0) | (y % 400 == 0)))


def date_str(col: Column) -> Column:
    """Canonical yyyy-MM-dd string (hash-safe cross-engine output form).

    to_date + cast, not date_format: the DATE->string cast is the same
    yyyy-MM-dd text (asserted 0 mismatches over 600k rows under the pinned
    UTC zone) through a simpler codepath than the formatter — q22's three
    formatted columns measured ~20% cheaper, every interleaved rep (r10
    opt). to_date is the identity on DATE inputs, so both date and
    timestamp arguments land on the same cast."""
    return F.to_date(col).cast("string")
