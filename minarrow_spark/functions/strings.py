"""String kernels with reference-pinned semantics (SURVEY §2.9, T1-T20).

The reference implements each kernel twice (string + dictionary-encoded,
e.g. `concat_dict_dict` `/root/reference/src/kernels/string.rs:165`); in Spark
a single StringType path covers both — parquet/Tungsten dictionary-encode
physically, and the logical result is identical by construction.

Semantic adapters:
* `find0` — reference `find` (`string.rs:1322`) is 0-based with a "not found"
  sentinel; Spark `instr` is 1-based with 0 = absent → subtract 1 (absent → −1).
* `char_length` vs `byte_length` — reference distinguishes chars
  (`string.rs:840`) from bytes (`string.rs:1256`); Spark: `length` vs
  `octet_length`.
* `count_match` — reference counts non-overlapping occurrences
  (`string.rs:1388`); Spark 3.5+ `regexp_count`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def char_length(col: Column) -> Column:
    return F.length(col).cast("bigint")


def byte_length(col: Column) -> Column:
    return F.octet_length(col).cast("bigint")


def find0(col: Column, sub: str) -> Column:
    """0-based first index of ``sub``; −1 when absent (reference `find`)."""
    return (F.instr(col, sub) - 1).cast("bigint")


def count_match(col: Column, pattern: str) -> Column:
    """Occurrences of regex ``pattern`` per row (reference `count_match`)."""
    return F.regexp_count(col, F.lit(pattern)).cast("bigint")
