"""Z-order (Morton) data layout: multi-dimensional clustering for scans.

A 100 TB table is usually range-partitioned on ONE key; queries filtering on
a second dimension then touch every file. Interleaving the bits of two keys
into a Morton code and range-partitioning by it gives every file a tight
bounding box in BOTH dimensions, so 2-D range predicates skip most files on
parquet min/max stats alone — the standard lakehouse layout lever (the same
idea as Delta/Iceberg Z-ORDER clustering).

`z_value` is a pure Catalyst bit-interleave (shift/mask/add — one codegen'd
projection, no shuffle); `z_value_sql` emits the identical arithmetic for
the DuckDB oracle, so layout keys are cross-engine checkable (q29). The
physical layout is one range exchange on z plus a within-partition sort —
exactly the cost of any global sort, amortized over every future scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

Z_BITS = 8  # bits per dimension


def z_value(x: Column, y: Column) -> Column:
    """Morton code of two non-negative ints truncated to ``Z_BITS`` bits
    each: bit i of x lands at position 2i, bit i of y at 2i+1. 2·Z_BITS ≤
    62 keeps the result in a long. The unrolled form stays well under
    codegen size limits at 8 bits (32 scalar shift/add terms — the q39b
    Janino ceiling was hit by 64-term *array* expressions plus decimal
    aggs, not integer folds this small)."""
    xm = x.cast("long")
    ym = y.cast("long")
    terms = []
    for i in range(Z_BITS):
        terms.append(
            F.shiftleft(F.shiftrightunsigned(xm, i).bitwiseAND(F.lit(1)), 2 * i)
        )
        terms.append(
            F.shiftleft(F.shiftrightunsigned(ym, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    z = terms[0]
    for t in terms[1:]:
        z = z + t
    return z


def z_value_sql(x: str, y: str) -> str:
    """The identical Morton arithmetic as a SQL expression (DuckDB oracle
    twin of `z_value` — same shift/mask/add terms, engine-order-free)."""
    terms = []
    for i in range(Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)
