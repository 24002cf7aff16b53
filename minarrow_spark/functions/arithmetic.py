"""Arithmetic kernels with reference-pinned semantics (SURVEY §2.8, M1-M9).

Reference semantics being reproduced (citations into /root/reference/):

* Division by zero *nullifies* in masked arrays (`src/enums/operators.rs:27-30`)
  → `try_div` (Spark `try_divide`), never a crash on the distributed path.
* FloorDiv rounds toward −∞ for signed ints and is `(l/r).floor()` for floats
  (`src/enums/operators.rs:41-47`) → `floordiv` = `floor(a / b)`; note Spark's
  native integer `div` truncates toward zero, which would NOT match.
* Remainder keeps the dividend's sign (C semantics), matching both Rust `%`
  and Spark/DuckDB `%`.
* Type promotion int⊕float→float (`src/kernels/routing/arithmetic.rs:214-470`)
  is Catalyst's built-in coercion — nothing to do.
* Container-level broadcasting — op applied across every numeric column of a
  table (`src/kernels/broadcast/mod.rs:116-152`, ~10 kLoC of Rust) → `table_op`,
  a few lines of column projection that Catalyst fuses into one codegen stage.

The exact-aggregation helper (`exact_sum`) exists for oracle determinism: double sums are order-sensitive under parallel execution,
decimal sums are not. At 100 TB this is also the *correct* accounting pattern
(revenue in decimal, not float).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from minarrow_spark._sql import ident

DEC = "decimal(18,2)"

_NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def dec(col: Column | str) -> Column:
    """Cast to exact decimal for order-independent aggregation."""
    return F.col(col).cast(DEC) if isinstance(col, str) else col.cast(DEC)


def exact_sum(col: Column | str, alias: str) -> Column:
    """Order-independent SUM of a double column: decimal-sum, emit double."""
    return F.sum(dec(col)).cast("double").alias(alias)


def try_div(a: Column, b: Column) -> Column:
    """Division that nullifies on zero divisor (reference masked-array rule)."""
    return F.try_divide(a, b)


def floordiv(a: Column, b: Column) -> Column:
    """Floor division toward −∞ (reference FloorDiv), null on zero divisor.

    Float path: `floor(a / b)` in double. For integral columns use
    ``floordiv_int_sql`` — routing through double here would silently lose
    precision for |values| > 2^53 (`table_op` routes by dtype)."""
    return F.floor(F.try_divide(a, b))


def floordiv_int_sql(a: str, b: str) -> str:
    """Exact floor division of the integral SQL expressions ``a`` by ``b``
    as a Spark SQL expression (reference FloorDiv on signed ints,
    `src/enums/operators.rs:41-47`): Spark's truncating `div` adjusted
    toward −∞ when the remainder is nonzero and the signs differ. Stays in
    64-bit integer math end-to-end — exact for the full long range, where
    the float path degrades beyond 2^53. Null on zero divisor (masked-array
    rule); the CASE guard keeps ANSI mode from raising. Column call sites
    wrap it in ``F.expr`` (names quoted via ``minarrow_spark._sql.ident``):
    one parse round-trip instead of ~10 py4j Column ops. Pinned against
    Python ``//`` and DuckDB in tests/test_semantics_props.py."""
    return (
        f"CASE WHEN ({b}) = 0 THEN CAST(NULL AS BIGINT) "
        f"ELSE (({a}) div ({b})) - (CASE WHEN (({a}) % ({b})) != 0 "
        f"AND ((({a}) < 0) != (({b}) < 0)) THEN 1 ELSE 0 END) END"
    )


def remainder(a: Column, b: Column) -> Column:
    """C-style remainder (dividend sign), null on zero divisor."""
    return F.when(b == 0, F.lit(None)).otherwise(a % b)


def numeric_columns(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if isinstance(f.dataType, _NUMERIC_TYPES)]


def table_op(df: DataFrame, other, op: str = "+") -> DataFrame:
    """Reference M7 container broadcasting: apply ``op`` with a scalar to every
    numeric column, pass non-numeric columns through unchanged.

    Mirrors `broadcast_value` (`/root/reference/src/kernels/broadcast/mod.rs:116-152`).
    Catalyst fuses all the per-column expressions into a single projection —
    no extra passes over the data regardless of column count.
    """
    _INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    integral = {
        f.name for f in df.schema.fields if isinstance(f.dataType, _INTEGRAL)
    }
    ops = {
        "+": lambda c, x, i: F.col(c) + x,
        "-": lambda c, x, i: F.col(c) - x,
        "*": lambda c, x, i: F.col(c) * x,
        "/": lambda c, x, i: F.try_divide(F.col(c), F.lit(x)),
        "%": lambda c, x, i: remainder(F.col(c), F.lit(x)),
        # Integral columns take the exact 64-bit path; float columns the
        # double path — mirrors the reference's per-dtype kernel routing.
        "//": lambda c, x, i: (
            F.expr(floordiv_int_sql(ident(c), str(x)))
            if i
            else floordiv(F.col(c), F.lit(x))
        ),
        "**": lambda c, x, i: F.pow(F.col(c), x),
    }
    if op not in ops:
        raise ValueError(f"unsupported op {op!r}")
    num = set(numeric_columns(df))
    int_scalar = isinstance(other, int) and not isinstance(other, bool)
    return df.select(
        *[
            ops[op](c, other, c in integral and int_scalar).alias(c)
            if c in num
            else F.col(c)
            for c in df.columns
        ]
    )
