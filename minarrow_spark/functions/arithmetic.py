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

Exact-aggregation helpers (`exact_sum`/`exact_avg`/`exact_var_samp`) exist for
oracle determinism: double sums are order-sensitive under parallel execution,
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


def dec(col: Column | str, typ: str = DEC) -> Column:
    """Cast to exact decimal for order-independent aggregation."""
    return F.col(col).cast(typ) if isinstance(col, str) else col.cast(typ)


def exact_sum(col: Column | str, alias: str) -> Column:
    """Order-independent SUM of a double column: decimal-sum, emit double."""
    return F.sum(dec(col)).cast("double").alias(alias)


def exact_avg(col: Column | str, alias: str) -> Column:
    """AVG from an exact decimal sum: deterministic across engines/partitions."""
    return (F.sum(dec(col)).cast("double") / F.count(F.lit(1))).alias(alias)


def exact_var_samp(col: Column | str, alias: str, ddof: int = 1) -> Column:
    """Sample variance from exact decimal partial sums.

    var = (Σx² − (Σx)²/n) / (n − ddof), with Σx and Σx² exact decimals —
    the final expression is scalar double math on identical inputs in any
    engine, so it hash-matches where a streaming variance would not.
    """
    c = dec(col)
    s1 = F.sum(c).cast("double")
    s2 = F.sum((c * c).cast("decimal(38,4)")).cast("double")
    n = F.count(F.lit(1)).cast("double")
    return ((s2 - s1 * s1 / n) / (n - F.lit(float(ddof)))).alias(alias)


def checked_cast(col: Column, target: str) -> Column:
    """Narrowing cast with checked semantics: null on overflow, never a
    silent wraparound.

    The reference's 61-impl cast matrix narrows via checked ``TryFrom``
    (`/root/reference/src/conversions.rs:80-1000`) — out-of-range values
    become an error/None, not a truncated bit pattern. Spark's plain
    ``cast`` with ANSI off silently wraps (int64→int32 keeps the low 32
    bits); ``try_cast`` is the engine's checked path and behaves the same
    under either ANSI setting. Policy: every narrowing conversion at the
    engine boundary goes through here → out-of-range maps to null (the
    masked-array rule, same as division by zero). Property-pinned against
    Python range semantics in tests/test_semantics_props.py. The widening
    direction needs no checks — see the unsigned-widening table in
    sources/arrow_io.py."""
    return col.try_cast(target)


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
