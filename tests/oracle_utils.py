"""Oracle comparison harness: mirrors the driver's check (row count + schema
+ order-insensitive value comparison, columns sorted by name)."""

from __future__ import annotations

import datetime
import math
from decimal import Decimal

import duckdb

from minarrow_spark.sources.catalog import TABLES, table_path

__all__ = ["duckdb_conn", "canon_value", "canon_rows", "compare"]


def canon_value(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return "0"  # normalize -0.0
        return repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def canon_rows(cols: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon_value(r[i]) for i in order) for r in rows)


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> tuple[bool, str]:
    s_cols = list(spark_df.columns)
    s_rows = [tuple(r) for r in spark_df.collect()]
    rel = con.sql(sql)
    d_cols = list(rel.columns)
    # Guard against DuckDB-only integer widths leaking into an oracle's
    # output: fetchall() renders HUGEINT and BIGINT as identical Python
    # ints, but Arrow/pandas fetch paths (which a driver-side comparator
    # may use) turn HUGEINT into decimal128/float64 — a rows-match/
    # hash-mismatch class invisible to this comparator unless typed out
    # (the q36 r4/r5 driver failure: SUM(BIGINT) → HUGEINT in `val`).
    bad_types = [
        (c, str(t))
        for c, t in zip(d_cols, rel.types)
        if str(t) in ("HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER", "USMALLINT", "UTINYINT")
    ]
    if bad_types:
        return False, (
            f"oracle emits non-portable integer types {bad_types}; "
            "CAST to BIGINT in the SQL (SUM over BIGINT widens to HUGEINT)"
        )
    d_rows = rel.fetchall()

    if sorted(s_cols) != sorted(d_cols):
        return False, f"column mismatch: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return False, f"row count mismatch: spark={len(s_rows)} duckdb={len(d_rows)}"
    cs = canon_rows(s_cols, s_rows)
    cd = canon_rows(d_cols, d_rows)
    if cs != cd:
        diffs = [(a, b) for a, b in zip(cs, cd) if a != b][:5]
        return False, f"value mismatch; first diffs (spark vs duckdb): {diffs}"
    return True, "ok"
