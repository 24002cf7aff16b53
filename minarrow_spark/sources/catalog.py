"""Table registry over the driver-provided parquet star schema.

Reference parallels: the reference constructs tables in memory with typed
builders (`/root/reference/src/structs/table.rs:103`, macros
`src/enums/array.rs:3411-3954`); it reserves Parquet support but does not
implement it (`Cargo.toml:143-148`). Here the scan layer IS Spark's parquet
reader, which gives us what the reference's zero-copy views gave it —
column pruning and predicate pushdown — at the storage level
(ReadSchema / PushedFilters in the physical plan).

Scale note: each table is a plain `spark.read.parquet` — no eager caching,
no collect. At 100 TB the same call reads a partitioned directory; nothing
here assumes single-file inputs.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Post-load schema contract (r6 verdict task 7): driver-regenerated testdata
# has flipped parquet timestamp physical types twice (TIMESTAMP_NANOS →
# µs-NTZ); load_table normalizes the known variants SILENTLY, so a future
# type flip it can't absorb would first surface as a downstream oracle hash
# mismatch — the most expensive failure mode this repo has. The contract
# fails the LOAD instead, listing every delta. Values are simpleString
# types; a frozenset means any member is known-good (the timestamp columns'
# µs-tz/µs-NTZ variants both behave identically under the pinned UTC
# session zone; events.ts is checked post-normalization, which also absorbs
# the NANOS-long form).
_TS = frozenset({"timestamp", "timestamp_ntz"})
SCHEMA_CONTRACT: dict[str, dict[str, str | frozenset]] = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint",
        "s_name": "string",
        "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": _TS,
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_partkey": "bigint",
        "l_suppkey": "bigint",
        "l_linenumber": "int",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": _TS,
    },
    "events": {
        "event_id": "bigint",
        "ts": "timestamp",  # post-normalization: NANOS-long and NTZ both land here
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint",
        "embedding": "array<float>",
        "label": "int",
    },
}


def _check_contract(name: str, df: DataFrame, path: str) -> None:
    """Raise loudly (with the full delta table) if a loaded table's schema
    violates SCHEMA_CONTRACT. Extra columns are fine (queries select
    explicitly); missing columns and type deltas are not."""
    contract = SCHEMA_CONTRACT.get(name)
    if contract is None:
        return
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    deltas = []
    for col, want in contract.items():
        got = actual.get(col)
        accepted = want if isinstance(want, frozenset) else {want}
        if got is None:
            deltas.append(f"  {col}: MISSING (expected {'|'.join(sorted(accepted))})")
        elif got not in accepted:
            deltas.append(f"  {col}: got {got}, expected {'|'.join(sorted(accepted))}")
    if deltas:
        raise TypeError(
            f"schema contract violation loading {name!r} from {path}\n"
            + "\n".join(deltas)
            + "\nTestdata regeneration changed parquet types in a way "
            "load_table does not normalize; extend the normalization (and "
            "SCHEMA_CONTRACT) deliberately instead of letting the delta "
            "surface as a downstream oracle hash mismatch."
        )


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Per-session cache of LOADED PLANS (r10 opt): `spark.read.parquet` costs
# ~90-130 ms of file listing + footer schema read per call, and every query
# build pays it per table per run — ~0.33 s of q04's 0.42 s build was three
# repeat loads. The cache holds the lazy DataFrame (metadata only — no rows,
# no results; every action still scans parquet), keyed per live session so a
# new session never sees another's plans, exactly like registering temp
# views once. Only successful loads are cached, so the contract gate still
# fires on every bad path, and the two session confs below stay
# unconditional per call (the r4 order-independence rule).
#
# The key also carries the parquet path's (mtime_ns, size) signature (r11,
# ADVICE): a table regenerated mid-session (testdata regen, .scratch clone
# corpora) changes the directory's stat, so the stale plan — whose frozen
# file index would fail on deleted part files or silently read the old
# schema — misses the cache and the load re-runs the contract gate.
_PLAN_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _path_sig(path: str) -> tuple[int, int]:
    """Cheap regen-detection signature for a parquet file/dir: a rewrite
    replaces the directory entry, bumping mtime (one µs-scale os.stat —
    noise next to the ~100 ms load it guards)."""
    try:
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return (0, -1)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Set UNCONDITIONALLY on every load (idempotent, runtime-settable), not
    # only when `events` loads: in a shared driver session the first query
    # to touch any table must leave the session in the same state regardless
    # of registration order — an events-gated set made timestamp semantics
    # depend on whether an events query had already run (r4 verdict #2).
    #   nanosAsLong: TIMESTAMP(NANOS) is illegal for Spark's parquet reader;
    #   the legacy conf reads it as epoch-nanos long instead.
    #   timeZone=UTC: ts math (unix_micros, casts) must agree with DuckDB's
    #   naive-as-UTC epoch_us.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cache = _PLAN_CACHE.setdefault(spark, {})
    path = table_path(os.path.abspath(sf_dir), name)
    key = (path, name, _path_sig(path))
    cached = cache.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        dt = df.schema["ts"].dataType
        if isinstance(dt, T.LongType):
            # TIMESTAMP(NANOS) read as epoch-nanos (nanosAsLong); truncate to
            # µs — the truncation DuckDB applies casting TIMESTAMP_NS→TIMESTAMP.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(dt, T.TimestampNTZType):
            # Parquet timestamp[us] without tz loads as TIMESTAMP_NTZ, which
            # unix_micros/watermarks reject; under the UTC session tz this cast
            # is the identity on the underlying micros (naive-as-UTC instant).
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        elif isinstance(dt, T.DateType):
            # A date32 ts would be a LOSSY upstream change (time-of-day gone);
            # silently casting would keep oracle checks green while streaming/
            # session semantics quietly degrade — fail loudly instead.
            raise TypeError(
                "events.ts arrived as DATE (date32) — a lossy upstream type "
                "change. Regenerate with timestamp precision or extend "
                "load_table deliberately; refusing to silently cast."
            )
    # Synthetic replica dirs (bench._build_x10 writes _MARKER.json) widen
    # shifted int key columns to bigint on purpose (replica*1e8 shifts
    # overflow int32) — the contract targets DRIVER-regenerated testdata,
    # so marked dirs are exempt.
    if not os.path.exists(os.path.join(sf_dir, "_MARKER.json")):
        _check_contract(name, df, table_path(sf_dir, name))
    cache[key] = df
    return df
