"""Seeded generator of the engine's input tables.

Writes the ten catalog tables (`minarrow_spark.sources.catalog.TABLES`) as
one parquet file each, with the column types, value domains and cardinality
ratios of the star-schema testdata the queries were written against:
uniform foreign keys, a 30-word document vocabulary with 5 % "<text> dup"
near-duplicates, 64-d unit embeddings around 10 weak class centroids, and an
events stream whose timestamps advance by exponential gaps over 30 days.
Same ``(sf, seed)`` → byte-identical values. Only numpy and pyarrow are
used, so generation never touches the engine under test.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = np.array(
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch".split()
)
PART_ADJ = np.array("red new hot small cold large old blue".split())
PART_NOUN = np.array("bolt anvil ring rod plate gear widget gizmo".split())
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _docs(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    words = WORDS[rng.integers(0, len(WORDS), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # 5 % near-duplicates: an earlier document's text plus one marker word.
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centroids = rng.standard_normal((10, dim))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n).astype(np.int32)
    vecs = rng.standard_normal((n, dim)) / np.sqrt(dim) + 0.07 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), pa.array(vecs.ravel())
    )
    return pa.table({"vec_id": np.arange(n, dtype=np.int64), "embedding": emb, "label": labels})


def events_table(rng: np.random.Generator, n: int, span_n: int | None = None) -> pa.Table:
    """``n`` events of a stream whose ``span_n`` events (default ``n``) cover
    30 days with exponential gaps, so a prefix of a larger stream keeps
    that stream's event density."""
    mean_gap = 30 * _DAY_US / max(span_n or n, 1)
    ts = _EPOCH_2024 + np.cumsum(rng.exponential(mean_gap, n)).astype(np.int64)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": rng.integers(0, max(15, (span_n or n) * 15 // 1000), n, dtype=np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def star_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
    }
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": np.char.add(
                np.char.add(PART_ADJ[rng.integers(0, 8, n_part)], " "),
                PART_NOUN[rng.integers(0, 8, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": PART_TYPES[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n_line) * _DAY_US),
        }
    )
    out["events"] = events_table(rng, n_ev)
    out["documents"] = _docs(rng, n_doc)
    out["embeddings"] = _embeddings(rng, n_emb)
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_star(sf: float, seed: int, out_dir: str) -> None:
    write_tables(star_tables(sf, seed), out_dir)
