"""Regenerate COVERAGE.md: cross-reference SURVEY §2 operator IDs against the
query registry's tags plus the static map of test/module coverage below.
Run from the repo root: python scripts/gen_coverage.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from minarrow_spark.registry import all_queries

# §2 IDs covered outside the query registry (tests / inherited / documented n/a)
EXTRA = {
    "S1": "tests/test_arrow_io.py::test_roundtrip_typed_table (`createDataFrame` typed build)",
    "S2": "sources/arrow_io.py `from_arrow` + tests/test_arrow_io.py",
    "S3": "sources/arrow_io.py `to_arrow` + tests/test_arrow_io.py",
    "S4": "sources/arrow_io.py `arrow_batches` (vectorized per-partition IPC export) + registrable 'arrow_ipc' format (sources/arrow_ipc.py: Python DataSource, Arrow batches both directions, pushdown reader) + streaming replay (streaming/ingest.py)",
    "S5": "inherited: PySpark's built-in Arrow bridge (pandas_udf / mapInArrow / toArrow)",
    "S6": "sources/arrow_io.py `to_polars`/`from_polars` (import-gated) + pyarrow round-trips; `df.toPandas()` built-in",
    "S7": "n/a by design: Spark manages JVM↔Python exchange (Arrow IPC) and shuffle; no memfd analog needed",
    "S9": "tests/test_projection.py::test_show_sink_smoke (`df.show` render)",
    "P1": "operators/projection.py `c()` + tests/test_projection.py",
    "P2": "operators/projection.py `r()` + tests/test_projection.py",
    "P3": "operators/projection.py `gather()` + tests",
    "P4": "operators/projection.py `rename/add_col/remove_cols` + tests",
    "P5": "operators/projection.py `map_col/apply_cols` + tests; functions/arithmetic.py `table_op`",
    "M3": "folded into codegen: `a*b+c` in q01/q04 revenue expressions (Catalyst fuses; no explicit FMA)",
    "M5": "implicit everywhere (Catalyst type coercion); pinned by q23 mixed int/double expressions",
    "M6": "q23/q27 scalar⊕column expressions (`col + lit`)",
    "T17": "operators/categorical.py dictionary_encode/decode (dense codes, sorted-order contract; q25 first_type_code tier, oracle dense_rank) + tests/test_categorical.py round-trip; plus the logical-identity note (SURVEY §1.1)",
    "T20": "q17_crosstab (same kernel as A5)",
    "U3": "streaming ingest consolidation (`coalesce`) — streaming/ingest.py replay_dir; inherited `df.coalesce`",
    "ST1": "q46 rollup tier (batch=<id> partial writes, driver oracle-checked); streaming/ingest.py `read_event_stream` + tests/test_streaming.py",
    "ST2": "streaming/ingest.py trigger sizing + session AQE confs (session.py)",
    "ST3": "q46 rollup tier `compact_rollup` (driver oracle-checked); streaming/ingest.py `replay_dir` consolidation",
    "ST4": "q45/q46/q47 event-time windows; streaming twin streaming/windows.py `windowed_counts`",
    "ST5": "streaming/windows.py `stream_pair_join` + tests/test_streaming.py::test_stream_pair_join_matches_batch",
    "ST6": "sources/arrow_io.py `arrow_batches` (Arrow-IPC data plane, 3x-floor throughput test); 'arrow_ipc' stream reader (append-only file queue, sources/arrow_ipc.py); memory-sink streaming tests",
    "ST7": "streaming/windows.py watermarks + `dedup_within_watermark` + `running_totals_per_user` (applyInPandasWithState) + tests",
    "F2": "functions/arithmetic.py `table_op` (q27); operators/projection.py `apply_cols`",
    "F3": "Python closures over arbitrary objects in pandas UDFs / applyInPandas (streaming/windows.py state handler)",
    "F4": "sources/arrow_io.py `map_in_arrow` + q53_arrow_kernel",
}

ID_RE = r"S\d+|P\d+|J\d+|A\d+|W\d+|O\d+|U\d+|M\d+|T\d+|D\d+|ST\d+|F\d+"


def main() -> None:
    qs = all_queries()
    by_tag: dict[str, list[str]] = {}
    for q in qs.values():
        for t in q.tags:
            by_tag.setdefault(t, []).append(q.name)

    ids: list[tuple[str, str]] = []
    seen: set[str] = set()
    for line in open("SURVEY.md"):
        m = re.match(rf"\| ({ID_RE}) \| ([^|]+) \|", line)
        if m and m.group(1) not in seen:
            seen.add(m.group(1))
            ids.append((m.group(1), m.group(2).strip()))

    out = [
        "# COVERAGE — SURVEY §2 operator inventory → implementation\n",
        "Auto-generated cross-reference (regenerate with `python scripts/gen_coverage.py`).",
        "Every §2 ID maps to the query (driver-checked vs the DuckDB oracle at sf0.01),",
        "test, or module that exercises it. Queries named `qNN_*` are registered in",
        "`minarrow_spark/queries/` and exposed via `__spark_entry__.queries()`.\n",
        "| ID | Operator | Covered by |",
        "|---|---|---|",
    ]
    missing = []
    for i, desc in ids:
        cov = []
        if i in by_tag:
            cov.append(", ".join(sorted(set(by_tag[i]))))
        if i in EXTRA:
            cov.append(EXTRA[i])
        if not cov:
            missing.append(i)
            cov = ["**UNCOVERED**"]
        out.append(f"| {i} | {desc} | {'; '.join(cov)} |")

    out.append("\n## Beyond-reference extensions (BASELINE.json north star)\n")
    out.append("| Family | Queries |")
    out.append("|---|---|")
    fams = [
        ("dedup (exact, minhash-LSH, simhash, n-gram jaccard, embedding-cosine)", "dedup"),
        ("similarity search (brute-force, IVF, sign-LSH)", "similarity"),
        ("text analysis (whitespace + BPE-ish tokens, lang-ID, quality, fingerprint)", "text"),
        ("multimodal binary columns", "multimodal"),
        ("streaming/event-time", "streaming"),
        ("deterministic hash sampling / train-test splits", "sampling"),
        ("int8 embedding quantization (coarse search + exact re-rank)", "quantization"),
        ("text normalization (Catalyst cleanup + Arrow NFC)", "normalize"),
        ("continuous rollup (partials / compaction / merge-on-read)", "rollup"),
        ("k-means clustering", "clustering"),
        ("exact-gramian PCA (power iteration, bit-checked cross-engine)", "pca"),
        ("BPE vocabulary training (histogram shuffle + replayed merge loop)", "bpe"),
        ("fuzzy (edit-distance) entity-resolution join, prefix-blocked", "fuzzy"),
        ("PageRank (BSP loop, exact scaled-long ranks, replayed per round)", "pagerank"),
        ("time-series gapfill (grid spine + LOCF + linear interpolation)", "gapfill"),
        ("Bloom semi-join scan pruning (engine-portable md5 filter)", "bloom"),
        ("cohort retention analysis (first-seen cohorts × day offsets)", "cohort"),
        ("ordered-event funnel matching (view→click→purchase)", "funnel"),
        ("distributed OLS trend (exact-moment closed-form regression)", "trend"),
        ("array/map/JSON scalar functions (SURVEY §2.11 Cap row)", "SF-json"),
    ]
    for label, tag in fams:
        names = sorted({q.name for q in qs.values() if tag in q.tags})
        out.append(f"| {label} | {', '.join(names)} |")
    out.append(
        "| dedup cluster formation (pairs → connected components → keeper) | "
        "q36_simhash 'clusters' tier (driver oracle-checked vs a DuckDB "
        "recursive-CTE closure); operators/graph.py + tests/test_graph.py |"
    )
    out.append(
        "| deterministic weighted sampling (Efraimidis–Spirakis A-ES) | "
        "operators/sampling.py `weighted_sample_topk` — partition-invariance "
        "+ DuckDB cross-engine replay pinned in tests/test_sampling.py |"
    )
    out.append(
        "| incremental streaming dedup (LSH state table, exactly-once, "
        "compactable) | streaming/dedup.py — batch-twin equivalence + replay "
        "idempotence + compaction algebra pinned in tests/test_streaming.py |"
    )
    out.append(
        "| incremental streaming ANN index (cell-partitioned, int8 at-rest, "
        "exactly-once) | streaming/ann.py — batch-twin equivalence + first-"
        "batch-empty + replay idempotence pinned in tests/test_streaming.py; "
        "kill-and-restart exactly-once (torn-batch overwrite) pinned for BOTH "
        "streams: test_streaming_dedup_kill_restart_exactly_once and "
        "test_streaming_ann_kill_restart_exactly_once |"
    )
    out.append(
        "| cube / third-dimension table stacking (reference cube.rs) | "
        "table.py MinCube (stack / stack_on / resolver keys / per-axis "
        "slices / col_across) + tests/test_table.py::test_cube_stack_and_slice |"
    )

    with open("COVERAGE.md", "w") as f:
        f.write("\n".join(out) + "\n")
    print("wrote COVERAGE.md;", f"{len(ids)} IDs,", "missing:", missing or "none")


if __name__ == "__main__":
    main()
