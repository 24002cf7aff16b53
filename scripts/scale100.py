"""One-off 100× scale check: replicate the sf0.1 testdata 100 times with
per-replica key shifts (same generator bench.py's 10× tier uses) and run a
spanning query subset — the measured answer to "would this plan survive a
100× scale-up?". Results are recorded in SCALE.md.

Usage: python scripts/scale100.py [--isolated] [--distinct-text] [q...]
(default: the subset below). Writes replicas to .scratch/bench_x100
(~1.6 GB) and prints one JSON line. --distinct-text switches to the
CLONE-FREE regime (documents only, 50× with per-replica text salt) for
text-family queries — the standard replica corpus is clone-degenerate and
hides any cost that scales with distinct text (r9 q32 finding).

Measurement hygiene (r7 verdict task 4 — sweeps must be honest BY
CONSTRUCTION, not via post-hoc footnotes): every timed run is preceded by
`bench.gc_sweep`, so dead checkpoint blocks from EARLIER queries in the
sweep are collected outside the timed window — in-sweep numbers previously
ran up to ~2× hot vs isolated best-of-5 without this (q35 17.0 in-sweep vs
8.67 isolated in the r7 closing snapshot). `--isolated` raises reps to
best-of-5 (the per-query adjudication protocol) for closing snapshots.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)

import bench
from minarrow_spark.registry import all_queries
from minarrow_spark.session import get_spark

X100_DIR = os.path.join(_REPO_ROOT, ".scratch", "bench_x100")
DEFAULT = (
    "q01_pricing_summary",   # salted scaled-long agg over 60M lineitem rows
    "q04_segment_revenue",   # multi-join + partial agg
    "q10_window_topk",       # per-key windows over 15M orders
    "q45_tumbling_window",   # event-time agg over 10M events
    "q47_sessionization",    # stateful windows over 10M events
    "q42_sequence_packing",  # cumulative packing over 5M documents
    "q35_dedup_minhash",     # minhash-LSH dedup over 5M documents
    "q38_ann_topk",          # brute-force ANN over 1M embeddings
    # the four families the first sweep broke (exact-content collapse):
    "q36_simhash",           # rep-level CC + lumped PageRank over clone cliques
    "q37_ngram_jaccard",     # blocked jaccard + fuzzy join
    "q39b_lsh_buckets",      # sign-LSH near-dup candidates
    "q40_embedding_dedup",   # embedding-cell dedup
)


# Clone-free default set: the text + pair families the regime is FOR.
# q36 is deliberately absent — its 32-bit banding is a measured REFUSAL in
# this regime (quadratic in distinct-N, ~30+ min at 50×; SCALE.md
# Clone-free §) — run it explicitly to reproduce the grind.
DISTINCT_DEFAULT = (
    "q32_quality_score",
    "q34_dedup_exact",
    "q41_decontaminate",
    "q35_dedup_minhash",
    "q37_ngram_jaccard",
    "q39b_lsh_buckets",
    "q40_embedding_dedup",
)


def main() -> None:
    argv = sys.argv[1:]
    isolated = "--isolated" in argv
    distinct_text = "--distinct-text" in argv
    names = [a for a in argv if not a.startswith("--")] or list(
        DISTINCT_DEFAULT if distinct_text else DEFAULT
    )
    reps = 5 if isolated else 2
    spark = get_spark("minarrow_spark_x100")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    t0 = time.perf_counter()
    data_dir = X100_DIR
    if distinct_text:
        # CLONE-FREE regime (r9): the standard replica corpus duplicates
        # every text 100×, so exact-content collapse shrinks gram/shingle
        # tiers to ~1% and any cost that scales with DISTINCT text
        # (shared-exchange consumer re-reads, per-gram work) is invisible
        # at the standard point — q32's r9 restructure measured −0.6 s
        # there and −25% here. This mode salts each replica's text with a
        # unique token (documents only, 50×), the regime a real 100 TB
        # crawl is in. Only text-family queries are meaningful against it.
        data_dir = os.path.join(_REPO_ROOT, ".scratch", "x100_distinct")
        doc_path = os.path.join(data_dir, "documents.parquet")
        if not os.path.exists(os.path.join(data_dir, "_OK")):
            from pyspark.sql import functions as F

            src = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
            reps_ = [
                src.withColumn("doc_id", F.col("doc_id") + F.lit(i * 100_000_000))
                .withColumn("text", F.concat("text", F.lit(f" replicasalt{i}")))
                for i in range(50)
            ]
            out = reps_[0]
            for r in reps_[1:]:
                out = out.unionByName(r)
            out.write.mode("overwrite").parquet(doc_path)
            open(os.path.join(data_dir, "_OK"), "w").write("ok")
        # Non-document/embedding tables: link the sf0.1 originals so tiers
        # that touch them (q37's part-name fuzzy join) still run — the
        # measured subject of this regime is the doc/embedding families;
        # side tiers run at sf0.1 scale (noted in SCALE.md).
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events"):
            dst = os.path.join(data_dir, f"{t}.parquet")
            if not os.path.exists(dst):
                os.symlink(f"/root/testdata/sf0.1/{t}.parquet", dst)
        emb_path = os.path.join(data_dir, "embeddings.parquet")
        if not os.path.exists(os.path.join(data_dir, "_OK_EMB")):
            # Clone-free EMBEDDINGS (r10, extending the r9 text regime to
            # the q39b/q40 pair families): 50 replicas with deterministic
            # per-(VECTOR, dim) jitter — xxhash64(vec_id, d) — of ~2× the
            # component std (unit-norm vectors, σ≈0.125/dim), so every
            # pair of jittered vectors has cosine ≈ 0.2 — below both
            # verify thresholds (q39b 0.3, q40 0.8). That makes the corpus
            # DIVERSE, not a near-clone clique farm: the measured quantity
            # is the distinct-N scaling of banding/blocking (the verdict's
            # ~N²/buckets worry), not irreducible true-pair output volume.
            # (A first draft used per-(replica, dim) noise — every vector
            # of a replica then shared ONE noise direction, whose 2σ
            # amplitude FORCED the sign cells: 16k-member cells, 307M
            # 8-bit candidates, pure artifact. Per-vector noise restores
            # near-uniform cells.) Replica 0 keeps the originals.
            from pyspark.sql import functions as F

            esrc = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
            jitter = (
                "transform(embedding, (x, d) -> CAST(x + "
                "((pmod(xxhash64(vec_id, d), 2003) / 2003.0 - 0.5) * 0.88)"
                " AS FLOAT))"
            )
            ereps = []
            for i in range(50):
                rep = esrc.withColumn(
                    "vec_id", F.col("vec_id") + F.lit(i * 100_000_000)
                )
                if i > 0:
                    rep = rep.withColumn("embedding", F.expr(jitter))
                ereps.append(rep)
            eout = ereps[0]
            for r in ereps[1:]:
                eout = eout.unionByName(r)
            eout.write.mode("overwrite").parquet(emb_path)
            open(os.path.join(data_dir, "_OK_EMB"), "w").write("ok")
    else:
        bench._build_x10(spark, "/root/testdata/sf0.1", out_dir=X100_DIR, copies=100)
    build_s = round(time.perf_counter() - t0, 1)

    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        try:
            bench.materialize(qs[name].fn(spark, data_dir))  # warm: codegen + JIT
            best = None
            for _ in range(reps):
                bench.gc_sweep(spark)  # dead-block cleanup OUT of the window
                t0 = time.perf_counter()
                bench.materialize(qs[name].fn(spark, data_dir))
                dt = round(time.perf_counter() - t0, 2)
                best = dt if best is None or dt < best else best
            times[name] = best
            print(f"... {name}: {best}s", file=sys.stderr, flush=True)
        except Exception as ex:  # noqa: BLE001 — a 100× failure IS the finding
            errors[name] = f"{type(ex).__name__}: {ex}"[:400]
            print(f"... {name}: FAILED {errors[name][:200]}", file=sys.stderr, flush=True)

    out = {
        "metric": "x100_scale_check",
        "sf": 5.0 if distinct_text else 10.0,
        "regime": "distinct_text_50x" if distinct_text else "clone_replica_100x",
        "build_s": build_s,
        # Fixed-work session-noise anchor (r7 verdict task 1): lets a future
        # reader classify cross-session drift without re-measuring.
        "calibration_s": bench.calibration(spark),
        "reps": reps,
        "queries": times,
        "value": round(sum(times.values()), 2),
        "unit": "sec",
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))


if __name__ == "__main__":
    main()
