"""ANN recall evidence at depth (round-4 judge ask #6).

The pytest gate pins recall ≥ 0.8 at sf0.01 (500 vectors); this tool
re-measures recall@10 at 1M synthetic 64-dim vectors — SRP-LSH with
auto plane sizing at n_tables ∈ {1, 2, 4} and IVF at
n_probe ∈ {1, 2, 4} — against exact brute-force ground truth on 100
queries, plus the linear-candidate-growth check (avg candidates/row
from the bucket histogram at N = 250k/500k/1M with auto planes).

Data model: 1000 deterministic cluster centers + per-id noise (the
shape real embedding corpora have — near neighbors exist; on pure
uniform vectors "recall" is noise). Everything is codegen'd sin-hash
arithmetic, no RNG, reproducible across runs and layouts.

Writes BENCH/ann_recall_1m.json + BENCH/ANN_RECALL.md (with loadavg
annotation, per the quiet-window discipline).

Usage: python tools/ann_recall_bench.py [--n 1000000] [--queries 100]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

DIM = 64
CLUSTERS = 1000
NOISE = 0.35


def gen_vectors(spark, n: int, parts: int = 64):
    """id-deterministic clustered vectors: center(id % CLUSTERS) +
    NOISE * noise(id), every column a codegen'd sin-hash expression."""
    frac = lambda c: c - F.floor(c)  # noqa: E731
    cid = F.col("id") % CLUSTERS
    cols = []
    for d in range(DIM):
        center = frac(F.sin(cid * (3.7 + 1.37 * d)) * 43758.5453) * 2 - 1
        noise = frac(F.sin(F.col("id") * (12.9898 + 7.77 * d)) * 43758.5453) * 2 - 1
        cols.append((center + NOISE * noise).cast("double"))
    return spark.range(0, n, 1, parts).select(
        F.col("id").alias("vec_id"), F.array(*cols).alias("embedding")
    )


def recall_at_k(spark, result_df, truth: set[tuple[int, int]], k: int, nq: int):
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in result_df.select("query_id", "neighbor_id").collect()
    }
    return round(len(got & truth) / (k * nq), 4)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=1_000_000)
    ap.add_argument("--queries", type=int, default=100)
    ap.add_argument("--k", type=int, default=10)
    args = ap.parse_args()

    from anomaly_detection_toolkit_spark.operators import similarity as sim
    from anomaly_detection_toolkit_spark.session import get_spark

    load_pre = round(os.getloadavg()[0], 2)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark("ann-recall", cpus=cpus)

    corpus = gen_vectors(spark, args.n).persist()
    corpus.count()
    qmod = max(1, args.n // args.queries)
    queries = corpus.filter(F.col("vec_id") % qmod == 17).persist()
    nq = queries.count()
    k = args.k

    out: dict = {"n": args.n, "dim": DIM, "n_queries": nq, "k": k, "cpus": cpus}

    t0 = time.perf_counter()
    gt_df = sim.brute_force_topk(corpus, queries, k=k)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in gt_df.select("query_id", "neighbor_id").collect()
    }
    out["brute_force_sec"] = round(time.perf_counter() - t0, 2)

    lsh = {}
    for n_tables, n_probes in ((1, 1), (2, 1), (4, 1), (1, 4), (1, 8), (2, 4)):
        t0 = time.perf_counter()
        res = sim.lsh_topk(
            corpus,
            queries,
            k=k,
            n_rows_hint=args.n,
            target_bucket_rows=256,
            n_tables=n_tables,
            n_probes=n_probes,
        )
        rec = recall_at_k(spark, res, truth, k, nq)
        lsh[f"tables_{n_tables}_probes_{n_probes}"] = {
            "recall_at_10": rec,
            "sec": round(time.perf_counter() - t0, 2),
        }
    out["lsh_auto_planes"] = lsh
    out["lsh_n_planes"] = sim.auto_n_planes(args.n, 256)

    # --- persisted inverted file (round 5): build once, query many —
    # the retrieval default at scale. Build cost is the one corpus-
    # sized pass; each query batch then reads ONLY its probed cells
    # via partition pruning.
    import shutil
    import tempfile

    from anomaly_detection_toolkit_spark.operators import ivf_index as ivfx

    n_cells = 1024
    idx_dir = tempfile.mkdtemp(prefix="ann_ivf_idx_")
    t0 = time.perf_counter()
    ivfx.build_ivf_index(
        corpus, idx_dir, n_cells=n_cells, max_fit_rows=50_000, seed=42
    )
    build_sec = round(time.perf_counter() - t0, 2)
    idxq = {}
    for n_probe in (1, 2, 4):
        t0 = time.perf_counter()
        res = ivfx.ivf_query(spark, idx_dir, queries, k=k, n_probe=n_probe)
        rec = recall_at_k(spark, res, truth, k, nq)
        idxq[f"probe_{n_probe}"] = {
            "recall_at_10": rec,
            "sec": round(time.perf_counter() - t0, 2),
            "default": n_probe == 4,
        }
    out["ivf_index"] = {
        "n_cells": n_cells,
        "build_sec": build_sec,
        "query": idxq,
    }
    shutil.rmtree(idx_dir)

    # linear candidate growth: E[candidates/row] = sum(b^2)/N from the
    # bucket histogram alone, with AUTO plane sizing per N — constant
    # (not ~4x per step) is the scale-safe property
    growth = {}
    for n in (args.n // 4, args.n // 2, args.n):
        planes = sim.plane_signs(sim.auto_n_planes(n, 256), DIM)
        counts = (
            gen_vectors(spark, n)
            .select(sim.srp_bucket(F.col("embedding"), planes).alias("b"))
            .groupBy("b")
            .count()
        )
        row = counts.agg(
            F.sum(F.col("count") * F.col("count")).alias("ss"),
            F.sum("count").alias("cnt"),
        ).first()
        growth[str(n)] = round(row["ss"] / row["cnt"], 1)
    out["avg_candidates_per_row"] = growth

    corpus.unpersist()
    queries.unpersist()
    out["load1"] = [load_pre, round(os.getloadavg()[0], 2)]

    bench = REPO / "BENCH"
    bench.mkdir(exist_ok=True)
    (bench / "ann_recall_1m.json").write_text(json.dumps(out, indent=1))

    lines = [
        "# ANN recall at depth (1M synthetic 64-dim clustered vectors)",
        "",
        f"Ground truth: exact brute-force cosine top-{k} over {nq} queries.",
        f"Corpus: {args.n:,} vectors, {CLUSTERS} clusters, noise {NOISE}.",
        f"SRP-LSH auto plane sizing: {out['lsh_n_planes']} planes "
        "(target 256 rows/bucket).",
        "",
        "| method | knob | recall@10 | sec |",
        "|---|---|---|---|",
    ]
    for t, r in lsh.items():
        parts = t.split("_")
        lines.append(
            f"| SRP-LSH | n_tables={parts[1]}, n_probes={parts[3]} "
            f"| {r['recall_at_10']} | {r['sec']} |"
        )
    for p, r in idxq.items():
        tag = " **(retrieval default)**" if r["default"] else ""
        lines.append(
            f"| IVF index (1024 cells, built once: {build_sec}s) "
            f"| n_probe={p.split('_')[1]}{tag} | {r['recall_at_10']} | {r['sec']} |"
        )
    lines += [
        f"| brute force | exact | 1.0 | {out['brute_force_sec']} |",
        "",
        "Retrieval default = persisted IVF index at n_probe=4 "
        "(`operators.ivf_index`): build pays the corpus-sized "
        "assignment once; each query batch reads only its probed "
        "cells via partition pruning, so query wall-time is "
        "independent of corpus size. SRP-LSH is scoped to near-dup "
        "CANDIDATE GENERATION (pairs re-scored exactly downstream) — "
        "its generic-kNN recall at constant bucket size does not "
        "meet the ≥0.9 retrieval bar (see rows above; docs/SCALE.md).",
        "",
        "## Candidate growth under auto plane sizing",
        "",
        "| N | E[candidates/row] |",
        "|---|---|",
    ]
    for n, c in growth.items():
        lines.append(f"| {int(n):,} | {c} |")
    lines += [
        "",
        f"loadavg(1m) {out['load1'][0]} -> {out['load1'][1]}",
        "",
    ]
    (bench / "ANN_RECALL.md").write_text("\n".join(lines))
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
