"""Scaling-efficiency sample for the corpus-curation pipeline — the
same N vs 4N protocol as ``tools/scaling_bench.py`` (fresh JVM per
level, persisted input, host raw-CPU probe alongside), applied to the
``curate.py`` core: exact dedup (fingerprint shuffle + semi-join) →
quality features (codegen'd projections) → deterministic mixture
sample (map-side filter) → token packing (bucketed prefix sum) →
chunk-slice explode.

Input: a deterministic synthetic 500k-doc corpus (10-59 tokens/doc,
~10% exact duplicates, 5 languages), generated once into
``.bench_cache/`` by a subprocess (a stopped in-process SparkSession
leaves its JVM alive and pollutes the measurement — CLAUDE.md).

Usage: python tools/curation_scaling.py [--docs 500000] [--runs 2]
       [--levels 2 8]
Prints the table; append results to BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools.scaling_bench import host_cpu_baseline, run_level  # noqa: E402

GEN = r"""
import sys
sys.path.insert(0, sys.argv[3])
from pyspark.sql import functions as F
from anomaly_detection_toolkit_spark.session import get_spark
spark = get_spark("curation-gen", cpus=32)
n = int(sys.argv[2])
df = spark.range(0, n, 1, 32).selectExpr(
    "id AS doc_id",
    "CASE WHEN id % 10 = 9 THEN id - 1 ELSE id END AS tid",
).selectExpr(
    "doc_id",
    "concat_ws(' ', transform(sequence(1, CAST(10 + tid % 50 AS INT)), "
    "j -> concat('w', CAST((tid * 31 + j * 7) % 997 AS STRING)))) AS text",
    "element_at(array('en','de','fr','zh','es'), CAST(tid % 5 + 1 AS INT)) AS lang",
)
df.write.mode("overwrite").parquet(sys.argv[1])
spark.stop()
"""

CHILD = r"""
import json, sys, time
sys.path.insert(0, sys.argv[4])
from pyspark.sql import functions as F
from anomaly_detection_toolkit_spark.session import get_spark
from anomaly_detection_toolkit_spark.operators import curation, dedup, text

cpus, path, runs = int(sys.argv[1]), sys.argv[2], int(sys.argv[3])
spark = get_spark("curation-scaling", cpus=cpus)
df = spark.read.parquet(path).persist()
n = df.count()

def noop(d):
    d.write.format("noop").mode("overwrite").save()

times = []
for _ in range(runs):
    t0 = time.perf_counter()
    keep = (
        dedup.exact_duplicates(df)
        .filter(F.col("is_duplicate") == 0)
        .select("doc_id")
    )
    docs = df.join(keep, "doc_id", "left_semi")
    docs = text.quality_features(docs)
    docs = curation.stratified_sample(
        docs, "lang", {"en": 0.6, "de": 0.4}, default_fraction=0.3
    )
    packed = curation.pack_documents(docs, budget=2048)
    noop(packed)
    noop(curation.chunk_assignments(packed, budget=2048))
    times.append(time.perf_counter() - t0)
print("RESULT " + json.dumps({"cpus": cpus, "n": n, "times": times}))
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=500_000)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--levels", type=int, nargs="+", default=[2, 8])
    args = ap.parse_args()

    path = str(REPO / ".bench_cache" / f"docs_n{args.docs}")
    if not (Path(path) / "_SUCCESS").exists():
        subprocess.run(
            [sys.executable, "-c", GEN, path, str(args.docs), str(REPO)],
            check=True,
            cwd=str(REPO),
        )

    host = host_cpu_baseline(args.levels)
    results = {c: run_level(CHILD, c, path, args.runs) for c in args.levels}

    print(json.dumps({"host_probe_sec": host, "results": results}))
    base = min(args.levels)
    bt = min(results[base]["times"])
    for c in args.levels:
        t = min(results[c]["times"])
        sp = bt / t
        eff = sp / (c / base)
        print(
            f"local[{c}]: best {t:.2f}s  docs/sec {results[c]['n'] / t:,.0f}  "
            f"speedup {sp:.2f}x  efficiency {eff:.2f}"
        )
    hb = host[base]
    for c in args.levels:
        print(f"host probe local[{c}]: {host[c]:.2f}s (speedup {hb / host[c]:.2f}x)")


if __name__ == "__main__":
    main()
