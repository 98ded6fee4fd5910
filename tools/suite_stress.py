"""2M-image suite stress record (round-5 judge ask #4).

The bench's largest recurring suite record is 500k images; driver-side
costs (the partition-distinct collect in ``plans/runner.py`` and the
verdict-grid collect in ``validate.py``) had no measurement at greater
depth. This tool runs the FUSED suite plus every check in ISOLATION
(bench.py methodology: input persisted, best-of-N, untimed
Python-worker warm-up) at 500k AND 2M images, annotates each level
with its own loadavg window, flags any stage growing SUPER-linearly
(stage ratio > data ratio x 1.5 slack), writes
``BENCH/suite_stress_2m.json`` and appends the record to the round's
append-only ``BENCH/queries_r{N}.json`` evidence file.

Memory: the 2M payload table is ~70 GB deserialized — far over the
default 24g heap — so unless ``ADT_SPARK_DRIVER_MEM`` is set this
tool raises the driver heap to 96g (sized for a 128 GB host) to keep
the persist mostly in memory; the remainder spills, same as a real
executor would. Run it in a QUIET window (check ``uptime`` before and
after — CLAUDE.md co-tenant-burst discipline) and on >= 60 GB free
disk (table + spill).

Usage: python tools/suite_stress.py [--small 500000] [--big 2000000]
       [--runs 2] [--big-runs 2] [--round N]
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

from bench import (  # noqa: E402
    _load1,
    _noop_write,
    append_round_record,
    ensure_image_table,
    suite_times,
    warm_python_workers,
)


def profile_level(spark, n_images: int, runs: int) -> dict:
    from anomaly_detection_toolkit_spark.plans.checks import default_suite

    path = ensure_image_table(spark, n_images, 32)
    level: dict = {"n_images": n_images, "runs": runs, "load1_pre": _load1()}
    df = spark.read.parquet(path).persist()
    t0 = time.perf_counter()
    df.count()
    level["persist_sec"] = round(time.perf_counter() - t0, 3)

    warm_python_workers(spark, 32)
    # untimed fused warm-up: the FIRST run_suite in a JVM pays
    # codegen/shuffle/state machinery init (measured ~2x on run 0) —
    # that cost belongs to the session, not to whichever level runs
    # first, and it would skew the cross-level ratios
    suite_times(df, 1)

    stages: dict[str, float] = {}
    for check in default_suite():
        label = check.name
        if label in stages:  # two UniquenessChecks
            label = f"{label}_2"
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            out = check.run(df)
            _noop_write(out.violations)
            _noop_write(out.metrics)
            best = min(best, time.perf_counter() - t0)
            for d in out.cached:
                d.unpersist()
        stages[label] = round(best, 3)

    fused = min(suite_times(df, runs))
    df.unpersist()
    level["stages_isolated_sec"] = stages
    level["isolated_sum_sec"] = round(sum(stages.values()), 3)
    level["fused_suite_sec"] = round(fused, 3)
    level["images_per_sec"] = round(n_images / fused, 1)
    level["load1_post"] = _load1()
    return level


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", type=int, default=500_000)
    ap.add_argument("--big", type=int, default=2_000_000)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--big-runs", type=int, default=2)
    ap.add_argument(
        "--round", type=int, default=None,
        help="append to BENCH/queries_r{N}.json for this round "
        "(default: inferred, see bench._round_number)",
    )
    args = ap.parse_args()
    if args.round is not None:
        os.environ["ADT_BENCH_ROUND"] = str(args.round)

    os.environ.setdefault("ADT_SPARK_DRIVER_MEM", "96g")
    from anomaly_detection_toolkit_spark.session import get_spark

    spark = get_spark("suite-stress", cpus=32)
    small = profile_level(spark, args.small, args.runs)
    big = profile_level(spark, args.big, args.big_runs)
    spark.stop()

    data_ratio = args.big / args.small
    ratios = {
        k: round(big["stages_isolated_sec"][k] / small["stages_isolated_sec"][k], 2)
        for k in big["stages_isolated_sec"]
    }
    ratios["fused_suite"] = round(
        big["fused_suite_sec"] / small["fused_suite_sec"], 2
    )
    superlinear = sorted(
        k for k, r in ratios.items() if r > data_ratio * 1.5
    )
    # internal consistency gate (CLAUDE.md: sanity-check each level
    # against its own history before publishing): the fused suite is
    # within ~1.5x of the isolated-stage sum in every healthy record
    # (shared-scan fusion makes it comparable or cheaper); a level
    # whose fused time blows past that was hit by an intra-level
    # co-tenant burst and must not be read as engine scaling
    suspect = [
        lvl["n_images"]
        for lvl in (small, big)
        if lvl["fused_suite_sec"] > 1.5 * lvl["isolated_sum_sec"]
    ]
    record = {
        "kind": "suite_stress",
        "suspect_levels_burst": suspect,
        "ts": round(time.time(), 1),
        "data_ratio": data_ratio,
        "small": small,
        "big": big,
        "stage_ratio_big_over_small": ratios,
        "superlinear_stages": superlinear,
    }
    bench = REPO / "BENCH"
    bench.mkdir(exist_ok=True)
    # canonical quiet-window record is never overwritten by a
    # burst-flagged rerun (CLAUDE.md discipline; same policy as
    # scaling_bench's BASELINE.md.burst.md diversion) — suspect runs
    # land beside it and in the append-only round history only
    target = (
        "suite_stress_2m.burst.json" if suspect else "suite_stress_2m.json"
    )
    (bench / target).write_text(json.dumps(record, indent=1))

    append_round_record(record)
    print(json.dumps(record))


if __name__ == "__main__":
    main()
