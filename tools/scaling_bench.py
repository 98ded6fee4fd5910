"""Scaling-efficiency benchmark: the SAME validation job at several
parallelism levels (the sandbox proxy for N vs 4N executors required
by the north rule).

Protocol (see BENCH/BASELINE.md for results + caveats):
- input: the deterministic synthetic image+caption table at
  ``.bench_cache/images_n{N}_p32`` (generated once, content-stable);
- per parallelism level, a FRESH JVM (subprocess) runs the full
  default validation suite (schema, column stats, uniqueness ×2,
  referential, drift, payload decode) ``runs`` times over a
  persisted input and reports the best wall time — the input is
  pre-loaded into the Spark cache so the measurement captures engine
  scaling, not this microVM's virtio storage throttling (a real
  cluster reads from distributed storage whose bandwidth scales with
  executors; this box's single virtio disk throttles sustained
  re-reads regardless of core count);
- the headline pair is N=2 vs 4N=8 cores; 32 cores is reported as an
  extra point (the host VM delivers ~3.3-3.8× for 4× processes on raw
  numpy work — measured in the same run as ``host_cpu_baseline`` —
  so Spark numbers are judged against what the box itself can do).

Usage: python tools/scaling_bench.py [--images 500000] [--out BENCH/BASELINE.md]
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))  # table generation imports the package

CHILD = r"""
import json, sys
sys.path.insert(0, sys.argv[4])
from anomaly_detection_toolkit_spark.session import get_spark
from bench import suite_times

cpus, img_path, runs = int(sys.argv[1]), sys.argv[2], int(sys.argv[3])
spark = get_spark("scaling-bench", cpus=cpus)
df = spark.read.parquet(img_path).persist()
n = df.count()
times = suite_times(df, runs)
print("RESULT " + json.dumps({"cpus": cpus, "n": n, "times": times}))
"""


def _numpy_work(seed: int) -> float:
    import numpy as np

    rng = np.random.default_rng(seed)
    x = 0.0
    for _ in range(40):
        a = rng.standard_normal(400_000)
        x += float(np.sin(a).sum())
    return x


def host_cpu_baseline(levels: list[int]) -> dict[int, float]:
    """Raw multiprocessing throughput on fixed total work — what the
    VM itself delivers at each process count."""
    out = {}
    for procs in levels:
        with mp.Pool(procs) as p:
            t0 = time.perf_counter()
            p.map(_numpy_work, range(64))
            out[procs] = time.perf_counter() - t0
    return out


def run_level(child: str, cpus: int, path: str, runs: int) -> dict:
    """Run the ``child`` source at ``local[cpus]`` in a fresh process
    (a fresh JVM per level) and return its ``RESULT`` record."""
    proc = subprocess.run(
        [sys.executable, "-c", child, str(cpus), path, str(runs), str(REPO)],
        capture_output=True,
        text=True,
        timeout=3600,
        cwd=str(REPO),
    )
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT from cpus={cpus}: {proc.stdout[-2000:]}\n{proc.stderr[-2000:]}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--images", type=int, default=500_000)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--levels", type=int, nargs="+", default=[2, 8, 32])
    ap.add_argument("--out", default=str(REPO / "BENCH" / "BASELINE.md"))
    ap.add_argument(
        "--force",
        action="store_true",
        help="write --out even if the host-speed drift gate trips",
    )
    ap.add_argument(
        "--max-host-drift",
        type=float,
        default=0.25,
        help="refuse to update --out when the raw-numpy host probe "
        "differs by more than this fraction before vs after the "
        "levels (co-tenant burst window)",
    )
    args = ap.parse_args()

    img_path = str(REPO / ".bench_cache" / f"images_n{args.images}_p32")
    if not (Path(img_path) / "_SUCCESS").exists():
        # Generate in a SUBPROCESS: spark.stop() in-process leaves the
        # py4j gateway JVM alive (it exits with the Python parent), and
        # a lingering ~50GB post-generation JVM measurably polluted the
        # host CPU baseline and the first measurement level in the
        # round-3 2M run. A child process takes the JVM down with it.
        gen = (
            "import sys; sys.path.insert(0, sys.argv[3])\n"
            "from anomaly_detection_toolkit_spark.session import get_spark\n"
            "from anomaly_detection_toolkit_spark.sources import images\n"
            "spark = get_spark('scaling-gen', cpus=32)\n"
            "images.write_images(spark, sys.argv[1], int(sys.argv[2]), n_parts=32)\n"
            "spark.stop()\n"
        )
        subprocess.run(
            [sys.executable, "-c", gen, img_path, str(args.images), str(REPO)],
            check=True,
            cwd=str(REPO),
        )

    # quiet-window gate (codifies the CLAUDE.md discipline that was
    # manual until round 3): the host probe runs BEFORE and AFTER the
    # measurement levels; if the box's own speed drifted past the
    # threshold, a co-tenant burst overlapped some level and the
    # N-vs-4N ratio is untrustworthy — the report still prints, but
    # the committed BASELINE.md is not overwritten (burst evidence
    # goes to <out>.burst.md instead). loadavg is recorded as the
    # secondary annotation.
    import os as _os

    load_pre = round(_os.getloadavg()[0], 2)
    host = host_cpu_baseline(args.levels)
    results = {c: run_level(CHILD, c, img_path, args.runs) for c in args.levels}
    # settle before the after-probe: the last level's 32-thread JVM
    # just exited and its load is still decaying — probing instantly
    # measures OUR OWN tail, not the co-tenant window (the first gated
    # run false-positived at 62% drift exactly this way)
    time.sleep(75)
    host_after = host_cpu_baseline(args.levels)
    load_post = round(_os.getloadavg()[0], 2)
    drift = max(
        abs(host_after[p] - host[p]) / host[p] for p in host
    )
    quiet = drift <= args.max_host_drift

    lines = [
        "# BENCH/BASELINE — validation throughput + scaling efficiency",
        "",
        "Workload: full default validation suite (schema, column stats,",
        "uniqueness x2, referential, KS/PSI drift, payload decode+PSNR+caption)",
        f"over the deterministic synthetic image+caption table, n={args.images:,}",
        "images, 32 logical partitions. Input persisted in the Spark cache so",
        "the measurement captures engine scaling rather than this microVM's",
        "virtio disk throttling (see tools/scaling_bench.py docstring).",
        "Best of "
        + str(args.runs)
        + " runs per level; each level is a fresh JVM (local[N]).",
        "",
        "## Host CPU baseline (raw numpy multiprocessing, fixed total work)",
        "",
        f"| procs | wall (s) | speedup vs {args.levels[0]} | efficiency |",
        "|---|---|---|---|",
    ]
    for procs, t in host.items():
        sp = host[args.levels[0]] / t
        eff = sp / (procs / args.levels[0])
        lines.append(f"| {procs} | {t:.2f} | {sp:.2f}x | {eff:.2f} |")
    lines += [
        "",
        "## Validation suite",
        "",
        "| local[N] | best wall (s) | images/sec | speedup vs N=2 | efficiency vs N=2 |",
        "|---|---|---|---|---|",
    ]
    base = min(results[args.levels[0]]["times"])
    for c in args.levels:
        best = min(results[c]["times"])
        n = results[c]["n"]
        sp = base / best
        eff = sp / (c / args.levels[0])
        lines.append(
            f"| {c} | {best:.2f} | {n / best:.0f} | {sp:.2f}x | {eff:.2f} |"
        )
    if len(args.levels) >= 2:
        n2, n8 = args.levels[0], args.levels[1]
        sp = min(results[n2]["times"]) / min(results[n8]["times"])
        eff = sp / (n8 / n2)
        lines += [
            "",
            f"**North-rule pair (N={n2} → 4N={n8} cores): speedup {sp:.2f}x, "
            f"scaling efficiency {eff:.2f}** (target ≥ 0.8).",
        ]
    lines += [
        "",
        "Raw per-run times: "
        + json.dumps({str(c): [round(t, 2) for t in r["times"]] for c, r in results.items()}),
        "",
        "Window annotation: loadavg(1m) "
        + f"{load_pre} -> {load_post}; host-probe drift "
        + f"{drift:.1%} (gate {args.max_host_drift:.0%}; "
        + ("quiet window" if quiet else "BURST WINDOW — untrusted")
        + "); probe secs before "
        + json.dumps({str(k): round(v, 2) for k, v in host.items()})
        + " after "
        + json.dumps({str(k): round(v, 2) for k, v in host_after.items()}),
        "",
        "## Notes",
        "",
        "- The reference library publishes no benchmark numbers (SURVEY §6);",
        "  this file IS the baseline for future rounds.",
        "- 32-core efficiency is capped by this sandbox: ~8-12% steal time,",
        "  a shared 2.1 GHz host, and JVM+Python worker oversubscription on",
        "  one memory bus. A real 4N-executor cluster adds memory bandwidth",
        "  and storage bandwidth with each executor; the 2→8 pair (25% of",
        "  the box) is the honest proxy for that regime.",
        "- JDK17 AVX-512 arraycopy stubs segfaulted under heavy BINARY-column",
        "  Arrow traffic on this host; the session pins -XX:UseAVX=2.",
        "",
    ]
    out = Path(args.out)
    if not quiet and not args.force:
        out = out.with_suffix(out.suffix + ".burst.md")
        print(
            f"HOST DRIFTED {drift:.1%} > {args.max_host_drift:.0%} during the "
            f"levels — refusing to update {args.out}; burst-window evidence "
            f"written to {out} (rerun in a quiet window, or --force)"
        )
    out.parent.mkdir(parents=True, exist_ok=True)
    # historical appendix sections (prior rounds' samples, curation
    # pipeline records, audit trails) survive the rewrite: everything
    # at/after the marker is carried over verbatim — a round-4 rewrite
    # once silently dropped the round-3 appendix
    marker = "<!-- appendix:"
    tail = ""
    # the CANONICAL file's appendix is authoritative even when the
    # burst path redirects the write to <out>.burst.md — a stale
    # appendix copy inside an old burst file must not shadow it
    canonical = Path(args.out)
    if canonical.exists() and marker in (prev := canonical.read_text()):
        tail = "\n" + prev[prev.index(marker):]
    elif out.exists() and marker in (prev := out.read_text()):
        tail = "\n" + prev[prev.index(marker):]
    out.write_text("\n".join(lines) + tail)
    print(f"wrote {out}")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
