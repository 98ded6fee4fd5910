"""Benchmark entry point. Run from the root of a checkout of the repo:

    python3 perfbench/run.py --workload validate --seed 1 --seconds 8 --trace 0

Builds the workload's inputs from ``--seed``, sets up, measures a closed
loop of operations for ``--seconds`` and checks every output. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). A record of the run (host
nproc, load1 before and after, CPU steal, seed, commit, every figure) is written to
``perfbench/.runs/``; a traced run writes its spans there too.
Everything the run writes stays inside the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORKLOADS = ("validate", "ivf_build")


def commit_of(root: Path) -> str:
    """git HEAD when the checkout is a repository, else a digest of the
    engine's sources."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.sha256()
    for p in sorted((root / "anomaly_detection_toolkit_spark").rglob("*.py")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return "src-sha256:" + h.hexdigest()[:16]


def isolate(root: Path, work: Path) -> None:
    """Keep Spark's and the workers' files inside the checkout and make
    the engine importable in the Python workers."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # -XX:-UsePerfData: the JVM would otherwise keep its counters file
    # under /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def cpu_times() -> list[int]:
    """The host's aggregate CPU ticks (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def stop_spark(procs) -> None:
    """Stop the session and the JVM, and wait until every process the
    run started (JVM, Python daemon and workers) has exited."""
    from pyspark import SparkContext

    started = set(procs.members()) - {os.getpid()}
    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        jvm = gateway.proc
        jvm.stdin.close()  # the gateway JVM exits on EOF
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    deadline = time.monotonic() + 20
    while started and time.monotonic() < deadline:
        started = {pid for pid in started if os.path.exists(f"/proc/{pid}")}
        time.sleep(0.1)
    for pid in started:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(os.path.exists(f"/proc/{pid}") for pid in started):
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    root = Path.cwd()
    if not (root / "anomaly_detection_toolkit_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine sources under {root}; run from the repo root", file=sys.stderr)
        return 2
    load_before = os.getloadavg()[0]
    ticks_before = cpu_times()
    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    runs = HERE / ".runs"
    runs.mkdir(exist_ok=True)
    isolate(root, work)
    sys.path.insert(0, str(root))

    import workloads
    from proc import ProcTree
    from spans import Tracer

    tracer = Tracer(bool(args.trace))
    procs = ProcTree()
    procs.start()
    try:
        with tracer.span("session.get_spark", op="setup"):
            t0 = time.perf_counter()
            spark = workloads.start_session(str(work))
            session_s = time.perf_counter() - t0
        ctx = workloads.Ctx(spark, str(work), args.seed, tracer, procs)
        ctx.layer["session.start_s"] = session_s
        result = workloads.run_workload(args.workload, ctx, args.seconds, bool(args.trace), t_start)
        measured_s = time.perf_counter() - t_start
    finally:
        procs.stop()
        stop_spark(procs)
        shutil.rmtree(work, ignore_errors=True)

    ctx.layer["peak_rss_mb"] = procs.peak_rss_mb
    ticks = [b - a for a, b in zip(ticks_before, cpu_times())]
    if args.trace:
        metrics = {k: (ctx.layer.get(k, 0.0), u) for k, u in workloads.LAYER_METRICS.items()}
    else:
        metrics = {k: (result[k], u) for k, u in workloads.E2E_METRICS.items()}
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}"
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "commit": commit_of(root),
        "nproc": os.cpu_count(),
        "load1_before": load_before,
        "load1_after": os.getloadavg()[0],
        # CPU time the hypervisor gave to other guests while this guest
        # wanted it, as a share of all CPU time during the run
        "steal_share": ticks[7] / max(1, sum(ticks)),
        "measured_s": measured_s,
        "wall_s": time.perf_counter() - t_start,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "problems": ctx.problems[:50],
        "result": result,
        "peak_rss_mb_by_role": procs.peak_by_role,
        "layer": ctx.layer,
        "spark_calls": ctx.records,
    }
    with open(runs / f"{name}.json", "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        tracer.write(str(runs / f"{name}.spans.json"))
    for problem in ctx.problems[:20]:
        print(f"WRONG: {problem}", file=sys.stderr)
    print(
        f"# {args.workload} seed={args.seed} ops={result['n_ops']} "
        f"load1={load_before:.2f}->{record['load1_after']:.2f} steal={record['steal_share']:.3f} "
        f"nproc={record['nproc']} wall={record['wall_s']:.1f}s "
        f"commit={record['commit'][:20]}"
    )
    for k, (v, u) in metrics.items():
        print(f"{k} = {v:.6g} {u}")
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
