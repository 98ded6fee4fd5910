"""The benchmark's workloads: closed loops of one client.

Each workload builds its inputs from the seed and hands the engine only
those inputs. The set-up ends with untimed warm-up operations; then the
benchmark issues operations back to back for the requested seconds, at
least one; a new operation starts only when the previous one has
returned. Every output is checked (``checkers``); a wrong output counts
as a failed operation.

``validate``  ``run_validation_job`` over a generated 8-partition F1
              image table into a fresh output directory.
``ivf_build``  ``build_ivf_index`` over a generated clustered corpus; the
              last index is then queried and checked.

A traced run measures the same loop with each engine call in its own
Spark job group, then runs probes that call single layers in isolation
(the fused plans cannot be split from outside): per check, the runner's
incremental path and ``compact_sinks``, the payload kernels, the index
update, and the curation stages."""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time
from collections import Counter
from time import perf_counter

import numpy as np

import checkers
from sparkstats import FIELDS, SparkStats
from spans import covered_seconds, tail

N_PARTS = 8
CORES = 4

E2E_METRICS = {
    "setup_s": "s",
    "items_per_s": "items/s",
    "op_p50_s": "s",
    "cpu_s_per_kitem": "s",
}

CODEC_FORMATS = ("raw", "ppm", "bmp", "png", "lossyq")

LAYER_METRICS = {
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "images.generate_s": "s",
    "images.gen_pixels_us": "us",
    **{f"codecs.decode_us.{f}": "us" for f in CODEC_FORMATS},
    "codecs.psnr_us": "us",
    **{
        f"checks.{c}.{m}": u
        for c in checkers.CHECKS
        for m, u in (
            ("wall_s", "s"),
            ("jvm_cpu_s", "s"),
            ("pyworker_cpu_s", "s"),
            ("shuffle_write_mb", "MB"),
            ("violation_rows", "count"),
        )
    },
    "runner.plan_s": "s",
    "runner.snapshot_id_s": "s",
    "runner.fingerprints_s": "s",
    "runner.compact_sinks_s": "s",
    "runner.jobs_per_op": "count",
    "runner.tasks_per_op": "count",
    "runner.parts_checked": "count",
    "ivf.build_s": "s",
    "ivf.query_s": "s",
    "ivf.load_manifest_s": "s",
    "ivf.probe_cells_per_batch": "count",
    "ivf.files_scanned_per_batch": "count",
    "ivf.candidates_per_query": "count",
    "ivf.update_s": "s",
    "ivf.recall_at_10": "fraction",
    "dedup.exact_s": "s",
    "dedup.lsh_pairs_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.pair_yield": "fraction",
    "dedup.components_s": "s",
    "text.quality_s": "s",
    "curation.pack_s": "s",
    "curation.chunks_s": "s",
    **{
        f"spark.{k}": ("count" if k in ("jobs", "stages", "tasks", "failed_tasks") else
                       "MB" if k.endswith("_mb") else "s")
        for k in FIELDS
    },
    "pyworker.cpu_s": "s",
    "driver.cpu_s": "s",
    "trace.overhead_s": "s",
}


class Ctx:
    """What one benchmark run shares: the session, the tracer, the
    process-tree sampler, the per-layer figures and the op verdicts."""

    def __init__(self, spark, work: str, seed: int, tracer, procs):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.procs = procs
        self.stats = SparkStats(spark)
        self.layer: dict[str, float] = {}
        self.records: list[dict] = []  # per traced operation
        self.problems: list[str] = []
        self.bookkeeping_s = 0.0  # tracing work between timed calls
        self.attempted = 0
        self.failed = 0

    def verdict(self, problems: list[str]) -> None:
        """Count one checked operation."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)

    def call(self, name: str, op: str, fn):
        """Run ``fn`` as one timed call into the engine → (result,
        seconds, process-tree CPU seconds).

        Traced, the call's Spark jobs go into job group ``op`` and its
        Spark and per-role CPU figures are kept in ``records``; the
        status-store read happens after the clock has stopped."""
        traced = self.tracer.enabled
        if traced:
            b0 = perf_counter()
            self.stats.group(op)
            self.bookkeeping_s += perf_counter() - b0
        cpu0 = self.procs.cpu()
        w0 = time.time()
        t0 = perf_counter()
        with self.tracer.span(name, op=op):
            out = fn()
        lat = perf_counter() - t0
        w1 = time.time()
        cpu1 = self.procs.cpu()
        if traced:
            b0 = perf_counter()
            st = self.stats.read(op)
            self.stats.group("bench")  # the benchmark's own checks
            busy = covered_seconds(
                [(max(a, w0), min(b, w1)) for a, b in st.pop("job_intervals") if b > w0 and a < w1]
            )
            self.records.append({
                "name": name,
                "op": op,
                "latency_s": lat,
                "driver_only_s": max(0.0, lat - busy),
                "pyworker_cpu_s": cpu1["pyworker"] - cpu0["pyworker"],
                "driver_cpu_s": cpu1["driver"] - cpu0["driver"],
                **st,
            })
            self.bookkeeping_s += perf_counter() - b0
        return out, lat, cpu1["total"] - cpu0["total"]


def start_session(work: str):
    from anomaly_detection_toolkit_spark.session import get_spark

    return get_spark(
        "perfbench",
        cpus=CORES,
        shuffle_partitions=2 * CORES,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def timed_phase(seconds: float, step, tracer) -> list[tuple[float, float, int]]:
    """Closed loop for ``seconds``, at least one operation: ``step(op)``
    runs operation ``op`` ("op0", "op1", ...), engine call and output
    check, and returns its (latency s, CPU s, items)."""
    t0 = perf_counter()
    ops = []
    while perf_counter() - t0 < seconds:
        op = f"op{len(ops)}"
        with tracer.span("op", op=op):
            ops.append(step(op))
    return ops


def summarize(ops: list[tuple[float, float, int]]) -> dict:
    """End-to-end figures over the operations' own time, as medians over
    the operations, so one operation slowed by a co-tenant burst does not
    move them; the benchmark's output checks between operations are not
    counted."""
    return {
        "items_per_s": statistics.median([n / lat for lat, _, n in ops]),
        "op_p50_s": statistics.median([lat for lat, _, _ in ops]),
        # null below 11 operations: no percentile has ten samples beyond it
        "op_tail": tail([lat for lat, _, _ in ops]),
        "cpu_s_per_kitem": statistics.median([1000.0 * cpu / n for _, cpu, n in ops]),
        "n_ops": len(ops),
        "items": sum(n for _, _, n in ops),
        "ops": ops,
    }


def run_workload(name: str, ctx: Ctx, seconds: float, trace: bool, t_start: float) -> dict:
    """Set up, measure and check one workload. Returns the figures of
    the set-up and the timed phase; a traced run also fills ``ctx.layer``
    with the per-layer figures."""
    wl = {"validate": Validate, "ivf_build": IvfBuild}[name](ctx)
    # each workload generates its inputs ``gen_repeats`` times, and the
    # median counts in setup_s; then it runs ``warmup_ops`` operations
    # untimed, so the timed ones find the JVM's code compiled and the
    # Python workers started
    gen_s = []
    for _ in range(wl.gen_repeats):
        t0 = perf_counter()
        wl.generate()
        gen_s.append(perf_counter() - t0)
    wl.setup()
    for k in range(wl.warmup_ops):
        wl.step(f"warm{k}")
    # the input generation counts once, at the median of its repeats
    setup_s = perf_counter() - t_start - sum(gen_s) + statistics.median(gen_s)
    ctx.records.clear()  # per-operation figures cover the timed phase only
    result = summarize(timed_phase(seconds, wl.step, ctx.tracer))
    result["setup_s"] = setup_s
    if trace:
        n = result["n_ops"]
        ctx.layer.update({f"spark.{k}": sum(r[k] for r in ctx.records) / n for k in FIELDS})
        ctx.layer["pyworker.cpu_s"] = sum(r["pyworker_cpu_s"] for r in ctx.records) / n
        ctx.layer["driver.cpu_s"] = sum(r["driver_cpu_s"] for r in ctx.records) / n
        ctx.layer["trace.overhead_s"] = ctx.bookkeeping_s / n
    if trace:
        wl.probes()
    return result


# ---------------------------------------------------------------------------
# validate
# ---------------------------------------------------------------------------

N_IMAGES = 1600  # 200 per partition: fewer let the drift KS test flag undrifted partitions


def seeded_suite(seed: int):
    """``default_suite`` whose payload check regenerates the reference
    pixels with the table's seed (the default provider assumes 42)."""
    from anomaly_detection_toolkit_spark.plans.checks import PayloadCheck, default_suite
    from anomaly_detection_toolkit_spark.sources import images

    def reference(image_id, w, h):
        return images.gen_pixels(images.id_num(image_id), w, h, seed)

    return [
        PayloadCheck(reference_pixels=reference) if c.name == "payload" else c
        for c in default_suite()
    ]


class Validate:
    """Full validation of the generated table into a fresh output
    directory: the daily batch job, as ``validate.py`` runs it.

    On a 4-core host the first operation in a JVM took ~20 s and the
    next ones 12-17 s, at 400 and at 1,600 images alike: 54 Spark jobs
    per operation make it fixed cost. So a run has one warm-up and
    then, at 8 s, one timed operation: each further one would add
    ~15 s to a run of about a minute. For the same reason the table
    is generated once: each generation is a Spark write job of 3-5 s
    (12-17 s as the JVM's first job)."""

    warmup_ops = 1
    gen_repeats = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.table = os.path.join(ctx.work, "table")
        self.suite = seeded_suite(ctx.seed)
        self.rows: list[dict] = []
        self.out = ""
        self.verdict_rows = 0
        self.violation_rows = 0
        self.gen_s: list[float] = []

    def _outputs(self) -> tuple[list, dict, set]:
        """The verdict grid, the violation rows per (check, level) and
        the parts the drift check warned on, of the latest run, read
        from the parquet sinks it wrote: no Spark job recomputes the
        suite's unpersisted results to check them."""
        import pyarrow.parquet as pq

        def sink(name: str, cols: list[str]) -> list[dict]:
            return pq.read_table(os.path.join(self.out, name), columns=cols + ["run_seq"]).to_pylist()

        verdicts = sink("verdicts", ["part", "check", "n_errors", "verdict"])
        last = max(r["run_seq"] for r in verdicts)
        verdicts = [(r["part"], r["check"], r["n_errors"], r["verdict"]) for r in verdicts if r["run_seq"] == last]
        violations = [r for r in sink("violations", ["check", "level", "part"]) if r["run_seq"] == last]
        counts = Counter((r["check"], r["level"]) for r in violations)
        warned = {r["part"] for r in violations if r["check"] == "drift" and r["level"] == "warning"}
        self.verdict_rows += len(verdicts)
        self.violation_rows += len(violations)
        return verdicts, counts, warned

    def generate(self) -> None:
        from anomaly_detection_toolkit_spark.sources import images

        ctx = self.ctx
        shutil.rmtree(self.table, ignore_errors=True)
        t0 = perf_counter()
        with ctx.tracer.span("images.write_images", op="setup"):
            images.write_images(ctx.spark, self.table, N_IMAGES, seed=ctx.seed, n_parts=N_PARTS)
        self.gen_s.append(perf_counter() - t0)
        ctx.layer["images.generate_s"] = statistics.median(self.gen_s)

    def setup(self) -> None:
        import pyarrow.parquet as pq

        self.rows = pq.read_table(self.table, columns=["image_id", "phash", "part", "defect"]).to_pylist()

    def _validate(self, op: str) -> tuple[float, float]:
        from anomaly_detection_toolkit_spark.plans.runner import run_validation_job

        ctx = self.ctx
        if self.out:  # only the latest output is kept, for the probes
            shutil.rmtree(self.out)
        self.out = os.path.join(ctx.work, f"validated-{op}")
        self.verdict_rows = self.violation_rows = 0
        # incremental=True validates a fresh output dir in full and
        # records the partition fingerprints the runner probe plans from
        res, lat, cpu = ctx.call(
            "runner.run_validation_job", op,
            lambda: run_validation_job(ctx.spark, self.table, self.out, checks=self.suite, incremental=True),
        )
        res.unpersist()
        verdicts, counts, warned = self._outputs()
        ctx.verdict(checkers.check_validation(self.rows, list(range(N_PARTS)), verdicts, counts, warned))
        return lat, cpu

    def step(self, op: str) -> tuple[float, float, int]:
        lat, cpu = self._validate(op)
        return lat, cpu, N_IMAGES

    def _runner_probe(self) -> None:
        """Incremental re-validation of one rewritten partition, then
        ``compact_sinks``: the runner's fixed per-run cost, where the
        ledger, fingerprints and sink publish do most of the work."""
        from anomaly_detection_toolkit_spark.plans.runner import (
            compact_sinks,
            partition_fingerprints,
            run_validation_job,
            snapshot_id,
        )

        ctx = self.ctx
        p = 0
        # a fresh copy (new mtime) of the same rows: the fingerprint
        # changes, the expected violations do not
        part_dir = os.path.join(self.table, f"part={p}")
        tmp = os.path.join(ctx.work, "swap")
        shutil.copytree(part_dir, tmp, copy_function=shutil.copyfile)
        shutil.rmtree(part_dir)
        os.rename(tmp, part_dir)
        with ctx.tracer.span("runner.snapshot_id", op="incremental"):
            t0 = perf_counter()
            snapshot_id(self.table)
            ctx.layer["runner.snapshot_id_s"] = perf_counter() - t0
        with ctx.tracer.span("runner.partition_fingerprints", op="incremental"):
            t0 = perf_counter()
            partition_fingerprints(self.table)
            ctx.layer["runner.fingerprints_s"] = perf_counter() - t0
        res, _, _ = ctx.call(
            "runner.run_validation_job", "incremental",
            lambda: run_validation_job(ctx.spark, self.table, self.out, checks=self.suite, incremental=True),
        )
        if res is None:
            ctx.verdict([f"incremental run: part {p} was not re-validated"])
            return
        rec = ctx.records[-1]
        ctx.layer["runner.plan_s"] = rec["driver_only_s"]
        ctx.layer["runner.jobs_per_op"] = rec["jobs"]
        ctx.layer["runner.tasks_per_op"] = rec["tasks"]
        ctx.layer["runner.parts_checked"] = float(len(res.parts_checked))
        problems = [] if res.parts_checked == [p] else [f"incremental run: parts_checked {res.parts_checked}, want [{p}]"]
        res.unpersist()
        verdicts, counts, _ = self._outputs()
        problems += checkers.check_validation(self.rows, [p], verdicts, counts)
        ctx.verdict(problems)
        done, lat, _ = ctx.call("runner.compact_sinks", "compact", lambda: compact_sinks(ctx.spark, self.out))
        ctx.layer["runner.compact_sinks_s"] = lat
        # the sinks hold exactly the rows the two runs reported
        want = {"verdicts": self.verdict_rows, "violations": self.violation_rows}
        ctx.verdict([
            f"sink {s}: {done.get(s, (None,))[0]} rows, want {n}"
            for s, n in want.items() if done.get(s, (None,))[0] != n
        ])

    def probes(self) -> None:
        self._runner_probe()
        self._check_probes()
        self._codec_probes()

    def _check_probes(self) -> None:
        """Each check alone on the persisted table, in its own job group."""
        ctx = self.ctx
        df = ctx.spark.read.parquet(self.table).persist()
        df.count()
        for check in self.suite:
            group = f"check:{check.name}"
            ctx.stats.group(group)
            cpu0 = ctx.procs.cpu()
            t0 = perf_counter()
            with ctx.tracer.span(f"checks.{check.name}", op=group):
                out = check.run(df)
                n = out.violations.count()
                out.metrics.count()
            wall = perf_counter() - t0
            cpu1 = ctx.procs.cpu()
            st = ctx.stats.read(group)
            pre = f"checks.{check.name}."
            ctx.layer[pre + "wall_s"] = wall
            ctx.layer[pre + "jvm_cpu_s"] = st["jvm_cpu_s"]
            ctx.layer[pre + "pyworker_cpu_s"] = cpu1["pyworker"] - cpu0["pyworker"]
            ctx.layer[pre + "shuffle_write_mb"] = st["shuffle_write_mb"]
            ctx.layer[pre + "violation_rows"] = float(n)
            for d in out.cached:
                d.unpersist()
        df.unpersist()

    def _codec_probes(self) -> None:
        """Driver-side kernel timings over a fixed sample of the table."""
        from anomaly_detection_toolkit_spark.functions import codecs
        from anomaly_detection_toolkit_spark.sources import images

        ctx = self.ctx
        sample = (
            ctx.spark.read.parquet(self.table)
            .select("image_id", "bytes", "fmt").orderBy("image_id").limit(2000).collect()
        )
        dec_us: dict[str, list[float]] = {f: [] for f in CODEC_FORMATS}
        gen_us, psnr_us = [], []
        with ctx.tracer.span("codecs.probe", op="probe"):
            for r in sample:
                if r["bytes"] is None:
                    continue
                t0 = time.perf_counter_ns()
                try:
                    dec = codecs.decode(r["bytes"], r["fmt"])
                except codecs.CodecError:
                    continue
                t1 = time.perf_counter_ns()
                h, w = dec.shape[:2]
                ref = images.gen_pixels(images.id_num(r["image_id"]), w, h, ctx.seed)
                t2 = time.perf_counter_ns()
                codecs.psnr(ref, dec)
                t3 = time.perf_counter_ns()
                dec_us[r["fmt"]].append((t1 - t0) / 1e3)
                gen_us.append((t2 - t1) / 1e3)
                psnr_us.append((t3 - t2) / 1e3)
        for f, xs in dec_us.items():
            ctx.layer[f"codecs.decode_us.{f}"] = statistics.median(xs)
        ctx.layer["images.gen_pixels_us"] = statistics.median(gen_us)
        ctx.layer["codecs.psnr_us"] = statistics.median(psnr_us)


# ---------------------------------------------------------------------------
# ivf_ann
# ---------------------------------------------------------------------------

N_VECTORS = 10_000
DIM = 64
N_CELLS = 16
SRC_PARTS = 4
N_PROBE = 4
TOP_K = 10
BATCH = 100
N_BATCHES = 4
MIN_RECALL = 0.98


def cosine_topk(x: np.ndarray, q: np.ndarray, k: int) -> np.ndarray:
    """Row indices of the k corpus rows most cosine-similar to each query."""
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    qn = q / np.linalg.norm(q, axis=1, keepdims=True)
    sims = qn @ xn.T
    return np.argsort(-sims, axis=1, kind="stable")[:, :k]


def probe_cells(q: np.ndarray, cent: np.ndarray, n: int) -> np.ndarray:
    """The n cells each row of ``q`` is assigned or probed to, by the rule
    of ``similarity.ivf_cell_udfs``: scores rounded to 6 dp, stable
    order, so the lowest cell wins a tie."""
    half = 0.5 * (cent * cent).sum(axis=1)
    return np.argsort(-np.round(q @ cent.T - half, 6), axis=1, kind="stable")[:, :n]


class IvfBuild:
    """``build_ivf_index`` over a generated corpus of clustered vectors
    in 4 source partitions. Every built index is checked row by row
    (each vector once, in its nearest cell). A traced run then queries
    the last index and checks each batch against the exact numpy top-10.

    Query batches are not the timed operation: their latency moved by up
    to 2x from one JVM to the next on the same input (2.7-5.6 s per
    100 queries on a 4-core host) while the build stayed within 10%.
    Builds kept getting faster for about six operations (3.3 s to
    2.0 s); three warm-ups take most of that trend, and the timed
    figures are medians over the operations."""

    warmup_ops = 3
    gen_repeats = 3

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.corpus_path = os.path.join(ctx.work, "corpus")
        self.query_path = os.path.join(ctx.work, "queries")
        self.index = ""
        self.recalls: list[float] = []
        self.query_s: list[float] = []
        self.build_s: dict[str, float] = {}

    def generate(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        ctx = self.ctx
        shutil.rmtree(self.corpus_path, ignore_errors=True)
        shutil.rmtree(self.query_path, ignore_errors=True)
        rng = np.random.default_rng(ctx.seed)
        # one equal-sized cluster per cell: the cell sizes, and so the
        # work of a build or a probe, stay the same from seed to seed
        centers = rng.normal(0.0, 3.0, size=(N_CELLS, DIM))
        x = centers[rng.permutation(np.arange(N_VECTORS) % N_CELLS)] + rng.normal(size=(N_VECTORS, DIM))
        self.src_part = np.arange(N_VECTORS) * SRC_PARTS // N_VECTORS
        for p in range(SRC_PARTS):
            sel = np.flatnonzero(self.src_part == p)
            d = os.path.join(self.corpus_path, f"src_part={p}")
            os.makedirs(d)
            pq.write_table(
                pa.table({"vec_id": pa.array(sel, pa.int64()), "embedding": pa.array(list(x[sel]))}),
                os.path.join(d, "part-0.parquet"),
            )
        self.q = x[rng.integers(0, N_VECTORS, N_BATCHES * BATCH)] + rng.normal(0.0, 0.3, size=(N_BATCHES * BATCH, DIM))
        truth = cosine_topk(x, self.q, TOP_K)
        self.truth = []
        os.makedirs(self.query_path)
        for b in range(N_BATCHES):
            rows = slice(b * BATCH, (b + 1) * BATCH)
            ids = 10**9 + np.arange(b * BATCH, (b + 1) * BATCH)
            pq.write_table(
                pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": pa.array(list(self.q[rows]))}),
                os.path.join(self.query_path, f"b{b}.parquet"),
            )
            self.truth.append({int(i): [int(v) for v in t] for i, t in zip(ids, truth[rows])})

    def setup(self) -> None:
        self.corpus = self.ctx.spark.read.parquet(self.corpus_path)

    def _index_files(self, leaf: str = "src_part=*") -> list[str]:
        return glob.glob(os.path.join(self.index, "cells", "cell=*", leaf, "*.parquet"))

    def _check_index(self) -> list[str]:
        """Every corpus vector is in the index once, in the cell the
        manifest's centroids assign it to."""
        import pyarrow.parquet as pq

        from anomaly_detection_toolkit_spark.operators.ivf_index import load_ivf_manifest

        _, cent = load_ivf_manifest(self.index)
        ids, cells, vecs = [], [], []
        for f in self._index_files():
            t = pq.read_table(f, columns=["vec_id", "embedding"])
            ids.append(t.column("vec_id").to_numpy())
            cells.append(np.full(t.num_rows, int(f.split("cell=")[1].split(os.sep)[0])))
            vecs.append(np.stack(t.column("embedding").to_numpy(zero_copy_only=False)))
        ids, cells = np.concatenate(ids), np.concatenate(cells)
        problems = []
        if len(ids) != N_VECTORS or set(ids.tolist()) != set(range(N_VECTORS)):
            problems.append(f"index holds {len(ids)} rows ({len(set(ids.tolist()))} distinct ids), want {N_VECTORS}")
        wrong = int((probe_cells(np.concatenate(vecs), cent, 1)[:, 0] != cells).sum())
        if wrong:
            problems.append(f"{wrong} vectors in another cell than their nearest centroid's")
        return problems

    def step(self, op: str) -> tuple[float, float, int]:
        from anomaly_detection_toolkit_spark.operators.ivf_index import build_ivf_index

        ctx = self.ctx
        if self.index:  # only the latest index is kept, for the probes
            shutil.rmtree(self.index)
        self.index = os.path.join(ctx.work, f"index-{op}")
        _, lat, cpu = ctx.call(
            "ivf.build_ivf_index", op,
            lambda: build_ivf_index(self.corpus, self.index, n_cells=N_CELLS, src_part_col="src_part", seed=ctx.seed),
        )
        ctx.verdict(self._check_index())
        self.build_s[op] = lat
        return lat, cpu, N_VECTORS

    def _query(self, b: int, op: str) -> None:
        from anomaly_detection_toolkit_spark.operators.ivf_index import ivf_query

        ctx = self.ctx
        queries = ctx.spark.read.parquet(os.path.join(self.query_path, f"b{b}.parquet"))
        rows, lat, _ = ctx.call(
            "ivf.ivf_query", op,
            lambda: ivf_query(ctx.spark, self.index, queries, k=TOP_K, n_probe=N_PROBE).collect(),
        )
        got: dict[int, list[int]] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            got.setdefault(int(r["query_id"]), []).append(int(r["neighbor_id"]))
        recall, problems = checkers.check_topk(got, self.truth[b], TOP_K, MIN_RECALL)
        self.recalls.append(recall)
        self.query_s.append(lat)
        ctx.verdict(problems)

    def probes(self) -> None:
        import pyarrow.parquet as pq

        from anomaly_detection_toolkit_spark.operators.ivf_index import load_ivf_manifest, update_ivf_index

        ctx = self.ctx
        ctx.layer["ivf.build_s"] = statistics.median(s for op, s in self.build_s.items() if op.startswith("op"))
        for b in range(N_BATCHES - 1):
            self._query(b, f"query{b}")
        ctx.layer["ivf.query_s"] = statistics.median(self.query_s)
        with ctx.tracer.span("ivf.load_ivf_manifest", op="probe"):
            t0 = perf_counter()
            _, cent = load_ivf_manifest(self.index)
            ctx.layer["ivf.load_manifest_s"] = perf_counter() - t0
        # counters of the query batches, from the index on disk
        cell_rows = Counter()
        cell_files = Counter()
        for f in self._index_files():
            c = int(f.split("cell=")[1].split(os.sep)[0])
            cell_rows[c] += pq.read_metadata(f).num_rows
            cell_files[c] += 1
        cells, files, cands = [], [], []
        for b in range(N_BATCHES - 1):
            probes = probe_cells(self.q[b * BATCH:(b + 1) * BATCH], cent, N_PROBE)
            distinct = {int(c) for c in probes.ravel()}
            cells.append(len(distinct))
            files.append(sum(cell_files[c] for c in distinct))
            cands.extend(sum(cell_rows[int(c)] for c in row) for row in probes)
        ctx.layer["ivf.probe_cells_per_batch"] = statistics.fmean(cells)
        ctx.layer["ivf.files_scanned_per_batch"] = statistics.fmean(files)
        ctx.layer["ivf.candidates_per_query"] = statistics.fmean(cands)

        # the write: refresh one source partition with its same rows,
        # then query again, so the exact top-k stays the expectation
        p = ctx.seed % SRC_PARTS
        changed = self.corpus.filter(f"src_part = {p}")
        done, lat, _ = ctx.call("ivf.update_ivf_index", "update", lambda: update_ivf_index(ctx.spark, self.index, changed))
        ctx.layer["ivf.update_s"] = lat
        want = int((self.src_part == p).sum())
        got = sum(pq.read_metadata(f).num_rows for f in self._index_files(f"src_part={p}"))
        problems = [] if done == [p] else [f"update refreshed {done}, want [{p}]"]
        if got != want:
            problems.append(f"after update: {got} index rows of part {p}, want {want}")
        ctx.verdict(problems + self._check_index())
        self._query(N_BATCHES - 1, "after-update")
        ctx.layer["ivf.recall_at_10"] = statistics.fmean(self.recalls)
        curation_probe(ctx)


# ---------------------------------------------------------------------------
# curation stages (traced probe of the ivf_build run)
# ---------------------------------------------------------------------------

N_DOCS = 3000
VOCAB = 20_000


def make_docs(seed: int, n: int) -> tuple[list[str], int, set[tuple[int, int]]]:
    """Documents with ~10% exact copies and ~10% one-word edits of
    earlier originals. Returns the texts, the number of exact copies and
    the planted (original, near-copy) id pairs."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    originals: list[int] = []
    n_exact = 0
    near: set[tuple[int, int]] = set()
    for i in range(n):
        r = rng.random()
        if originals and r < 0.1:
            texts.append(texts[originals[rng.integers(len(originals))]])
            n_exact += 1
        elif originals and r < 0.2:
            src = originals[rng.integers(len(originals))]
            words = texts[src].split()
            j = int(rng.integers(len(words)))
            words[j] = f"x{i}"  # unique to this copy: never an exact duplicate
            texts.append(" ".join(words))
            near.add((src, i))
        else:
            texts.append(" ".join(f"w{v}" for v in rng.integers(0, VOCAB, int(rng.integers(20, 80)))))
            originals.append(i)
    return texts, n_exact, near


def curation_probe(ctx: Ctx) -> None:
    """Each curation stage alone, in ``curate.py``'s order."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from anomaly_detection_toolkit_spark.operators import curation, dedup, text

    spark = ctx.spark
    texts, n_exact, near = make_docs(ctx.seed, N_DOCS)
    path = os.path.join(ctx.work, "docs.parquet")
    pq.write_table(pa.table({"doc_id": pa.array(range(N_DOCS), pa.int64()), "text": texts}), path)
    docs = spark.read.parquet(path).persist()
    docs.count()

    def stage(name: str, fn):
        t0 = perf_counter()
        with ctx.tracer.span(name, op="curation"):
            out = fn()
        ctx.layer[f"{name}_s"] = perf_counter() - t0
        return out

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    ex = dedup.exact_duplicates(docs)
    found = stage("dedup.exact", lambda: ex.filter(F.col("is_duplicate") == 1).count())
    deduped = docs.join(ex.filter(F.col("is_duplicate") == 0).select("doc_id"), "doc_id", "left_semi").persist()
    deduped.count()
    pairs = dedup.minhash_lsh_pairs(deduped).persist()
    stage("dedup.lsh_pairs", pairs.count)
    kept = {(int(r["id_a"]), int(r["id_b"])) for r in pairs.select("id_a", "id_b").collect()}
    candidates = dedup.minhash_lsh_pairs(deduped, threshold=0.0).count()
    ctx.layer["dedup.candidate_pairs"] = float(candidates)
    ctx.layer["dedup.pair_yield"] = len(kept) / candidates if candidates else 0.0
    stage("dedup.components", lambda: dedup.connected_components(pairs).count())
    quality = text.quality_features(deduped)
    stage("text.quality", lambda: noop(quality))
    packed = curation.pack_documents(quality, budget=2048, token_col="n_tokens").persist()
    stage("curation.pack", lambda: packed.count())
    stage("curation.chunks", lambda: noop(curation.chunk_assignments(packed, budget=2048)))
    ctx.verdict(checkers.check_dedup(found, n_exact, kept, near, 0.9))
    for d in (packed, pairs, deduped, docs):
        d.unpersist()
