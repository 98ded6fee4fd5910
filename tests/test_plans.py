"""Physical-plan regression tests (SURVEY §4): the optimizations the
engine relies on must be visible in `.explain` output — a silent
plan regression (lost broadcast, extra shuffle, un-pruned binary
column, unpushed filter) is a perf bug at 10^12 rows even when every
value is still correct."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from anomaly_detection_toolkit_spark.operators.statistical import (
    SeasonalBaselineDetector,
    ZScoreDetector,
)
from anomaly_detection_toolkit_spark.sources.testdata import load_table

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_zscore_transform_is_shuffle_free(spark):
    df = load_table(spark, "events", SF_DIR)
    det = ZScoreDetector(threshold=3.0).fit(df, ["value"])
    plan = plan_of(det.transform(df))
    # fit collected the stats; the transform must be a pure projection
    assert "Exchange" not in plan
    assert "*(1) Project" in plan  # whole-stage-codegen'd projection


def test_seasonal_transform_broadcasts_stats(spark):
    df = load_table(spark, "events", SF_DIR)
    det = SeasonalBaselineDetector(season="hour").fit(df, ["value"], date_col="ts")
    plan = plan_of(det.transform(df))
    assert "BroadcastHashJoin" in plan  # tiny stats dim table
    # the only hash exchange allowed is the one INSIDE the broadcast
    # side (building the ≤24-row stats table); the fact scan streams
    # straight into the join
    fact_side = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in fact_side


def test_column_stats_prunes_scan(spark):
    from anomaly_detection_toolkit_spark.plans.checks import ColumnStatsCheck

    df = spark.createDataFrame(
        [("a", b"xx", 1, 1.0, 0)], "image_id string, bytes binary, w int, v double, part int"
    )
    # write+reread so a real parquet scan exists to prune
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(d)
        src = spark.read.parquet(d)
        stats = ColumnStatsCheck({"w": {"min": 0}})._stats(src)
        plan = plan_of(stats)
        assert "bytes" not in plan  # binary column pruned from the scan
        assert "image_id" not in plan


def test_stratified_sample_is_pushed_down_filter(spark):
    from anomaly_detection_toolkit_spark.operators import curation

    df = load_table(spark, "documents", SF_DIR)
    plan = plan_of(curation.stratified_sample(df, "lang", {"en": 0.5}, salt="t"))
    # pure map-side: no shuffle anywhere, filter inside codegen
    assert "Exchange" not in plan
    assert "*(1) Filter" in plan  # codegen'd, directly over the scan


def test_pack_documents_never_sorts_globally(spark):
    from anomaly_detection_toolkit_spark.operators import curation

    df = load_table(spark, "documents", SF_DIR)
    plan = plan_of(curation.pack_documents(df, budget=128, n_buckets=8))
    # the prefix sum must be bucketed windows + a broadcast offset
    # join — a single-partition global window would serialize 10^12
    # rows through one task
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" not in plan  # bucket is data-derived
    assert "BroadcastHashJoin" in plan  # per-bucket offsets
    assert plan.count("Window") >= 1 and "bucket" in plan


def test_bucketed_lsh_index_probe_is_shuffle_free_on_corpus_side(spark, tmp_path):
    """The incremental-dedup scale claim (operators/dedup.py
    build_lsh_index docstring): an index table bucketed by band_key
    is probed WITHOUT re-shuffling the corpus side — only the small
    ingest batch pays an exchange. Same join the body of
    incremental_lsh_pairs builds."""
    from anomaly_detection_toolkit_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"some text number {i} with shared words {i % 7}") for i in range(200)],
        "doc_id long, text string",
    )
    idx = dedup.build_lsh_index(docs.filter("doc_id % 7 != 0"))
    spark.sql("DROP TABLE IF EXISTS lsh_idx_plan_t")
    try:
        idx.write.bucketBy(8, "band_key").sortBy("band_key").saveAsTable(
            "lsh_idx_plan_t"
        )
        stored = spark.table("lsh_idx_plan_t")
        nb = dedup.build_lsh_index(docs.filter("doc_id % 7 = 0"))
        joined = nb.alias("a").join(
            stored.alias("b"),
            F.col("a.band_key") == F.col("b.band_key"),
            "inner",
        )
        with_amnesty = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = plan_of(joined)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", with_amnesty)
        assert "Bucketed: true" in plan  # corpus side reads its buckets
        # exactly ONE exchange on band_key — the batch side; a second
        # would mean the corpus re-shuffled despite the bucketing
        assert plan.count("Exchange hashpartitioning(band_key") == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS lsh_idx_plan_t")


def test_filter_pushdown_reaches_parquet(spark):
    df = load_table(spark, "events", SF_DIR).filter(F.col("event_type") == "click")
    plan = plan_of(df.select("event_id"))
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)" in plan


def test_drift_single_input_pass(spark):
    from anomaly_detection_toolkit_spark.plans.checks import DriftCheck

    rows = [("i%d" % i, i % 4, i % 7, "ppm", i * 31, i % 3) for i in range(100)]
    df = spark.createDataFrame(rows, "image_id string, w int, h int, fmt string, phash long, part int")
    chk = DriftCheck()
    plan = plan_of(chk.scores(df))
    # all four watched columns flow through ONE generate+aggregate
    # materialization (the persisted histogram), which feeds exactly
    # three readers: the per-bucket global aggregate, the per-part
    # totals and the left join that densifies the grid. Each cache
    # scan prints the cached plan (one Generate) as lineage, so a
    # read that bypassed the cache would show up as a Generate with
    # no InMemoryTableScan above it.
    assert plan.count("InMemoryTableScan") == plan.count("Generate explode") == 3
    # one planned broadcast: the global per-bucket table (this is the
    # static plan; at run time AQE may also broadcast the small side
    # of the grid's left join)
    assert plan.count("BroadcastExchange") <= 1
    chk._last_counts.unpersist()


def test_suite_scan_fusion_reads_binary_once(spark, tmp_path):
    """The suite's scan fusion: every non-payload check reads the ONE
    shared cached narrow projection, so the binary payload column is
    scanned from storage exactly once per suite run (the 100 TB cost
    model — 7 checks must not mean 7 passes over the fact table)."""
    from anomaly_detection_toolkit_spark.plans.checks import default_suite
    from anomaly_detection_toolkit_spark.plans.runner import run_suite
    from anomaly_detection_toolkit_spark.sources import images

    d = str(tmp_path / "imgs")
    images.write_images(spark, d, 300, n_parts=3)
    df = spark.read.parquet(d)
    result = run_suite(df, default_suite())
    try:
        assert result.cached, "narrow-projection cache not engaged"
        plan = plan_of(result.violations)
        scan_lines = [ln for ln in plan.splitlines() if "Scan parquet" in ln]
        assert sum("bytes" in ln for ln in scan_lines) == 1
        # the narrow subtrees read the cache, not the file
        assert plan.count("InMemoryTableScan") >= 6
    finally:
        result.unpersist()


def test_suite_skips_second_cache_when_input_persisted(spark, tmp_path):
    from anomaly_detection_toolkit_spark.plans.checks import default_suite
    from anomaly_detection_toolkit_spark.plans.runner import run_suite
    from anomaly_detection_toolkit_spark.sources import images

    d = str(tmp_path / "imgs")
    images.write_images(spark, d, 200, n_parts=2)
    df = spark.read.parquet(d).persist()
    try:
        result = run_suite(df, default_suite())
        # check-INTERNAL caches (column-stats table, drift counts +
        # grid) are tracked for release, but no second copy of the
        # input/narrow projection is cached when the input is already
        # persisted — none of the cached tables carries the payload
        # or full input schema
        assert all(
            "bytes" not in [f.name for f in c.schema.fields]
            and set(f.name for f in c.schema.fields)
            != set(f.name for f in df.schema.fields)
            for c in result.cached
        )
        result.unpersist()
        # unpersist really released them
        assert all(not c.is_cached for c in result.cached)
    finally:
        df.unpersist()


def test_ann_brute_force_broadcasts_queries(spark):
    from anomaly_detection_toolkit_spark.operators.similarity import brute_force_topk

    emb = load_table(spark, "embeddings", SF_DIR)
    q = emb.filter(F.col("vec_id") < 3)
    plan = plan_of(brute_force_topk(emb, q, k=2))
    assert "BroadcastNestedLoopJoin" in plan  # corpus side never shuffles


def test_uniqueness_uses_partial_aggregation(spark):
    from anomaly_detection_toolkit_spark.plans.checks import UniquenessCheck

    rows = [("i%d" % i, i % 10, 0) for i in range(100)]
    df = spark.createDataFrame(rows, "image_id string, phash long, part int")
    out = UniquenessCheck("phash").run(df)
    plan = plan_of(out.violations)
    # partial_count before the exchange = map-side combine (the
    # anti-hot-key property SURVEY §4.2.2 relies on)
    assert "partial_count" in plan or "HashAggregate(keys=[phash" in plan


def _cache_reads(df) -> Counter:
    """The scans under the InMemoryRelation ``df`` is persisted as:
    ``InMemoryTableScanExec`` (a read of another cache, not descended
    into) and ``FileSourceScanExec`` nodes of the plan that fills the
    cache, as planned (AQE's runtime rewrites, e.g. a join over an
    empty side folded away, do not hide a read)."""
    rel = df._jdf.queryExecution().withCachedData()
    assert rel.nodeName() == "InMemoryRelation", rel.nodeName()
    todo, reads = [rel.cachedPlan()], Counter()
    while todo:
        p = todo.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.inputPlan())
        elif cls in ("InMemoryTableScanExec", "FileSourceScanExec"):
            reads[cls] += 1
        else:
            kids = p.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
    return reads


def test_suite_grid_documents_feeds_checks_from_cache(spark):
    """The oracle-checked suite grid on the DuckDB-replicable path:
    each check that builds a small intermediate table (per-part stats,
    duplicate keys, drift histogram) persists it, and the plan under
    that check's persisted violations reads the intermediate from its
    cache (InMemoryTableScan) instead of recomputing it from the
    documents parquet — the same cost model as the image suite. The
    referential check persists its violations themselves, so nothing
    below them is cached. The grid is driver-built, so the reads are
    taken per check, below each of the run's violation caches."""
    from anomaly_detection_toolkit_spark.entry_suite import (
        _suite_grid_checks,
        _suite_grid_fact,
    )
    from anomaly_detection_toolkit_spark.plans.runner import run_suite

    checks = _suite_grid_checks()
    result = run_suite(_suite_grid_fact(spark, "/root/testdata/sf0.001"), checks)
    try:
        reads = {
            c.name: _cache_reads(v) for c, v in zip(checks, result.violation_caches)
        }
        assert len(reads) == len(checks)
        fed = {n for n, r in reads.items() if r["InMemoryTableScanExec"]}
        assert fed == {
            "column_stats", "uniqueness_doc_key", "uniqueness_phash16", "drift",
        }, reads
        rows = result.verdicts.collect()
        assert {r.check for r in rows} == set(reads)
        # non-trivial grid: failures AND passes both present
        verds = {r.verdict for r in rows}
        assert verds == {-1, 1}
    finally:
        result.unpersist()


def test_check_metrics_read_their_violation_caches(spark, tmp_path):
    """Metrics and violations are materialized as SEPARATE jobs by the
    runner; each expensive check must therefore persist its sparse
    output so the metrics job reads the cache instead of re-running
    the payload decode (the suite's dominant stage), the anti-join, or
    the full-cardinality key shuffle a second time (round-3 profile:
    payload 7.1s → 3.6s at 100k)."""
    from anomaly_detection_toolkit_spark.plans.checks import (
        PayloadCheck,
        ReferentialCheck,
        UniquenessCheck,
    )
    from anomaly_detection_toolkit_spark.sources import images

    d = str(tmp_path / "imgs")
    images.write_images(spark, d, 300, n_parts=3)
    df = spark.read.parquet(d)
    for chk in (PayloadCheck(), UniquenessCheck("phash"), ReferentialCheck()):
        out = chk.run(df)
        try:
            out.violations.count()  # fill the check's cache
            assert out.cached, f"{chk.name}: no cache registered"
            assert "InMemoryTableScan" in plan_of(out.metrics), chk.name
        finally:
            for c in out.cached:
                c.unpersist()


def _persisted_rdd_ids(spark) -> set:
    """Ids of the RDDs the context holds as persisted. Unpersisting
    removes an id at once (the block removal itself may be async)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _image_table(spark, tmp_path, n=300, n_parts=3):
    from anomaly_detection_toolkit_spark.sources import images

    d = str(tmp_path / "imgs")
    images.write_images(spark, d, n, n_parts=n_parts)
    return spark.read.parquet(d)


def test_suite_unpersist_releases_every_cache(spark, tmp_path):
    """SuiteResult.unpersist() must release every cache the run made.
    If any per-check persist survives, the NEXT plan-identical
    run_suite resolves its persists to the already-materialized
    InMemoryRelations and silently skips the heavy stages — which
    turned the round-3 scaling benchmark into a cache-hot partial
    measurement (2M N=2: run1 1037s, run2 56s) until
    tools/scaling_bench.py switched to res.unpersist(). The fused loop
    the bench tools share, ``bench.suite_times``, must leave nothing
    behind either.

    Only the run's OWN ids are compared: an earlier test's cache may be
    released (the context cleaner drops a collected RDD) while this
    runs."""
    import bench
    from anomaly_detection_toolkit_spark.plans.checks import V_COLS, default_suite
    from anomaly_detection_toolkit_spark.plans.runner import run_suite

    df = _image_table(spark, tmp_path)
    before = _persisted_rdd_ids(spark)
    suite = default_suite()
    res = run_suite(df, suite)
    for out in (res.violations, res.verdicts, res.metrics):
        out.write.format("noop").mode("overwrite").save()
    new = _persisted_rdd_ids(spark) - before
    assert new, "suite should persist intermediates"
    # every check's violations are a cache the result holds
    assert len(res.violation_caches) == len(suite)
    assert all(c.columns == V_COLS and c.is_cached for c in res.violation_caches)
    res.unpersist(blocking=True)
    leaked = _persisted_rdd_ids(spark) & new
    assert not leaked, f"persisted RDDs leaked past unpersist: {leaked}"

    before = _persisted_rdd_ids(spark)
    bench.suite_times(df, runs=2)
    leaked = _persisted_rdd_ids(spark) - before
    assert not leaked, f"persisted RDDs leaked past suite_times: {leaked}"


def test_suite_jobs_run_in_the_callers_job_group(spark, tmp_path):
    """Every job of a suite run lands in the caller's job group (the
    check threads inherit it), and each check names its jobs
    ``adt:<check>`` — the per-check attribution of a fused run."""
    from anomaly_detection_toolkit_spark.plans.checks import default_suite
    from anomaly_detection_toolkit_spark.plans.runner import run_suite

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    store = jsc.statusStore()

    def jobs() -> dict:
        jsc.listenerBus().waitUntilEmpty(30_000)
        seq = store.jobsList(None)  # a Scala Seq
        return {j.jobId(): j for j in map(seq.apply, range(seq.size()))}

    df = _image_table(spark, tmp_path, 200, 2)
    before = set(jobs())
    suite = default_suite()
    sc.setJobGroup("suite-under-test", "suite-under-test", False)
    try:
        res = run_suite(df, suite)
    finally:
        sc._jsc.clearJobGroup()
    try:
        ran = [j for i, j in jobs().items() if i not in before]
        assert ran
        groups = {j.jobGroup().get() if j.jobGroup().isDefined() else None for j in ran}
        assert groups == {"suite-under-test"}
        descriptions = {j.description().get() for j in ran if j.description().isDefined()}
        assert {f"adt:{c.name}" for c in suite} <= descriptions
    finally:
        res.unpersist(blocking=True)


@pytest.mark.parametrize("when", ["plan", "run"])
def test_suite_check_failure_raises_and_releases_caches(spark, tmp_path, when):
    """A check that fails while planning or while its job runs: the
    other checks finish, run_suite raises that check's error, and no
    cache the run made survives."""
    from anomaly_detection_toolkit_spark.functions.localrel import local_rows_df
    from anomaly_detection_toolkit_spark.plans.checks import (
        METRICS_SCHEMA,
        VIOLATION_SCHEMA,
        Check,
        CheckOutput,
        default_suite,
    )
    from anomaly_detection_toolkit_spark.plans.runner import run_suite

    class Broken(Check):
        name = "broken"

        def run(self, df):
            if when == "plan":
                raise ValueError("broken check")
            row = ("broken", "error", None, None, 0, None, None, "m")
            v = local_rows_df(spark, [row], VIOLATION_SCHEMA).withColumn(
                "value", F.raise_error(F.lit("broken check")).cast("string")
            )
            return CheckOutput(v, local_rows_df(spark, [], METRICS_SCHEMA))

    df = _image_table(spark, tmp_path, 200, 2)
    before = _persisted_rdd_ids(spark)
    with pytest.raises(Exception, match="broken check"):
        run_suite(df, [*default_suite(), Broken()])
    assert not _persisted_rdd_ids(spark) - before


def test_suite_outputs_do_not_depend_on_partitioning_confs(spark, tmp_path):
    """Sorted verdict, violation and metric rows are the same whether
    AQE may re-partition cached plans or not, and at 1 or 8 shuffle
    partitions."""
    import itertools

    from anomaly_detection_toolkit_spark.plans.checks import default_suite
    from anomaly_detection_toolkit_spark.plans.runner import run_suite

    df = _image_table(spark, tmp_path)
    keys = (
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "spark.sql.shuffle.partitions",
    )
    prev = {k: spark.conf.get(k) for k in keys}
    got = {}
    try:
        for conf in itertools.product(("false", "true"), ("1", "8")):
            for k, v in zip(keys, conf):
                spark.conf.set(k, v)
            res = run_suite(df, default_suite())
            got[conf] = [
                sorted(map(tuple, out.collect()), key=repr)
                for out in (res.verdicts, res.violations, res.metrics)
            ]
            res.unpersist(blocking=True)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    first = got[("true", "8")]
    assert all(len(rows) > 0 for rows in first)
    for conf, outs in got.items():
        assert outs == first, conf


def test_suite_verdicts_and_metrics_are_driver_built(spark, tmp_path):
    """The verdict grid and the metrics are literal relations built
    from the checks' collected rows: no join, no shuffle and no
    pickled Python RDD behind them."""
    from anomaly_detection_toolkit_spark.plans.checks import default_suite
    from anomaly_detection_toolkit_spark.plans.runner import run_suite

    res = run_suite(_image_table(spark, tmp_path, 200, 2), default_suite())
    try:
        for out in (res.verdicts, res.metrics):
            plan = plan_of(out)
            assert "Exchange" not in plan and "ExistingRDD" not in plan, plan
        assert res.verdicts.count() == 2 * len(default_suite())
    finally:
        res.unpersist(blocking=True)


def _unwrapped_threads(source: str) -> list[int]:
    """Lines of ``source`` that start a thread whose target is not
    wrapped in ``inheritable_thread_target``: a ``Thread(...)`` call,
    a ``ThreadPoolExecutor(...)`` not bound to a name, or a submit/map
    on a bound pool."""
    import ast

    def wrapped(node) -> bool:
        while isinstance(node, ast.Call):  # f(...)(...) curries
            f = node.func
            if getattr(f, "id", getattr(f, "attr", None)) == "inheritable_thread_target":
                return True
            node = f
        return False

    def name(call) -> str | None:
        return getattr(call.func, "id", getattr(call.func, "attr", None))

    tree = ast.parse(source)
    pools, bound, bad = set(), set(), []
    for node in ast.walk(tree):
        if isinstance(node, ast.withitem):
            call, targets = node.context_expr, [node.optional_vars]
        elif isinstance(node, ast.Assign):
            call, targets = node.value, node.targets
        else:
            continue
        if isinstance(call, ast.Call) and name(call) == "ThreadPoolExecutor":
            bound.add(id(call))
            pools |= {t.id for t in targets if isinstance(t, ast.Name)}
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        if name(node) == "Thread":
            target = next((k.value for k in node.keywords if k.arg == "target"), None)
            if not wrapped(target):
                bad.append(node.lineno)
        elif name(node) == "ThreadPoolExecutor" and id(node) not in bound:
            bad.append(node.lineno)
        elif (
            isinstance(node.func, ast.Attribute)
            and node.func.attr in ("submit", "map")
            and getattr(node.func.value, "id", None) in pools
            and not (node.args and wrapped(node.args[0]))
        ):
            bad.append(node.lineno)
    return bad


def test_engine_threads_inherit_spark_local_properties():
    """Every engine thread runs a target wrapped in
    ``inheritable_thread_target`` (or is an ``InheritableThread``). A
    plain thread starts its jobs without the caller's job group, so
    figures read per job group (perfbench's traced runs) silently lose
    those jobs."""
    from pathlib import Path

    assert _unwrapped_threads("import threading\nthreading.Thread(target=f).start()")
    assert _unwrapped_threads(
        "with ThreadPoolExecutor(2) as pool:\n    pool.submit(f, 1)"
    )
    assert not _unwrapped_threads(
        "with ThreadPoolExecutor(2) as pool:\n"
        "    pool.submit(inheritable_thread_target(spark)(f), 1)\n"
        "Thread(target=inheritable_thread_target(f))\n"
        "InheritableThread(target=f)"
    )
    repo = Path(__file__).resolve().parent.parent
    pkg = repo / "anomaly_detection_toolkit_spark"
    offenders = [
        f"{p.relative_to(repo)}:{line}"
        for p in pkg.rglob("*.py")
        for line in _unwrapped_threads(p.read_text())
    ]
    assert not offenders, offenders


def test_violations_cap_bounds_exemplars_keeps_exact_counts(spark, tmp_path):
    """violations_cap bounds the returned violations to K deterministic
    exemplars per (check, part) cell while the verdict grid still
    carries EXACT error/warning counts from the full set — the
    petabyte guard for a systematically broken ingest."""
    from anomaly_detection_toolkit_spark.plans.checks import default_suite
    from anomaly_detection_toolkit_spark.plans.runner import run_suite
    from anomaly_detection_toolkit_spark.sources import images

    d = str(tmp_path / "imgs")
    images.write_images(spark, d, 400, n_parts=2)
    # corrupt EVERY caption -> the referential check fails all rows
    df = spark.read.parquet(d).withColumn(
        "caption", F.lit("broken reference to img_999999999999")
    )
    res = run_suite(df, default_suite(), violations_cap=5)
    try:
        per_cell = (
            res.violations.groupBy("check", "part").count().collect()
        )
        assert per_cell and all(r["count"] <= 5 for r in per_cell)
        ref = {
            r["part"]: r["n_errors"]
            for r in res.verdicts.filter(
                F.col("check") == "referential_caption"
            ).collect()
        }
        # exact counts: every row of each part is an orphan (200/part)
        assert sum(ref.values()) == 400 and all(v == 200 for v in ref.values())
    finally:
        res.unpersist(blocking=True)


def test_violations_cap_is_partitioning_invariant(spark):
    """The capped exemplar SET is a pure function of the violation
    values: local-top-k union global-rank must pick identical rows
    whatever the input partitioning."""
    from anomaly_detection_toolkit_spark.plans.checks import VIOLATION_SCHEMA
    from anomaly_detection_toolkit_spark.plans.runner import cap_violations

    rows = [
        (
            "chk",
            "warning" if i % 3 else "error",
            "w",
            f"img-{i:04d}",
            i % 4,
            str(i),
            None,
            "m",
        )
        for i in range(500)
    ]
    base = spark.createDataFrame(rows, VIOLATION_SCHEMA)
    got = {
        n: sorted(map(tuple, cap_violations(base.repartition(n), 7).collect()))
        for n in (1, 13)
    }
    assert got[1] == got[13]
    assert len(got[1]) == 4 * 7
    # errors sort ahead of warnings in every cell's exemplars
    by_cell = {}
    for t in got[1]:
        by_cell.setdefault(t[4], []).append(t[1])
    for levels in by_cell.values():
        assert levels == sorted(levels)  # 'error' < 'warning'


def test_clean_table_auto_switches_join(spark):
    """Systematically broken ingest (30% bad rows): under
    broadcast='auto' the anti-join must DEGRADE to a shuffle join
    once the id side exceeds the adaptive broadcast threshold,
    instead of OOMing on a forced broadcast — and still remove
    exactly the flagged rows. (Threshold shrunk for the test so the
    3k-id side trips it; production threshold is
    spark.sql.adaptive.autoBroadcastJoinThreshold, 10 MB default.)"""
    from anomaly_detection_toolkit_spark.plans import runner as R

    fact = spark.range(10_000).select(
        F.concat(F.lit("img_"), F.col("id").cast("string")).alias("image_id"),
        F.col("id").alias("payload"),
    )
    bad = spark.range(10_000).filter(F.col("id") % 10 < 3).select(
        F.concat(F.lit("img_"), F.col("id").cast("string")).alias("entity_id")
    )
    keys = (
        ("spark.sql.autoBroadcastJoinThreshold", "1024"),
        ("spark.sql.adaptive.autoBroadcastJoinThreshold", "1024"),
    )
    prev = {k: spark.conf.get(k, None) for k, _ in keys}
    for k, v in keys:
        spark.conf.set(k, v)
    try:
        out = R.clean_table(fact, bad, entity_col="image_id")
        # collect() executes OUT's own plan so the adaptive plan we
        # inspect below is the finalized one
        assert len(out.collect()) == 7_000
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "LeftAnti" in plan
        assert "BroadcastExchange" not in plan  # shuffle path taken
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_repeat_validation_run_reuses_generated_code(spark, tmp_path):
    """A second plan-identical validation run in one session must find
    its whole-stage-codegen classes in the codegen cache. A default
    suite run generates ~200 classes; at Spark's default cache size
    (100, an LRU) the repeat run cycled through it with no hit and
    recompiled ~199 of them. The slack covers AQE picking a different
    join for a few stages."""
    from anomaly_detection_toolkit_spark.plans.runner import run_validation_job
    from anomaly_detection_toolkit_spark.sources import images

    src = str(tmp_path / "imgs")
    images.write_images(spark, src, 300, n_parts=3)
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    # two fresh output dirs: both runs get run_seq 0, so their plans
    # (sink lineage literals included) are identical
    run_validation_job(spark, src, str(tmp_path / "out1")).unpersist(blocking=True)
    before = compiles.getCount()
    run_validation_job(spark, src, str(tmp_path / "out2")).unpersist(blocking=True)
    assert compiles.getCount() - before <= 10
