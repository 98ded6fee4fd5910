"""Cross-run (temporal) drift: plans/history.py.

Golden math (numpy conventions), σ=0 / min-history guards, rolling
frame exclusivity, the violations projection, the run-lineage tagging
of the job sinks, and the one-shuffle plan shape.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from anomaly_detection_toolkit_spark import versioned as V
from anomaly_detection_toolkit_spark.plans import checks as C
from anomaly_detection_toolkit_spark.plans import runner as R
from anomaly_detection_toolkit_spark.plans.history import (
    history_drift,
    history_violations,
)
from anomaly_detection_toolkit_spark.sources import images

METRICS = "check string, part int, metric string, value double, run_seq long"


def _metrics(spark, rows):
    return spark.createDataFrame(rows, METRICS)


def test_global_mode_matches_numpy(spark):
    hist = [4.0, 7.0, 1.0, 9.0, 3.0, 6.0]
    cur = 20.0
    rows = [("stats", 0, "null_rate", v, i) for i, v in enumerate(hist)]
    rows.append(("stats", 0, "null_rate", cur, len(hist)))
    out = history_drift(
        _metrics(spark, rows), z_threshold=2.0, iqr_k=1.5, min_history=3
    ).collect()
    assert len(out) == 1
    r = out[0]
    a = np.array(hist)
    assert r["hist_n"] == len(hist)
    assert r["mu"] == pytest.approx(a.mean())
    assert r["sd"] == pytest.approx(a.std())  # population σ
    assert r["z"] == pytest.approx((cur - a.mean()) / a.std())
    q1, q3 = np.percentile(a, [25, 75])  # linear interpolation
    assert r["q1"] == pytest.approx(q1)
    assert r["q3"] == pytest.approx(q3)
    assert r["lo"] == pytest.approx(q1 - 1.5 * (q3 - q1))
    assert r["hi"] == pytest.approx(q3 + 1.5 * (q3 - q1))
    assert r["z_breach"] and r["iqr_breach"] and r["verdict"] == -1


def test_sigma_zero_guard_and_min_history(spark):
    rows = (
        # constant history, σ=0 → divide by 1 (the reference's guard):
        # z = value − mu = 2 < 3 → no z flag; IQR is degenerate so the
        # reference's iqr==0→1.0 guard gives fences [3.5, 6.5] and
        # value 7 still breaches
        [("a", 0, "m", 5.0, i) for i in range(4)]
        + [("a", 0, "m", 7.0, 4)]
        # only 2 history points → below min_history, never flags
        + [("b", 0, "m", 1.0, 2), ("b", 0, "m", 1.0, 3), ("b", 0, "m", 99.0, 4)]
        # cell absent from the current run → not scored
        + [("c", 0, "m", 1.0, 0)]
        # cell NEW in the current run (no history) → scored, unflagged
        + [("d", 0, "m", 42.0, 4)]
    )
    out = {r["check"]: r for r in history_drift(_metrics(spark, rows), min_history=3).collect()}
    assert set(out) == {"a", "b", "d"}
    assert out["a"]["sd"] == 0.0 and out["a"]["z"] == pytest.approx(2.0)
    assert not out["a"]["z_breach"] and out["a"]["iqr_breach"]
    assert out["a"]["verdict"] == -1
    assert out["b"]["verdict"] == 1 and out["b"]["z_breach"]  # flagged-but-gated
    assert out["d"]["hist_n"] == 0 and out["d"]["z"] is None
    assert out["d"]["verdict"] == 1


def test_rolling_mode_excludes_current_and_caps_window(spark):
    # regime change at run 6: the trailing-3 baseline [10,10,10] makes
    # run 6 an outlier; by run 9 the baseline is all-50s again
    vals = [10.0] * 6 + [50.0] * 4
    rows = [("a", 0, "m", v, i) for i, v in enumerate(vals)]
    out = {
        r["run_seq"]: r
        for r in history_drift(
            _metrics(spark, rows), rolling_window=3, min_history=3
        ).collect()
    }
    assert len(out) == len(vals)
    assert out[0]["hist_n"] == 0  # first run: empty frame, never itself
    assert out[2]["hist_n"] == 2
    assert all(out[i]["hist_n"] == 3 for i in range(3, 10))
    assert out[6]["verdict"] == -1  # change flags when it ARRIVES
    assert out[6]["mu"] == pytest.approx(10.0)  # frame excludes run 6
    assert out[9]["verdict"] == 1  # new regime absorbed after W runs
    # current_seq filter keeps only the newest run
    only = history_drift(
        _metrics(spark, rows), rolling_window=3, current_seq=9
    ).collect()
    assert [r["run_seq"] for r in only] == [9]


def test_violations_projection(spark):
    rows = [("stats", 2, "mean", float(v), i) for i, v in enumerate([1, 1, 1, 1, 80])]
    scored = history_drift(_metrics(spark, rows), min_history=3)
    v = history_violations(scored).collect()
    assert len(v) == 1
    r = v[0]
    assert r["check"] == "history_drift" and r["level"] == "warning"
    assert r["column"] == "mean" and r["entity_id"] == "stats" and r["part"] == 2
    assert "prior runs" in r["message"]
    # empty when nothing drifts
    calm = history_drift(
        _metrics(spark, [("s", 0, "m", 1.0, i) for i in range(5)]), min_history=3
    )
    assert history_violations(calm).count() == 0


def test_global_mode_is_one_shuffle(spark):
    rows = [("s", 0, "m", float(i), i) for i in range(6)]
    df = history_drift(_metrics(spark, rows), current_seq=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one groupBy aggregation, conditional (no history self-join):
    # exactly one exchange pair feeds partial→final aggregation
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_job_sinks_carry_run_lineage_and_history_scores(spark, tmp_path):
    """run_validation_job tags verdicts/violations/metrics with
    (run_seq, snapshot_id); two runs' metrics feed history_drift."""
    import shutil

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    images.write_images(spark, src, 400, n_parts=2)
    suite = [C.ColumnStatsCheck({"w": {"max_null_rate": 0.0}})]

    assert R.run_validation_job(spark, src, out, checks=suite, incremental=True)
    shutil.copytree(f"{src}/part=1", f"{src}/part=2")
    assert R.run_validation_job(spark, src, out, checks=suite, incremental=True)

    for sink in ("verdicts", "violations", "metrics"):
        cols = spark.read.parquet(f"{out}/{sink}").columns
        assert {"run_seq", "snapshot_id"} <= set(cols), sink
    m = spark.read.parquet(f"{out}/metrics")
    assert {r["run_seq"] for r in m.select("run_seq").distinct().collect()} == {0, 1}
    assert m.select("snapshot_id").distinct().count() == 2
    state = R.Ledger(f"{out}/_ledger").load()
    assert [run["run_seq"] for run in state["runs"]] == [0, 1]

    # run 1 validated only the appended part=2 → its cells have no
    # same-cell history (parts 0/1 are run 0) → scored but unflagged
    scored = history_drift(m, min_history=1).collect()
    assert {r["part"] for r in scored} == {2}
    assert all(r["hist_n"] == 0 and r["verdict"] == 1 for r in scored)


def test_schema_diff_pure():
    from anomaly_detection_toolkit_spark.plans.checks import schema_diff

    prev = {"a": "int", "b": "string", "c": "double"}
    cur = {"a": "bigint", "b": "string", "d": "binary"}
    assert schema_diff(prev, cur) == [
        ("a", "retyped", "int", "bigint"),
        ("c", "removed", "double", None),
        ("d", "added", None, "binary"),
    ]
    assert schema_diff(cur, cur) == []
    assert schema_diff({}, {"x": "int"}) == [("x", "added", None, "int")]


def test_schema_evolution_flags_undeclared_changes_across_runs(spark, tmp_path):
    """A second run whose input gained / retyped columns appends
    warning-level schema_evolution violations; run_seq stays monotonic
    across the (non-incremental) snapshot change."""
    src1 = str(tmp_path / "src1")
    src2 = str(tmp_path / "src2")
    out = str(tmp_path / "out")
    images.write_images(spark, src1, 300, n_parts=2)
    suite = [C.ColumnStatsCheck({"w": {"max_null_rate": 0.0}})]

    assert R.run_validation_job(spark, src1, out, checks=suite)
    v0 = spark.read.parquet(f"{out}/violations")
    assert v0.filter(F.col("check") == "schema_evolution").count() == 0

    # evolve the table: add a column, retype another
    df = spark.read.parquet(src1)
    df.withColumn("extra", F.lit(1)).withColumn(
        "h", F.col("h").cast("long")
    ).write.partitionBy("part").parquet(src2)
    assert R.run_validation_job(spark, src2, out, checks=suite)

    evo = (
        spark.read.parquet(f"{out}/violations")
        .filter(F.col("check") == "schema_evolution")
        .collect()
    )
    by_col = {r["column"]: r for r in evo}
    assert "extra" in by_col and "added" in by_col["extra"]["message"]
    assert "h" in by_col and "retyped" in by_col["h"]["message"]
    assert all(r["level"] == "warning" and r["run_seq"] == 1 for r in evo)
    # run history survived the snapshot change (monotonic run_seq)
    state = R.Ledger(f"{out}/_ledger").load()
    assert [run["run_seq"] for run in state["runs"]] == [0, 1]
    assert state["table_schema"]["extra"] == "int"
    # verdict grid unaffected: evolution is warning-level by design
    # and adds NO verdict cells (the declared SchemaCheck stays the
    # error gate)
    verd = spark.read.parquet(f"{out}/verdicts")
    assert verd.filter(F.col("check") == "schema_evolution").count() == 0


def test_quarantine_and_clean_table(spark, tmp_path):
    """Error-level row violations → distinct id list → LEFT ANTI
    cleaned table: the consumable 'only passing rows' output."""
    src = str(tmp_path / "src")
    images.write_images(spark, src, 400, n_parts=2)
    df = spark.read.parquet(src)
    result = R.run_suite(
        df,
        [
            C.UniquenessCheck("image_id", entity_col="image_id"),
            C.ReferentialCheck(),
        ],
    )
    ids = R.quarantine_ids(result.violations).collect()
    assert len(ids) > 0  # the generator plants dup-id / orphan defects
    id_set = {r["entity_id"] for r in ids}
    cleaned = R.clean_table(df, result.violations)
    assert cleaned.count() == df.filter(~F.col("image_id").isin(id_set)).count()
    assert cleaned.filter(F.col("image_id").isin(id_set)).count() == 0
    # warning-level violations must NOT quarantine by default: plant a
    # warning row whose entity id is otherwise clean and check the
    # level filter actually excludes it
    planted = spark.createDataFrame(
        [("demo", "warning", "w", "img_planted_warn", 0, "1", "t", "m")],
        C.VIOLATION_SCHEMA,
    )
    both = result.violations.unionByName(planted)
    assert R.quarantine_ids(both).count() == len(ids)
    with_warn = R.quarantine_ids(both, levels=("error", "warning"))
    assert with_warn.count() == len(ids) + 1
    assert with_warn.filter(F.col("entity_id") == "img_planted_warn").count() == 1
    # id-table input path accepted too (extra columns tolerated)
    pre = R.quarantine_ids(result.violations).withColumn("reason", F.lit("x"))
    assert R.clean_table(df, pre).count() == cleaned.count()
    result.unpersist()


def test_clean_table_broadcasts_the_id_side(spark, tmp_path):
    """Sparse defects under broadcast='auto': AQE's runtime stats see
    the tiny id side and broadcast — the 10^12-row fact side must NOT
    shuffle. (Final adaptive plan, so the choice is from ACTUAL
    sizes, not the pre-execution estimate.)"""
    src = str(tmp_path / "src")
    images.write_images(spark, src, 200, n_parts=2)
    df = spark.read.parquet(src)
    one_id = df.select("image_id").orderBy("image_id").first()[0]
    ids = spark.createDataFrame([(one_id,)], "entity_id string")
    out = R.clean_table(df, ids)
    # collect() executes OUT's own plan (count() would wrap it in a
    # fresh aggregate execution and leave this one un-finalized)
    assert len(out.collect()) == 199
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "LeftAnti" in plan and "Broadcast" in plan
    assert "Exchange hashpartitioning" not in plan.split("Broadcast")[0]


def test_report_tool_renders_run_history(spark, tmp_path):
    """tools/report.py reads only the tiny sinks + ledger (no Spark)
    and renders per-run verdict trends."""
    import os
    import shutil
    import subprocess
    import sys
    from pathlib import Path

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    images.write_images(spark, src, 300, n_parts=2)
    suite = [C.UniquenessCheck("image_id", entity_col="image_id")]
    assert R.run_validation_job(spark, src, out, checks=suite, incremental=True)
    shutil.copytree(f"{src}/part=1", f"{src}/part=2")
    assert R.run_validation_job(spark, src, out, checks=suite, incremental=True)

    repo = Path(__file__).resolve().parent.parent
    res = subprocess.run(
        [sys.executable, str(repo / "tools" / "report.py"), out],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr
    assert "run   1" in res.stdout and "run   0" in res.stdout
    assert "uniqueness_image_id" in res.stdout
    assert "== ledger ==" in res.stdout and "runs 2" in res.stdout
    # schema map was recorded by the second run
    assert "schema cols 0" not in res.stdout
    # one line per sink: its published version's files and bytes, as
    # the listing has them (verdicts and metrics: one file per run)
    sinks = res.stdout.split("== sinks ==\n")[1].split("== ledger")[0]
    listed = {line.split()[0]: line.split() for line in sinks.splitlines()}
    assert set(listed) == {"verdicts", "violations", "metrics"}
    for name, (_, version, _, n_files, _, n_bytes) in listed.items():
        real = os.path.realpath(f"{out}/{name}")
        assert version == os.path.basename(real) == f"{name}.v1"
        sizes = [
            os.path.getsize(f"{real}/{f}")
            for f in os.listdir(real) if f.endswith(".parquet")
        ]
        assert (int(n_files), int(n_bytes)) == (len(sizes), sum(sizes)), name
        assert name == "violations" or len(sizes) == 2, name


def test_reserved_run_seq_never_reused_after_crash(spark, tmp_path):
    """A job that dies between sink writes and ledger.record leaves
    its reserved run_seq burned — the next run gets a FRESH seq, so
    sink rows can never collide (history would double-count a run)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    images.write_images(spark, src, 200, n_parts=2)
    suite = [C.ColumnStatsCheck({"w": {}})]
    assert R.run_validation_job(spark, src, out, checks=suite)
    led = R.Ledger(f"{out}/_ledger")
    assert led.load()["next_run_seq"] == 1
    # simulate a crashed job: seq reserved, sinks maybe written,
    # record() never reached
    assert led.reserve_run_seq() == 1
    # force a re-run (snapshot "change") and check the new run skips
    # the burned seq
    state = led.load()
    state["snapshot_id"] = "stale"
    led.save(state)
    assert R.run_validation_job(spark, src, out, checks=suite)
    m = spark.read.parquet(f"{out}/metrics")
    seqs = sorted(
        r["run_seq"] for r in m.select("run_seq").distinct().collect()
    )
    assert seqs == [0, 2]  # seq 1 burned, not reused
    assert led.load()["runs"][-1]["run_seq"] == 2


def test_schema_only_change_is_recorded_without_a_validation_run(spark, tmp_path):
    """Metadata-only evolution (Iceberg ALTER TABLE: no data commit,
    empty todo) still emits the warning rows and advances the
    recorded schema, without touching the planner's bookkeeping; a
    snapshot advance that changes no partition (Iceberg ``replace``)
    moves the ledger to the new snapshot. Both go through ``run_job``'s
    one record path."""
    import os

    out = str(tmp_path / "out")
    led = R.Ledger(f"{out}/_ledger")
    state = led.load()
    state["snapshot_id"] = "snapA"
    state["completed_parts"] = [0, 1]
    state["table_schema"] = {"a": "int", "b": "string", "part": "int"}
    led.save(state)

    old = spark.createDataFrame([(1, "x", 0), (2, "y", 1)], "a int, b string, part int")
    new = spark.createDataFrame(
        [(1, "x", 2.0, 0), (2, "y", 3.0, 1)], "a bigint, b string, c double, part int"
    )

    def job(df, snap, changed=lambda state: None):
        return R.run_job(
            spark, df, snap, out, changed, checks=[C.SchemaCheck({"a": "int"})]
        )

    # no diff → no-op, nothing written
    assert job(old, "snapA") is None
    assert not os.path.isdir(f"{out}/violations")
    assert led.load()["runs"] == []

    # a retype + an add → violations appended with a reserved seq;
    # snapshot/completed_parts untouched
    assert job(new, "snapA") is None
    v = spark.read.parquet(f"{out}/violations").collect()
    assert {r["column"] for r in v} == {"a", "c"}
    assert all(r["check"] == "schema_evolution" and r["run_seq"] == 0 for r in v)
    state = led.load()
    assert state["snapshot_id"] == "snapA"
    assert state["completed_parts"] == [0, 1]
    assert state["table_schema"]["c"] == "double"
    assert state["runs"][-1]["parts"] == []

    # a snapshot advance that changes no partition: nothing to
    # validate, but the ledger moves to the new snapshot, keeping the
    # completed parts; a rerun at it is a no-op
    assert job(new, "snapB", lambda state: set()) is None
    state = led.load()
    assert state["snapshot_id"] == "snapB"
    assert state["completed_parts"] == [0, 1]
    assert [(r["run_seq"], r["snapshot_id"], r["parts"]) for r in state["runs"]] == [
        (0, "snapA", []),
        (1, "snapB", []),
    ]
    assert job(new, "snapB") is None
    assert led.load()["runs"] == state["runs"]
    assert spark.read.parquet(f"{out}/violations").count() == len(v)


def test_history_drift_drops_pre_lineage_rows(spark):
    """NULL run_seq rows (sinks written before lineage existed) are
    excluded from both modes — in rolling mode they'd otherwise enter
    trailing frames in nondeterministic order."""
    rows = [("s", 0, "m", 999.0, None)] + [
        ("s", 0, "m", float(10 + i), i) for i in range(5)
    ]
    out = history_drift(_metrics(spark, rows), min_history=1).collect()
    assert len(out) == 1 and out[0]["hist_n"] == 4  # the NULL row is gone
    roll = history_drift(_metrics(spark, rows), rolling_window=3).collect()
    assert len(roll) == 5
    assert max(r["hist_n"] for r in roll) == 3
    assert all(r["mu"] is None or r["mu"] < 100 for r in roll)  # 999 never enters


def test_compact_sinks_preserves_rows_and_reduces_files(spark, tmp_path):
    """Append-mode sinks compact to one file per sink with identical
    row sets; mergeSchema keeps pre-lineage rows; report still reads."""
    import os
    import shutil
    import subprocess
    import sys
    from pathlib import Path

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    images.write_images(spark, src, 300, n_parts=2)
    suite = [C.UniquenessCheck("image_id", entity_col="image_id")]
    assert R.run_validation_job(spark, src, out, checks=suite, incremental=True)
    shutil.copytree(f"{src}/part=1", f"{src}/part=2")
    assert R.run_validation_job(spark, src, out, checks=suite, incremental=True)

    def rows(sink):
        return sorted(
            map(str, spark.read.option("mergeSchema", "true")
                .parquet(f"{out}/{sink}").collect())
        )

    def files(sink):
        return sum(
            1
            for _, _, fs in os.walk(f"{out}/{sink}")
            for f in fs
            if f.endswith(".parquet")
        )

    before = {s: rows(s) for s in ("verdicts", "violations", "metrics")}
    assert all(files(s) > 1 for s in before)  # two runs appended

    done = R.compact_sinks(spark, out)
    assert set(before) <= set(done)
    for s, snapshot in before.items():
        assert rows(s) == snapshot, s
        assert files(s) == 1, s
        assert not os.path.isdir(f"{out}/{s}.bak")
        assert not os.path.isdir(f"{out}/{s}.compact.tmp")

    # steady state: sink paths are now symlinks to versioned data
    # dirs; a further append + second compaction swaps via one atomic
    # symlink rename (no absent-path window). The superseded version
    # dir is retained ONE cycle (in-flight readers may still hold it)
    # and reclaimed by the next swap.
    assert all(os.path.islink(f"{out}/{s}") for s in before)
    shutil.copytree(f"{src}/part=1", f"{src}/part=3")
    assert R.run_validation_job(spark, src, out, checks=suite, incremental=True)
    before2 = {s: rows(s) for s in ("verdicts", "violations", "metrics")}
    done2 = R.compact_sinks(spark, out)
    for s, snapshot in before2.items():
        assert done2[s][0] >= 0, s
        assert rows(s) == snapshot, s
        assert files(s) == 1, s
        assert os.path.islink(f"{out}/{s}"), s
        # the symlink resolves to a live data dir; both versions may
        # exist transiently (deferred delete), never zero
        assert os.path.isdir(os.path.realpath(f"{out}/{s}")), s

    repo = Path(__file__).resolve().parent.parent
    res = subprocess.run(
        [sys.executable, str(repo / "tools" / "report.py"), out],
        capture_output=True, text=True, timeout=120,
    )
    assert res.returncode == 0 and "run   1" in res.stdout


def test_orphan_run_seq_rows_excluded_from_baseline(spark):
    """A crashed job's sink rows (burned run_seq, never recorded in
    the ledger) must not count as a run in the history baseline: with
    the orphan included the constant-history cell would flag; with it
    filtered the baseline is clean and the verdict flips."""
    from anomaly_detection_toolkit_spark.plans.history import (
        restrict_to_recorded_runs,
    )

    rows = (
        # recorded runs 0..4: constant 5.0; current run 5: 5.0 too
        [("s", 0, "m", 5.0, i) for i in range(5)]
        + [("s", 0, "m", 5.0, 5)]
        # orphan seq 9 from a crashed job: wild value
        + [("s", 0, "m", 500.0, 9)]
    )
    m = _metrics(spark, rows)
    recorded = [0, 1, 2, 3, 4, 5]
    clean = restrict_to_recorded_runs(m, recorded)
    out = history_drift(clean, min_history=3).collect()
    assert len(out) == 1
    r = out[0]
    assert r["run_seq"] == 5 and r["hist_n"] == 5
    assert r["verdict"] == 1  # calm — the orphan never polluted it
    # counterfactual: unfiltered, the orphan IS the current run and
    # drifts wildly against the recorded history
    dirty = history_drift(m, min_history=3).collect()[0]
    assert dirty["run_seq"] == 9 and dirty["verdict"] == -1
    # no ledger (empty seq list) → filter is a no-op
    assert restrict_to_recorded_runs(m, []).count() == m.count()


def test_compact_sinks_skips_on_concurrent_append(spark, tmp_path):
    """A file appended between the compaction read and the swap (what
    a concurrent validation run does) must make compaction SKIP that
    sink — keeping every file — rather than silently dropping the new
    rows in the directory swap."""
    import os
    import shutil

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    images.write_images(spark, src, 200, n_parts=2)
    suite = [C.UniquenessCheck("image_id", entity_col="image_id")]
    assert R.run_validation_job(spark, src, out, checks=suite)

    def inject(sink):
        if sink == "metrics":
            # simulate a concurrent run's append: copy an existing
            # committed parquet file under a fresh name
            d = f"{out}/metrics"
            srcf = next(
                f for f in os.listdir(d) if f.endswith(".parquet")
            )
            shutil.copy(f"{d}/{srcf}", f"{d}/part-concurrent.parquet")

    n_files_pre = None
    done = R.compact_sinks(spark, out, _pre_swap_hook=inject)
    rows, n_files = done["metrics"]
    assert rows == -1  # skipped
    # nothing lost, nothing swapped: injected file still present
    d = f"{out}/metrics"
    assert "part-concurrent.parquet" in os.listdir(d)
    assert not os.path.isdir(f"{d}.compact.tmp")
    assert not os.path.isdir(f"{d}.bak")
    # other sinks compacted normally
    assert done["verdicts"][0] >= 0


def test_compact_sinks_rejects_plain_directory_sink(spark, tmp_path):
    """A sink written before the versioned layout (a plain directory)
    fails compaction up front with a named error naming the sink and
    the remedy: no sink is compacted and no version is left behind.
    After the remedy the same output dir compacts."""
    import os

    out = str(tmp_path / "out")
    R.append_sinks(out, {"verdicts": spark.range(3)})
    spark.range(5).write.parquet(f"{out}/metrics")  # the old layout

    with pytest.raises(R.UnversionedSinkError, match="'metrics'") as err:
        R.compact_sinks(spark, out)
    assert f"ln -s metrics.v1 {out}/metrics" in str(err.value)
    assert not any(f.startswith("metrics.v") for f in os.listdir(out))
    assert os.readlink(f"{out}/verdicts") == "verdicts.v1"
    assert not os.path.exists(f"{out}/verdicts.v2")

    os.rename(f"{out}/metrics", f"{out}/metrics.v1")
    os.symlink("metrics.v1", f"{out}/metrics")
    done = R.compact_sinks(spark, out)
    assert done["verdicts"][0] == 3 and done["metrics"][0] == 5


def test_ledger_read_modify_write_holds_the_lock(tmp_path):
    """Two jobs on one output dir must never reserve the same run_seq:
    while another writer holds the ledger's lock, a reservation fails
    loudly instead of reading a state about to be overwritten."""
    led = R.Ledger(str(tmp_path / "out" / "_ledger"))
    assert led.reserve_run_seq() == 0
    with V.lock(led.dir):
        with pytest.raises(V.ConcurrentWriteError):
            led.reserve_run_seq()
    assert led.reserve_run_seq() == 1  # the failed attempt burned nothing


def test_sinks_publish_atomically_and_writers_exclude(spark, tmp_path, monkeypatch):
    """Sinks are published links from their first append, so even the
    first compaction is one atomic flip. Each sink holds exactly the
    rows the run reported, and the metrics of two checks (three
    partitions) land as one file, as the verdicts do. A second
    writer raises, and a compaction that dies after writing its
    version but before publishing leaves the old version served and
    the lock free; the next compaction sweeps the orphan."""
    import os

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    images.write_images(spark, src, 200, n_parts=2)
    suite = [C.UniquenessCheck("image_id"), C.ColumnStatsCheck({"w": {"min": 1}})]
    res = R.run_validation_job(spark, src, out, checks=suite)
    assert res
    sinks = ("verdicts", "violations", "metrics")
    assert all(os.readlink(f"{out}/{s}") == f"{s}.v1" for s in sinks)
    for s in sinks:
        files = [f for f in os.listdir(f"{out}/{s}") if f.endswith(".parquet")]
        assert s == "violations" or len(files) == 1, (s, files)
        reported = getattr(res, s)
        written = spark.read.parquet(f"{out}/{s}").select(*reported.columns)
        assert sorted(map(str, written.collect())) == sorted(
            map(str, reported.collect())
        ), s
    assert res.violations.count() > 0
    rows = spark.read.parquet(f"{out}/metrics").count()

    with V.lock(f"{out}/metrics"):
        with pytest.raises(V.ConcurrentWriteError):
            R.compact_sinks(spark, out, sinks=("metrics",))
        before = sorted(os.listdir(f"{out}/verdicts"))
        with pytest.raises(V.ConcurrentWriteError):  # an append fails before any row
            R.append_sinks(out, {"verdicts": spark.range(1), "metrics": spark.range(1)})
        assert sorted(os.listdir(f"{out}/verdicts")) == before

    def crash(path, version):
        raise RuntimeError("killed before publish")

    monkeypatch.setattr(V, "publish", crash)
    with pytest.raises(RuntimeError, match="killed"):
        R.compact_sinks(spark, out, sinks=("metrics",))
    monkeypatch.undo()
    assert os.readlink(f"{out}/metrics") == "metrics.v1"
    assert os.path.isdir(f"{out}/metrics.v2")  # the orphan
    with V.lock(f"{out}/metrics"):  # released despite the crash
        pass
    old = V.resolve(f"{out}/metrics")  # a reader mid-read across the flip
    assert R.compact_sinks(spark, out, sinks=("metrics",))["metrics"][0] == rows
    assert os.readlink(f"{out}/metrics") == "metrics.v3"
    assert not os.path.exists(f"{out}/metrics.v2")
    assert spark.read.parquet(old).count() == rows
    assert spark.read.parquet(f"{out}/metrics").count() == rows
