"""local_rows_df: value fidelity + the JVM-only plan property.

The whole point of ``functions/localrel.py`` is that small
driver-known tables must NOT become pickled Python RDDs (4.9s per
action for the coalesced verdict grid — BENCH/BASELINE.md round 3).
These tests pin both the values (exact double round-trip through the
Arrow table, NaN kept apart from NULL) and the plan (a LocalTableScan,
no ExistingRDD / Python scan node), at a few rows and at the size of a
large run's metric rows.
"""

from __future__ import annotations

import math

import pytest

from anomaly_detection_toolkit_spark.functions.localrel import local_rows_df

ROW_COUNTS = (3, 60_000)


def test_exact_value_round_trip(spark):
    base = [
        (0, "a", 0.1 + 0.2, None),
        (2**60, 'quote " and é', 1e-300, -1.5),
        (-7, "", 12345.6789, 0.0),
    ]
    for n in ROW_COUNTS:
        rows = [(i + b[0], b[1], b[2] / (i + 1), b[3])
                for i, b in ((i, base[i % 3]) for i in range(n))]
        df = local_rows_df(spark, rows, "i bigint, s string, d double, e double")
        assert [tuple(r) for r in df.collect()] == rows, n
        assert [f.simpleString() for f in df.schema.fields] == [
            "i:bigint",
            "s:string",
            "d:double",
            "e:double",
        ]


def test_non_finite_fallback(spark):
    """NaN and ±inf come back as themselves, and NaN stays apart from
    NULL (the pandas route would turn it into NULL)."""
    vals = [float("nan"), float("inf"), float("-inf"), None, 1.0]
    for n in ROW_COUNTS:
        df = local_rows_df(spark, [(vals[i % 5],) for i in range(n)], "x double")
        got = [r[0] for r in df.collect()]
        assert len(got) == n
        for i, g in enumerate(got):
            assert math.isnan(g) if i % 5 == 0 else g == vals[i % 5], (n, i, g)


def test_out_of_range_value_raises(spark):
    import pyarrow as pa

    with pytest.raises(pa.ArrowInvalid):
        local_rows_df(spark, [(2**40,)], "x int")


def test_empty_rows(spark):
    df = local_rows_df(spark, [], "x int, y string")
    assert df.count() == 0
    assert df.columns == ["x", "y"]


def test_plan_has_no_python_rdd_scan(spark):
    """A LocalTableScan whether Arrow execution is on or off."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    try:
        for arrow in ("true", "false"):
            spark.conf.set(key, arrow)
            df = local_rows_df(spark, [(p, f"c{p%7}") for p in range(224)],
                               "part int, check string")
            plan = df._jdf.queryExecution().executedPlan().toString()
            # a pickled-RDD relation shows up as "Scan ExistingRDD"
            assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
            assert df.count() == 224
    finally:
        spark.conf.set(key, prev)


def test_runner_grid_is_jvm_local(spark, sf_unit):
    """The suite verdict grid (the original 4.9s/action offender) must
    come out of run_suite as a JVM-local relation."""
    from anomaly_detection_toolkit_spark.plans.checks import (
        ColumnStatsCheck,
        UniquenessCheck,
    )
    from anomaly_detection_toolkit_spark.plans.runner import run_suite
    from pyspark.sql import functions as F

    df = (
        spark.read.parquet(f"{sf_unit}/documents.parquet")
        .select(
            F.col("doc_id").cast("string").alias("doc_key"),
            (F.col("doc_id") % 4).cast("int").alias("part"),
            F.length("text").cast("bigint").alias("n_chars"),
        )
    )
    result = run_suite(
        df,
        [
            ColumnStatsCheck({"n_chars": {"max_null_rate": 0.0}}),
            UniquenessCheck("doc_key", entity_col="doc_key"),
        ],
    )
    plan = result.verdicts._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    grid = {(r["part"], r["check"]) for r in result.verdicts.collect()}
    assert grid == {
        (p, c) for p in range(4) for c in ("column_stats", "uniqueness_doc_key")
    }
    result.unpersist()


def _create_dataframe_calls(source: str) -> list[int]:
    """Lines of ``source`` that call ``createDataFrame``."""
    import ast

    return [
        node.lineno
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call)
        and getattr(node.func, "attr", getattr(node.func, "id", None))
        == "createDataFrame"
    ]


def test_package_has_one_literal_table_path():
    """Every driver-built table of the package goes through
    ``local_rows_df``: a ``createDataFrame`` call anywhere else (on a
    list, a pickled Python RDD) fails."""
    from pathlib import Path

    assert _create_dataframe_calls("spark.createDataFrame([], 'x int')")
    assert not _create_dataframe_calls(
        "local_rows_df(spark, [], 'x int')  # not createDataFrame(rows)"
    )
    repo = Path(__file__).resolve().parent.parent
    pkg = repo / "anomaly_detection_toolkit_spark"
    offenders = [
        f"{p.relative_to(repo)}:{line}"
        for p in pkg.rglob("*.py")
        if p != pkg / "functions" / "localrel.py"
        for line in _create_dataframe_calls(p.read_text())
    ]
    assert not offenders, offenders
