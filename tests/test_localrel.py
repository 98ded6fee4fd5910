"""local_rows_df: value fidelity + the JVM-only plan property.

The whole point of ``functions/localrel.py`` is that small
driver-known tables must NOT become pickled Python RDDs (4.9s per
action for the coalesced verdict grid — BENCH/BASELINE.md round 3).
These tests pin both the values (exact double round-trip through the
from_json literal) and the plan (no ExistingRDD / Python scan node).
"""

from __future__ import annotations

import math

from anomaly_detection_toolkit_spark.functions.localrel import local_rows_df


def test_exact_value_round_trip(spark):
    rows = [
        (0, "a", 0.1 + 0.2, None),
        (2**60, 'quote " and é', 1e-300, -1.5),
        (-7, "", 12345.6789, 0.0),
    ]
    df = local_rows_df(spark, rows, "i bigint, s string, d double, e double")
    assert [tuple(r) for r in df.collect()] == rows
    assert [f.simpleString() for f in df.schema.fields] == [
        "i:bigint",
        "s:string",
        "d:double",
        "e:double",
    ]


def test_non_finite_fallback(spark):
    vals = [float("nan"), float("inf"), float("-inf"), 1.0]
    df = local_rows_df(spark, [(v,) for v in vals], "x double")
    got = [r[0] for r in df.collect()]
    assert math.isnan(got[0])
    assert got[1:] == vals[1:]


def test_empty_rows(spark):
    df = local_rows_df(spark, [], "x int, y string")
    assert df.count() == 0
    assert df.columns == ["x", "y"]


def test_plan_has_no_python_rdd_scan(spark):
    df = local_rows_df(spark, [(p, f"c{p%7}") for p in range(224)],
                       "part int, check string")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # a pickled-RDD relation shows up as "Scan ExistingRDD"; the
    # literal form must stay a Range/Generate (or folded LocalRelation)
    assert "ExistingRDD" not in plan, plan
    assert df.count() == 224


def test_rows_past_the_literal_bound_become_a_scan(spark, monkeypatch):
    """Past ``MAX_LITERAL_ROWS`` the rows go through createDataFrame (a
    scan spread over the cluster, not one task parsing one literal),
    with the same values, NaN and NULL included."""
    from anomaly_detection_toolkit_spark.functions import localrel

    rows = [(p, f"m{p % 3}", p / 7, None) for p in range(40)]
    rows[5] = (5, "m2", float("nan"), 1.5)
    ddl = "part int, metric string, value double, e double"
    lit = local_rows_df(spark, rows, ddl)
    monkeypatch.setattr(localrel, "MAX_LITERAL_ROWS", len(rows) - 1)
    scan = local_rows_df(spark, rows, ddl)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan
    assert scan.schema == lit.schema
    key = lambda r: r[0]  # noqa: E731
    got, want = sorted(scan.collect(), key=key), sorted(lit.collect(), key=key)
    assert math.isnan(got[5].value) and math.isnan(want[5].value)
    assert [r for r in got if r.part != 5] == [r for r in want if r.part != 5]
    assert tuple(got[5])[:2] + tuple(got[5])[3:] == (5, "m2", 1.5)


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
