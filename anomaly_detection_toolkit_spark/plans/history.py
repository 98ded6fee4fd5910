"""Cross-RUN (temporal) drift: score the current validation run's
metrics against the persisted metrics history of PRIOR runs.

The suite's DriftCheck compares partitions *within* one run; this
module closes the other axis the north star implies — "has today's
snapshot drifted from the last N runs?" — by applying the toolkit's
anomaly conventions (z-score with population σ and the σ=0→1 guard,
``/root/reference/src/anomaly_detection_toolkit/statistical.py:68-70``;
1.5·IQR fences with linearly-interpolated quartiles,
``statistical.py:129-130``) to the run-history time series of every
``(check, part, metric)`` cell in the metrics sink.

Inputs are the engine's own METRICS_SCHEMA rows
(``plans/checks.py:38``) tagged with the ``run_seq``/``snapshot_id``
lineage columns ``run_validation_job`` appends at the sink
(``plans/runner.py``). Wire-up: ``validate.py --history-drift``.

Scale story (10^12-row tables, 1000 executors):
- the metrics sink holds AGGREGATED rows — (runs × parts × metrics ×
  checks), millions of rows for a 10^6-partition table with years of
  daily runs, never input-sized;
- global mode is ONE scan + ONE shuffle: a single
  ``groupBy(check, part, metric)`` computes the history moments,
  exact quartiles AND the current run's value via conditional
  aggregation (``FILTER``-style ``when`` columns) — no self-join of
  history against current, nothing driver-side but the max-run-seq
  lookup;
- rolling mode is a window over the same keys ordered by ``run_seq``
  with a trailing ``[-W, -1]`` frame — the shuffle carries the same
  tiny cell grid.

Cross-engine exactness (the oracle pair
``history_drift_events`` in ``entry_suite.py``): when metric values
are integer-valued doubles within 2^53, every aggregate here
(count / avg / avg-of-squares / linear-interpolated percentile) is
order-independent and bit-identical between Spark and DuckDB, so z
and the fences hash-match with no ``round()`` hazard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from anomaly_detection_toolkit_spark.plans.checks import _v, _z_and_fences

KEYS = ["check", "part", "metric"]


def history_drift(
    metrics: DataFrame,
    *,
    run_col: str = "run_seq",
    current_seq: int | None = None,
    z_threshold: float = 3.0,
    iqr_k: float = 1.5,
    min_history: int = 3,
    rolling_window: int | None = None,
) -> DataFrame:
    """Score metric cells against their own run history.

    Global mode (default): every ``(check, part, metric)`` cell of the
    CURRENT run (``current_seq``, default = max ``run_col`` present) is
    scored against the population moments and quartiles of ALL prior
    runs' values for that cell.

    Rolling mode (``rolling_window=W``): EVERY run's cell is scored
    against its trailing ``W`` predecessors (frame ``[-W, -1]`` — the
    scored value is never part of its own baseline, unlike the
    within-run DriftCheck rolling mode which follows pandas' rolling
    conventions); pass ``current_seq`` to keep only the newest run's
    rows. Population σ in both modes, with the reference's σ=0→1
    guard.

    Output: one row per scored cell —
    ``check part metric run_seq value hist_n mu sd z q1 q3 lo hi
    z_breach iqr_breach verdict`` with the reference's -1 = drifted /
    +1 = normal verdict encoding. Cells with ``hist_n < min_history``
    never flag (insufficient evidence; ``hist_n`` is in the output so
    callers can surface them separately).
    """
    v = F.col("value")
    # rows without run lineage (sinks written before the run_seq
    # columns existed) can't be placed on the run axis: drop them
    # EXPLICITLY. In rolling mode especially, NULL order keys would
    # sort first in an arbitrary mutual order and leak
    # nondeterministically into trailing frames (the repo's
    # total-order window rule).
    metrics = metrics.filter(F.col(run_col).isNotNull())
    if rolling_window is None:
        if current_seq is None:
            # driver-side max over the tiny aggregated metrics table
            current_seq = metrics.agg(F.max(run_col)).first()[0]
            if current_seq is None:
                raise ValueError("metrics table is empty")
        cur = F.lit(current_seq)
        hist_v = F.when(F.col(run_col) < cur, v)
        scored = (
            metrics.groupBy(*KEYS)
            .agg(
                F.count(hist_v).alias("hist_n"),
                F.avg(hist_v).alias("mu"),
                F.avg(hist_v * hist_v).alias("msq"),
                F.percentile(hist_v, F.lit(0.25)).alias("q1"),
                F.percentile(hist_v, F.lit(0.75)).alias("q3"),
                F.max(F.when(F.col(run_col) == cur, v)).alias("value"),
                F.max((F.col(run_col) == cur).cast("int")).alias("has_cur"),
            )
            .filter(F.col("has_cur") == 1)
            .drop("has_cur")
            .withColumn("run_seq", cur.cast("long"))
        )
    else:
        w = int(rolling_window)
        if w < 1:
            raise ValueError("rolling_window must be >= 1")
        wspec = (
            Window.partitionBy(*KEYS).orderBy(run_col).rowsBetween(-w, -1)
        )
        scored = metrics.select(
            *KEYS,
            F.col(run_col).cast("long").alias("run_seq"),
            v.alias("value"),
            F.count(v).over(wspec).alias("hist_n"),
            F.avg(v).over(wspec).alias("mu"),
            F.avg(v * v).over(wspec).alias("msq"),
            F.percentile(v, F.lit(0.25)).over(wspec).alias("q1"),
            F.percentile(v, F.lit(0.75)).over(wspec).alias("q3"),
        )
        if current_seq is not None:
            scored = scored.filter(F.col("run_seq") == int(current_seq))

    sd = F.sqrt(F.greatest(F.col("msq") - F.col("mu") * F.col("mu"), F.lit(0.0)))
    z, lo, hi = _z_and_fences(
        F.col("value"), F.col("mu"), F.col("sd"), F.col("q1"), F.col("q3"),
        F.lit(float(iqr_k)),
    )
    out = (
        scored.withColumn("sd", sd)
        .withColumn("z", F.when(F.col("hist_n") > 0, z))
        .withColumn("lo", lo)
        .withColumn("hi", hi)
        .withColumn(
            "z_breach",
            F.coalesce(F.abs(F.col("z")) > F.lit(float(z_threshold)), F.lit(False)),
        )
        .withColumn(
            "iqr_breach",
            F.coalesce(
                (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")),
                F.lit(False),
            ),
        )
    )
    flagged = (
        (F.col("hist_n") >= int(min_history))
        & (F.col("z_breach") | F.col("iqr_breach"))
    )
    return out.withColumn(
        "verdict", F.when(flagged, F.lit(-1)).otherwise(F.lit(1)).cast("int")
    ).select(
        *KEYS,
        "run_seq",
        "value",
        "hist_n",
        "mu",
        "sd",
        "z",
        "q1",
        "q3",
        "lo",
        "hi",
        "z_breach",
        "iqr_breach",
        "verdict",
    )


def restrict_to_recorded_runs(metrics: DataFrame, run_seqs) -> DataFrame:
    """Drop sink rows whose ``run_seq`` the ledger never recorded.

    A crashed job can append sink rows tagged with a reserved-but-
    burned run_seq and die before ``Ledger.record`` — those partial
    rows must not count as a full run in every future history
    baseline. ``run_seqs`` = the ledger's recorded seqs (driver-side
    state, tiny). Empty ``run_seqs`` (no ledger — e.g. a sink
    assembled by hand) filters nothing."""
    seqs = sorted({int(s) for s in run_seqs})
    if not seqs:
        return metrics
    return metrics.filter(F.col("run_seq").isin(seqs))


def history_violations(
    scored: DataFrame, *, check_name: str = "history_drift"
) -> DataFrame:
    """Project flagged cells into the shared VIOLATION_SCHEMA
    (``plans/checks.py:34``): column = the source metric, entity_id =
    the source check that emitted it, message carries z / history
    size / the breach kind."""
    msg = F.format_string(
        "cross-run drift (%s) z=%.4f vs %d prior runs",
        F.when(F.col("z_breach") & F.col("iqr_breach"), F.lit("z+iqr"))
        .when(F.col("z_breach"), F.lit("z"))
        .otherwise(F.lit("iqr")),
        F.col("z"),
        F.col("hist_n"),
    )
    return scored.filter(F.col("verdict") == -1).select(
        *_v(
            check_name,
            "warning",
            F.col("metric"),
            F.col("check"),
            F.col("part"),
            F.round(F.col("value"), 4),
            F.format_string("lo=%.4f,hi=%.4f", F.col("lo"), F.col("hi")),
            msg,
        )
    )
