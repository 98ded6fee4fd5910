"""Validation checks over the north-star image+caption table.

Each check consumes the input DataFrame and emits:
- ``violations``: rows in a shared schema modeled on the reference's
  ``Alert`` record (``predictive_maintenance.py:37-48``: level,
  message, feature, value, threshold, entity, metadata → here:
  check, level, column, entity_id, part, value, threshold, message);
- ``metrics``: ``(check, part, metric, value)`` rows (part = -1 for
  global metrics), the per-partition lineage the ledger persists.

A failed check NEVER aborts the job — it yields violation/metric rows
(the reference's try/except→None semantics at
``predictive_maintenance.py:702-751`` re-expressed as data).

Scale notes are inline per check; the common theme: one wide
aggregation pass over the fact table per check, tiny result tables
afterwards, no driver-side loops over data.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from anomaly_detection_toolkit_spark.functions import codecs
from anomaly_detection_toolkit_spark.functions.localrel import local_rows_df

VIOLATION_SCHEMA = (
    "check string, level string, column string, entity_id string, "
    "part int, value string, threshold string, message string"
)
METRICS_SCHEMA = "check string, part int, metric string, value double"

V_COLS = ["check", "level", "column", "entity_id", "part", "value", "threshold", "message"]


def empty_violations(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], VIOLATION_SCHEMA)


@dataclass
class CheckOutput:
    violations: DataFrame
    metrics: DataFrame
    # caches the check created internally (tiny stats/grid tables);
    # the suite runner folds these into SuiteResult.cached so
    # result.unpersist() really releases everything the run holds
    cached: tuple = ()


class Check:
    name: str = "check"
    # True for checks that must see the ORIGINAL input including binary
    # payload columns; everything else receives the suite runner's
    # shared cached narrow projection (see runner.run_suite scan fusion)
    needs_full_input: bool = False

    def run(self, df: DataFrame) -> CheckOutput:
        raise NotImplementedError


def _v(check: str, level: str, column, entity_id, part, value, threshold, message) -> list[Column]:
    """Build the violation projection (all value-ish fields as strings)."""

    def s(x):
        if isinstance(x, Column):
            return x.cast("string")
        return F.lit(None).cast("string") if x is None else F.lit(str(x))

    return [
        F.lit(check).alias("check"),
        F.lit(level).alias("level"),
        s(column).alias("column"),
        s(entity_id).alias("entity_id"),
        (part if isinstance(part, Column) else F.lit(part)).cast("int").alias("part"),
        s(value).alias("value"),
        s(threshold).alias("threshold"),
        s(message).alias("message"),
    ]


def _z_and_fences(
    value: Column, mu: Column, sd: Column, q1: Column, q3: Column, k: Column
) -> tuple[Column, Column, Column]:
    """``(z, lo, hi)`` under the reference's conventions: z-score with
    the σ=0→1 guard (``ZScoreDetector``, ``statistical.py:23-29``) and
    ``q1 − k·IQR`` / ``q3 + k·IQR`` fences with the IQR=0→1 guard
    (``IQROutlierDetector.fit``, ``statistical.py:129-130``: constant
    data keeps a fence width of 1.0 instead of collapsing to zero).
    Callers choose σ (population or sample) and any NULL gating."""
    iqr_raw = q3 - q1
    iqr = F.when(iqr_raw == 0, F.lit(1.0)).otherwise(iqr_raw)
    z = (value - mu) / F.when(sd > 0, sd).otherwise(F.lit(1.0))
    return z, q1 - k * iqr, q3 + k * iqr


# ---------------------------------------------------------------------------
# Schema check
# ---------------------------------------------------------------------------


class SchemaCheck(Check):
    """Assert expected column names/types exist (driver-side: schema is
    metadata, not data). Analogue of ``base.py:95-109`` input coercion
    as a declarative contract."""

    name = "schema"
    needs_full_input = True  # validates the binary column's type too
    # (metadata-only: no scan happens either way)

    def __init__(self, expected: dict[str, str]):
        self.expected = expected

    def run(self, df: DataFrame) -> CheckOutput:
        spark = df.sparkSession
        actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        rows = []
        for col, typ in self.expected.items():
            if col not in actual:
                rows.append((self.name, "error", col, None, -1, None, typ, "missing column"))
            elif actual[col] != typ:
                rows.append(
                    (self.name, "error", col, None, -1, actual[col], typ, "type mismatch")
                )
        # literal relations, not pickled RDDs: these tiny tables ride
        # inside the suite's violations/metrics unions, and an RDD
        # member re-runs its Python deserialization on every union
        # action (~0.4s each; see functions/localrel.py)
        violations = local_rows_df(spark, rows, VIOLATION_SCHEMA)
        metrics = local_rows_df(
            spark,
            [(self.name, -1, "n_schema_violations", float(len(rows)))],
            METRICS_SCHEMA,
        )
        return CheckOutput(violations, metrics)


def schema_diff(
    prev: dict[str, str], cur: dict[str, str]
) -> list[tuple[str, str, str | None, str | None]]:
    """Diff two {column: simple-type} maps → ``(column, kind,
    prev_type, cur_type)`` rows, kind ∈ {added, removed, retyped}.

    The cross-RUN complement of SchemaCheck: SchemaCheck validates
    against a declared expectation, this detects UNDECLARED evolution
    between consecutive runs of the same table (the Iceberg
    schema-evolution events a petabyte table accrues silently).
    Metadata-only — no scan on either side."""
    out: list[tuple[str, str, str | None, str | None]] = []
    for col in sorted(set(prev) | set(cur)):
        if col not in cur:
            out.append((col, "removed", prev[col], None))
        elif col not in prev:
            out.append((col, "added", None, cur[col]))
        elif prev[col] != cur[col]:
            out.append((col, "retyped", prev[col], cur[col]))
    return out


def schema_evolution_violations(
    spark: SparkSession, prev: dict[str, str], cur: dict[str, str]
) -> DataFrame:
    """Warning-level VIOLATION_SCHEMA rows for every schema change vs
    the previous run (empty on no change). Warnings, not errors:
    evolution may be intentional — the declared-contract SchemaCheck
    stays the error-level gate."""
    rows = [
        ("schema_evolution", "warning", col, None, -1, ct, pt,
         f"column {kind} vs previous run")
        for col, kind, pt, ct in schema_diff(prev, cur)
    ]
    return local_rows_df(spark, rows, VIOLATION_SCHEMA)


# ---------------------------------------------------------------------------
# Column stats + constraints
# ---------------------------------------------------------------------------


class ColumnStatsCheck(Check):
    """Per-partition per-column profile + bound constraints.

    ONE ``groupBy(part)`` aggregation pass computes count / null-count
    / min / max / mean / stddev_pop for every constrained column
    (Catalyst fuses sibling aggregates into a single HashAggregate
    with map-side partials — the treeAggregate-style plan the north
    star asks for). The resulting stats table has n_parts rows;
    constraint evaluation runs on that tiny table.

    constraints: ``{col: {"max_null_rate": x, "min": lo, "max": hi}}``
    plus quantile bounds ``"p<NN>_min"`` / ``"p<NN>_max"`` (e.g.
    ``"p99_max": 4096`` fails a partition whose 99th-percentile width
    exceeds 4096). Quantiles are EXACT (``percentile``) by default;
    ``approx=True`` switches to ``percentile_approx`` (accuracy 10000)
    — a mergeable positional sketch whose partial states combine
    map-side like the other aggregates, the right trade at 10^12 rows
    where an exact per-partition sort-based percentile would dominate
    the pass.
    """

    name = "column_stats"

    def __init__(
        self,
        constraints: dict[str, dict[str, float]],
        approx: bool = False,
    ):
        self.constraints = constraints
        self.approx = approx

    @staticmethod
    def _quantile_tags(bounds: dict[str, float]) -> dict[str, float]:
        """{'p99': 0.99, ...} from bound keys like 'p99_min'/'p99_max'.

        Fractional percentiles are keyed with '_' in the generated
        column name ('p99.5' → stat column c__p99_5) because a dot in
        an F.col() reference parses as a nested-field access."""
        out: dict[str, float] = {}
        for key in bounds:
            m = re.fullmatch(r"(p(\d{1,2}(?:\.\d+)?))_(?:min|max)", key)
            if m:
                out[m.group(1)] = float(m.group(2)) / 100.0
        return out

    @staticmethod
    def _tag_col(tag: str) -> str:
        return tag.replace(".", "_")

    def _stats(self, df: DataFrame) -> DataFrame:
        aggs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
        for c, bounds in self.constraints.items():
            col = F.col(c).cast("double")
            aggs += [
                F.count(col).alias(f"{c}__nn"),
                F.min(col).alias(f"{c}__min"),
                F.max(col).alias(f"{c}__max"),
                F.avg(col).alias(f"{c}__mean"),
                F.stddev_pop(col).alias(f"{c}__std"),
            ]
            for tag, q in self._quantile_tags(bounds).items():
                agg = (
                    F.percentile_approx(col, F.lit(q), F.lit(10000))
                    if self.approx
                    else F.percentile(col, F.lit(q))
                )
                aggs.append(agg.alias(f"{c}__{self._tag_col(tag)}"))
        return df.groupBy("part").agg(*aggs)

    def run(self, df: DataFrame) -> CheckOutput:
        # tiny (n_parts rows); persisted so the metric/violation
        # projections below don't each re-run the input scan
        stats = self._stats(df).persist()
        # ONE inline/explode projection each for metrics and
        # violations, not one DataFrame per (column, metric/rule): the
        # per-DataFrame form analyzed ~25 plans per run (≈1.1s of
        # driver-side Catalyst work per suite invocation) and put ~25
        # InMemoryTableScan subtrees into the suite's union jobs
        metric_structs: list[Column] = []
        viol_structs: list[Column] = []
        for c, bounds in self.constraints.items():
            null_rate = (F.col("n_rows") - F.col(f"{c}__nn")) / F.col("n_rows")
            stat_map = {
                "null_rate": null_rate,
                "min": F.col(f"{c}__min"),
                "max": F.col(f"{c}__max"),
                "mean": F.col(f"{c}__mean"),
                "stddev": F.col(f"{c}__std"),
                "n_non_null": F.col(f"{c}__nn"),
            }
            for tag in self._quantile_tags(bounds):
                stat_map[tag] = F.col(f"{c}__{self._tag_col(tag)}")
            for metric, expr in stat_map.items():
                metric_structs.append(
                    F.struct(
                        F.lit(f"{c}.{metric}").alias("metric"),
                        expr.cast("double").alias("value"),
                    )
                )
            rules = [
                ("max_null_rate", null_rate, lambda v, b: v > F.lit(b)),
                ("min", F.col(f"{c}__min"), lambda v, b: v < F.lit(b)),
                ("max", F.col(f"{c}__max"), lambda v, b: v > F.lit(b)),
            ]
            for tag in self._quantile_tags(bounds):
                q_col = F.col(f"{c}__{self._tag_col(tag)}")
                rules += [
                    (f"{tag}_min", q_col, lambda v, b: v < F.lit(b)),
                    (f"{tag}_max", q_col, lambda v, b: v > F.lit(b)),
                ]
            for key, expr, breach in rules:
                if key in bounds:
                    # condition-gated struct: NULL when the bound
                    # holds, compacted away below (same rows as the
                    # old per-rule filter())
                    viol_structs.append(
                        F.when(
                            breach(expr, bounds[key]),
                            F.struct(
                                F.lit(c).alias("column"),
                                expr.cast("string").alias("value"),
                                F.lit(str(bounds[key])).alias("threshold"),
                                F.lit(f"{c} {key} breached").alias("message"),
                            ),
                        )
                    )
        metrics = stats.select(
            F.lit(self.name).alias("check"),
            F.col("part").cast("int"),
            F.inline(F.array(*metric_structs)),
        )
        spark = df.sparkSession
        if viol_structs:
            violations = stats.select(
                F.col("part").cast("int").alias("part"),
                F.explode(F.array_compact(F.array(*viol_structs))).alias("s"),
            ).select(
                F.lit(self.name).alias("check"),
                F.lit("error").alias("level"),
                F.col("s.column").alias("column"),
                F.lit(None).cast("string").alias("entity_id"),
                F.col("part"),
                F.col("s.value").alias("value"),
                F.col("s.threshold").alias("threshold"),
                F.col("s.message").alias("message"),
            )
        else:
            violations = empty_violations(spark)
        return CheckOutput(violations, metrics, cached=(stats,))


# ---------------------------------------------------------------------------
# Uniqueness
# ---------------------------------------------------------------------------


class UniquenessCheck(Check):
    """Duplicate-key detection on a (possibly heavily skewed) column.

    Plan shape at 10^12 rows:
    1. ``groupBy(key).count()`` — ONE shuffle on the key. Catalyst's
       partial aggregation pre-combines every map partition before the
       exchange, which is exactly the "salted two-stage" pattern: a
       hot phash key arrives at its reducer as ≤ num_map_partitions
       partial counts, never as raw rows. No manual salt needed for
       the count itself.
    2. ``filter(count > 1)`` — the duplicate-key dim table (usually
       tiny relative to input).
    3. join the dup keys back to the fact table to emit per-row
       violations — AQE skew-join splits the hot buckets
       (``spark.sql.adaptive.skewJoin.enabled``), and when the dup-key
       table is small Catalyst broadcasts it (we hint when we can
       prove it). We deliberately do NOT ``collect_list`` offender ids
       per key — a 10^8-row hot key would OOM its reducer.
    """

    name = "uniqueness"

    def __init__(self, key_col: str, entity_col: str = "image_id"):
        self.key_col = key_col
        self.entity_col = entity_col
        self.name = f"uniqueness_{key_col}"

    def run(self, df: DataFrame) -> CheckOutput:
        key = self.key_col
        keys = df.groupBy(key).agg(F.count(F.lit(1)).alias("key_count"))
        # persist the dup-key dim table (tiny by construction — real
        # duplicate keys only): violations and metrics materialize as
        # separate runner jobs, and the full-cardinality key shuffle —
        # the suite's biggest exchange — must run ONCE, not once per
        # consumer. n_keys is derived by approx_count_distinct in the
        # same narrow pass (mergeable HLL partials, NO key shuffle)
        # instead of re-aggregating 10^12 keys exactly for a metric.
        dup_keys = keys.filter(F.col("key_count") > 1).persist()
        violations = (
            df.select(key, self.entity_col, "part")
            .join(dup_keys, key, "inner")
            .select(
                *_v(
                    self.name,
                    "error",
                    key,
                    F.col(self.entity_col),
                    F.col("part"),
                    F.col(key),
                    "unique",
                    F.concat(F.lit("duplicate key (count="), F.col("key_count"), F.lit(")")),
                )
            )
        )
        dup_stats = dup_keys.agg(
            F.count(F.lit(1)).alias("n_dup_keys"),
            F.coalesce(F.sum("key_count"), F.lit(0)).alias("n_dup_rows"),
            F.coalesce(F.max("key_count"), F.lit(1)).alias("max_key_count"),
        )
        approx = df.agg(F.approx_count_distinct(key).alias("n_keys_approx"))
        metrics = dup_stats.crossJoin(approx).selectExpr(  # 1-row × 1-row
            f"stack(4, 'n_keys_approx', cast(n_keys_approx as double), "
            f"'n_dup_keys', cast(n_dup_keys as double), "
            f"'n_dup_rows', cast(n_dup_rows as double), "
            f"'max_key_count', cast(max_key_count as double)) as (metric, value)"
        ).select(
            F.lit(self.name).alias("check"), F.lit(-1).alias("part"), "metric", "value"
        )
        return CheckOutput(violations, metrics, cached=(dup_keys,))


# ---------------------------------------------------------------------------
# Referential integrity
# ---------------------------------------------------------------------------


class ReferentialCheck(Check):
    """caption → image_id referential integrity via LEFT ANTI join.

    The referenced id is extracted from the caption with a codegen'd
    ``regexp_extract`` (never Python). At scale this is a big-big
    equi-join on the id: AQE handles post-shuffle sizing; for repeated
    runs, bucketing both sides by the id makes it shuffle-free.
    """

    name = "referential_caption"

    def __init__(
        self,
        caption_col: str = "caption",
        ref_col: str = "image_id",
        pattern: str = r"(img_\d{12})",
    ):
        self.caption_col = caption_col
        self.ref_col = ref_col
        self.pattern = pattern

    def run(self, df: DataFrame) -> CheckOutput:
        referenced = df.select(
            "part",
            F.col(self.ref_col).alias("entity"),
            F.regexp_extract(F.col(self.caption_col), self.pattern, 1).alias("ref_id"),
        )
        ids = df.select(F.col(self.ref_col).alias("ref_id")).distinct()
        orphans = referenced.filter(F.col("ref_id") != "").join(ids, "ref_id", "left_anti")
        # persist the SPARSE orphan rows: violations and metrics are
        # materialized separately by the runner, and an unpersisted
        # plan would run the big-big anti-join twice
        violations = orphans.select(
            *_v(
                self.name,
                "error",
                self.caption_col,
                F.col("entity"),
                F.col("part"),
                F.col("ref_id"),
                "must reference existing image_id",
                "orphan caption reference",
            )
        ).persist()
        n_orphans = violations.groupBy().agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(self.name).alias("check"),
            F.lit(-1).alias("part"),
            F.lit("n_orphans").alias("metric"),
            F.col("n").cast("double").alias("value"),
        )
        return CheckOutput(violations, n_orphans, cached=(violations,))


# ---------------------------------------------------------------------------
# Payload validation (Arrow-batched decode)
# ---------------------------------------------------------------------------


class PayloadCheck(Check):
    """Decode ``bytes`` per ``fmt`` in Arrow-batched ``mapInPandas``,
    assert decodability + PSNR ≥ threshold vs the deterministic
    reference pixels + exact caption equality (BASELINE input_hint
    invariant). Emits only violation rows (sparse output).

    Scale notes: the projection selects ONLY the payload columns so
    the binary column never flows through other checks; Arrow batch
    size is capped session-wide for MB-scale payload rows. The decode
    kernel is pure numpy per image — the Python loop is over images in
    an Arrow batch, not over pixels, matching the "vectorized pandas/
    Arrow UDFs, never per-row [driver] Python" requirement.
    """

    name = "payload"
    needs_full_input = True  # the one check that reads ``bytes``

    def __init__(
        self,
        psnr_db: float = 40.0,
        reference_pixels: Callable[[str, int, int], np.ndarray] | None = None,
        expected_caption: Callable[[str], str] | None = None,
    ):
        from anomaly_detection_toolkit_spark.sources import images as imgmod

        self.psnr_db = psnr_db
        self.reference_pixels = reference_pixels or (
            lambda image_id, w, h: imgmod.gen_pixels(imgmod.id_num(image_id), w, h)
        )
        self.expected_caption = expected_caption or imgmod.caption_of

    def run(self, df: DataFrame) -> CheckOutput:
        name = self.name
        psnr_db = self.psnr_db
        ref_fn = self.reference_pixels
        cap_fn = self.expected_caption
        cols = df.select("image_id", "bytes", "fmt", "caption", "part")

        def check_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            lossless_fmts = codecs.LOSSLESS
            for pdf in batches:
                # violation rows are appended as plain tuples — no
                # per-row closures/dicts (the hot loop runs per image)
                rows: list[tuple] = []

                def viol(image_id, part, column, value, threshold, message):
                    rows.append(
                        (name, "error", column, image_id, part,
                         None if value is None else str(value), str(threshold), message)
                    )

                for image_id, buf, fmt, caption, part in zip(
                    pdf["image_id"], pdf["bytes"], pdf["fmt"], pdf["caption"],
                    pdf["part"].astype(int),
                ):
                    try:
                        dec = codecs.decode(buf, fmt)
                    except codecs.CodecError as e:
                        viol(image_id, part, "bytes", None, "decodable",
                             f"decode failed: {e}")
                        dec = None
                    if dec is not None:
                        h, w = dec.shape[:2]
                        ref = ref_fn(image_id, w, h)
                        lossless = fmt in lossless_fmts
                        # lossless: uint8 array_equal decides; the
                        # float64 PSNR is only needed for the (rare)
                        # violation message — equal arrays have
                        # PSNR=inf, so skipping it can't change the
                        # verdict and saves a full float pass per image
                        if lossless:
                            bad = not np.array_equal(ref, dec)
                            p = codecs.psnr(ref, dec) if bad else float("inf")
                        else:
                            p = codecs.psnr(ref, dec)
                            bad = p < psnr_db
                        if bad:
                            viol(
                                image_id, part, "bytes", round(p, 2),
                                ("exact" if lossless else f">={psnr_db}dB"),
                                "decoded pixels diverge from reference",
                            )
                    expected = cap_fn(image_id)
                    if caption != expected:
                        viol(image_id, part, "caption", caption, expected,
                             "caption mismatch")
                yield pd.DataFrame(rows, columns=V_COLS) if rows else pd.DataFrame(
                    {c: pd.Series(dtype=object) for c in V_COLS}
                )

        # persist the SPARSE violation rows: the runner materializes
        # violations and metrics as separate jobs, and the metrics
        # lineage would otherwise RE-DECODE every payload — the single
        # most expensive stage in the suite, paid twice (caught by the
        # round-3 per-check profile: 7.1s → 3.6s at 100k images)
        violations = cols.mapInPandas(check_batch, schema=VIOLATION_SCHEMA).persist()
        metrics = violations.groupBy("part").agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(name).alias("check"),
            F.col("part").cast("int"),
            F.lit("n_payload_violations").alias("metric"),
            F.col("n").cast("double").alias("value"),
        )
        return CheckOutput(violations, metrics, cached=(violations,))


# ---------------------------------------------------------------------------
# Distribution drift (KS + PSI per partition vs global reference)
# ---------------------------------------------------------------------------


def _histogram(df: DataFrame, cols: dict[str, Column]) -> DataFrame:
    """Persisted ``(column, part, bucket, c)`` bucket counts of every
    watched column in ONE scan.

    The watched columns are unpivoted row-wise (an array+explode
    generator — fan-out × n_cols of narrow (name, part, bucket)
    tuples, no binary columns) so a single ``groupBy(column, part,
    bucket)`` shuffle feeds every column's histogram; NULL buckets are
    excluded. Persisted because each drift plan reads it more than
    once, and every uncached read would re-run the input scan
    (verified in tests/test_plans.py)."""
    pairs = F.array(
        *[
            F.struct(F.lit(name).alias("column"), expr.alias("bucket"))
            for name, expr in cols.items()
        ]
    )
    return (
        df.select("part", F.explode(pairs).alias("cb"))
        .select("part", F.col("cb.column").alias("column"), F.col("cb.bucket").alias("bucket"))
        .filter(F.col("bucket").isNotNull())
        .groupBy("column", "part", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )


class DriftCheck(Check):
    """Per-partition histogram drift vs the global distribution.

    For each watched column a bucket expression maps values to a
    small ordinal domain (raw w/h values, fmt codes, pmod(phash, 64)).
    ONE ``groupBy(column, part, bucket)`` pass over all watched columns
    (``_histogram``) is the only big-data aggregation; everything after
    runs on a (parts × buckets) grid of at most a few thousand rows:

    - KS statistic = max |CDF_part - CDF_global| over the bucket
      ordering (window cumsum on the grid; the empirical-CDF max-gap
      re-expression named in the north star) — the flagging score;
    - PSI = Σ (p - q)·ln(p/q) with ε-clamped proportions — reported
      as a metric only (PSI over-fires on buckets absent from one
      side, so KS is the gate);
    - opt-in TOOLKIT PRIMITIVES applied in distribution space (the
      north star names rolling z-score and IQR fences as drift
      scorers): per bucket, the cross-partition distribution of
      proportions is scored with the z-score convention of
      ``ZScoreDetector`` (stddev_pop, σ=0→1; ``statistical.py:23-29``)
      and the 1.5·IQR fences of ``IQROutlierDetector`` — a partition
      whose proportion in ANY bucket is an outlier among partitions
      is drift-flagged even when its overall CDF gap stays small
      (localized drift KS underweights). Enabled via ``z_threshold``
      / ``iqr_k``; ``quantize`` (decimal places) scores proportions
      as scaled integers so results are bit-stable across engines
      and summation orders (the cross-engine-oracle knob).
    - ``rolling_window=W`` switches the primitives' baseline from the
      GLOBAL cross-partition distribution to the TRAILING window of
      the W most recent partitions in ``part`` order (the literal
      "rolling z-score" reading: ingest-ordered partitions, each
      scored against its recent history, so a slow regime change
      flags when it happens instead of diluting the global moments).
      Conventions follow the reference's pandas rolling feature path
      (``predictive_maintenance.py:115-137``): the frame INCLUDES the
      current row with ``min_periods=1``, and the std is SAMPLE std
      (pandas ddof default) — derived from exact integer window sums
      as ``(S2 − S1²/n)/(n−1)`` so both engines evaluate an identical
      expression tree on exact integers (bit-stable, like the global
      mode); a frame of one (the first partition) has ``sd=0`` →
      z=0, never self-flags (pandas yields NaN there — same verdict).
      The window runs per (column, bucket) over a few thousand grid
      rows, not over the data.

    A partition breaching a threshold yields one violation per
    (part, column). These are the toolkit's anomaly primitives
    (threshold-on-score, ``statistical.py:23-29``) applied to
    distribution space.
    """

    name = "drift"

    def __init__(
        self,
        columns: dict[str, Column] | None = None,
        ks_threshold: float = 0.15,
        z_threshold: float | None = None,
        iqr_k: float | None = None,
        quantize: int | None = None,
        rolling_window: int | None = None,
    ):
        self.columns = columns
        self.ks_threshold = ks_threshold
        self.z_threshold = z_threshold
        self.iqr_k = iqr_k
        self.quantize = quantize
        if rolling_window is not None and int(rolling_window) < 2:
            raise ValueError("rolling_window must be >= 2")
        self.rolling_window = rolling_window

    @property
    def _primitives(self) -> bool:
        return self.z_threshold is not None or self.iqr_k is not None

    def default_columns(self) -> dict[str, Column]:
        return {
            "w": F.col("w").cast("double"),
            "h": F.col("h").cast("double"),
            "fmt": F.crc32(F.col("fmt")).cast("double"),
            "phash": F.pmod(F.col("phash"), F.lit(64)).cast("double"),
        }

    def scores(self, df: DataFrame) -> DataFrame:
        """Public drift-score table: one row per (column, part) with
        ``ks``/``psi`` and, when primitives are enabled, ``zmax``/
        ``iqr_breaches``. Holds a persisted histogram the caller can
        release via ``self._last_counts.unpersist()``.

        The histogram feeds two aggregates and one join, all on the
        tiny (cols × parts × buckets) grid:

        - per (column, bucket): the global count, its proportion ``q``
          and the global CDF ``cdf_q`` (running sum in bucket order),
          computed once per bucket rather than once per partition;
        - per (column, part): the partition total ``tot_p``;
        - the dense grid = totals ⋈ broadcast(global buckets) ⟕
          histogram: a bucket a partition never hit is a true zero
          (``p = 0``), which both KS and PSI need.
        """
        eps = 1e-6
        counts = _histogram(df, self.columns or self.default_columns())
        self._last_counts = counts
        glob = (
            counts.groupBy("column", "bucket")
            .agg(F.sum("c").alias("gc"))
            .withColumn("q", F.col("gc") / F.sum("gc").over(Window.partitionBy("column")))
            .withColumn(
                "cdf_q", F.sum("q").over(Window.partitionBy("column").orderBy("bucket"))
            )
        )
        totals_p = counts.groupBy("column", "part").agg(F.sum("c").alias("tot_p"))
        ordered = Window.partitionBy("column", "part").orderBy("bucket")
        enriched = (
            totals_p.join(F.broadcast(glob), "column")
            .join(counts, ["column", "part", "bucket"], "left")
            .withColumn("p", F.coalesce(F.col("c"), F.lit(0)) / F.col("tot_p"))
            .withColumn("cdf_p", F.sum("p").over(ordered))
        )
        base = enriched.groupBy("column", "part").agg(
            F.max(F.abs(F.col("cdf_p") - F.col("cdf_q"))).alias("ks"),
            F.sum(
                (F.col("p") - F.col("q"))
                * F.log(
                    (F.greatest(F.col("p"), F.lit(eps)))
                    / (F.greatest(F.col("q"), F.lit(eps)))
                )
            ).alias("psi"),
        )
        if not self._primitives:
            return base
        # Toolkit primitives in distribution space: score each
        # partition's per-bucket proportion against the CROSS-PARTITION
        # distribution of that bucket's proportions. `pv` is the scored
        # value — quantized to an exact scaled integer when `quantize`
        # is set, making moments/quartiles bit-stable across engines
        # and summation orders (integer sums commute exactly).
        if self.quantize is not None:
            scale = float(10 ** int(self.quantize))
            pv = F.floor(F.col("p") * F.lit(scale) + F.lit(0.5))
        else:
            pv = F.col("p")
        cells = enriched.select("column", "part", "bucket", pv.alias("pv"))
        if self.rolling_window is None:
            # per (column, bucket) moments + quartiles across
            # partitions: a (cols × buckets)-row table — broadcast
            # back to the cells. Variance via E[x²]−E[x]² (exact on
            # quantized integers ≤1e6: pv² ≤ 1e12 « 2^53); population
            # σ, as ZScoreDetector uses.
            stats = cells.groupBy("column", "bucket").agg(
                F.avg("pv").alias("mu"),
                F.avg(F.col("pv") * F.col("pv")).alias("msq"),
                F.percentile(F.col("pv"), F.lit(0.25)).alias("q1"),
                F.percentile(F.col("pv"), F.lit(0.75)).alias("q3"),
            )
            based = cells.join(F.broadcast(stats), ["column", "bucket"]).withColumn(
                "sd",
                F.sqrt(
                    F.greatest(
                        F.col("msq") - F.col("mu") * F.col("mu"), F.lit(0.0)
                    )
                ),
            )
        else:
            # trailing-window primitives (the rolling mode, see class
            # docstring): moments from exact integer window sums —
            # sample variance (S2 − S1²/n)/(n−1), pandas rolling ddof
            # — quartiles from the same frame. The window partitions
            # by (column, bucket) over the tiny proportion grid; at
            # 10^12 rows this is still thousands of rows, no extra
            # pass over the data.
            wspec = (
                Window.partitionBy("column", "bucket")
                .orderBy("part")
                .rowsBetween(-(int(self.rolling_window) - 1), 0)
            )
            n = F.count(F.lit(1)).over(wspec)
            s1 = F.sum("pv").over(wspec)
            s2 = F.sum(F.col("pv") * F.col("pv")).over(wspec)
            var = F.when(
                n > 1, (s2 - s1 * s1 / n) / (n - F.lit(1))
            ).otherwise(F.lit(0.0))
            based = cells.select(
                "column",
                "part",
                "bucket",
                "pv",
                (s1 / n).alias("mu"),
                F.sqrt(F.greatest(var, F.lit(0.0))).alias("sd"),
                F.percentile(F.col("pv"), F.lit(0.25)).over(wspec).alias("q1"),
                F.percentile(F.col("pv"), F.lit(0.75)).over(wspec).alias("q3"),
            )
        k = F.lit(float(self.iqr_k) if self.iqr_k is not None else 1.5)
        z, lo, hi = _z_and_fences(
            F.col("pv"), F.col("mu"), F.col("sd"), F.col("q1"), F.col("q3"), k
        )
        prim = based.groupBy("column", "part").agg(
            F.max(F.abs(z)).alias("zmax"),
            F.sum(((F.col("pv") < lo) | (F.col("pv") > hi)).cast("long")).alias(
                "iqr_breaches"
            ),
        )
        return base.join(prim, ["column", "part"])

    def run(self, df: DataFrame) -> CheckOutput:
        # persist the tiny (cols × parts) drift table so violations and
        # metrics don't re-run the input scan
        drift = self.scores(df).persist()
        baseline = (
            f"trailing {self.rolling_window} partitions"
            if self.rolling_window is not None
            else "other partitions"
        )
        # (breach, value, threshold, message) per armed gate; ONE
        # explode/inline projection each for violations and metrics
        # (the ColumnStatsCheck pattern), not one DataFrame per gate
        gates = [
            (F.col("ks") > self.ks_threshold, F.round(F.col("ks"), 4),
             f"ks<={self.ks_threshold}", "distribution drift vs global baseline"),
        ]
        if self.z_threshold is not None:
            gates.append(
                (F.col("zmax") > self.z_threshold, F.round(F.col("zmax"), 4),
                 f"zmax<={self.z_threshold}",
                 f"bucket-proportion z-score drift vs {baseline}")
            )
        if self.iqr_k is not None:
            gates.append(
                (F.col("iqr_breaches") > 0, F.col("iqr_breaches").cast("double"),
                 f"iqr_k={self.iqr_k}",
                 f"bucket proportion outside IQR fences of {baseline}")
            )
        flagged = [
            F.when(
                breach,
                F.struct(
                    value.cast("string").alias("value"),
                    F.lit(threshold).alias("threshold"),
                    F.lit(message).alias("message"),
                ),
            )
            for breach, value, threshold, message in gates
        ]
        violations = drift.select(
            "column", "part", F.explode(F.array_compact(F.array(*flagged))).alias("s")
        ).select(
            *_v(self.name, "warning", F.col("column"), None, F.col("part"),
                F.col("s.value"), F.col("s.threshold"), F.col("s.message"))
        )
        metric_names = [c for c in drift.columns if c not in ("column", "part")]
        metrics = drift.select(
            F.lit(self.name).alias("check"),
            F.col("part").cast("int"),
            F.inline(
                F.array(
                    *[
                        F.struct(
                            F.concat(F.col("column"), F.lit(f".{m}")).alias("metric"),
                            F.col(m).cast("double").alias("value"),
                        )
                        for m in metric_names
                    ]
                )
            ),
        )
        return CheckOutput(
            violations, metrics, cached=(drift, self._last_counts)
        )


class PCADriftCheck(Check):
    """PCA-reconstruction-error drift — the fourth primitive the north
    star names (rolling z-score, IQR fences, PCA-recon-error, KS).

    Treats each partition's bucket histogram (proportion vector over
    the shared bucket domain) as ONE observation and fits the
    toolkit's ``PCADetector`` (``operators/pca.py``) over
    partitions-as-rows: a partition whose histogram SHAPE cannot be
    reconstructed from the dominant cross-partition components is
    drift-flagged. This catches joint changes (the histogram tilting
    along a correlated direction) that per-bucket marginal tests
    (z/IQR) and the per-column CDF gap (KS) underweight.

    Scale: the only big-data pass is one ``groupBy(part, bucket)``
    histogram of its own column, built by the same ``_histogram`` as
    ``DriftCheck`` uses (the two checks do not share data); the fitted
    table is one row per partition × |bucket domain| columns (domain
    capped at ``max_buckets``), so the PCA suff-stats pass runs over a
    tiny table — through the SAME distributed operator used for
    row-space detection, not a special case.
    """

    name = "drift_pca"

    def __init__(
        self,
        column: str,
        bucket: Column,
        n_components: float | int = 0.95,
        contamination: float = 0.05,
        max_buckets: int = 256,
    ):
        self.column = column
        self.bucket = bucket
        self.n_components = n_components
        self.contamination = contamination
        self.max_buckets = max_buckets

    def scores(self, df: DataFrame) -> DataFrame:
        """Public score table: (part, score, verdict) — reconstruction
        error of each partition's histogram and the PCADetector
        percentile verdict. Holds a persisted histogram the caller can
        release via ``self._last_counts.unpersist()``; the fitted
        threshold is kept on ``self._last_threshold``."""
        from anomaly_detection_toolkit_spark.operators.base import (
            SCORE_COL,
            VERDICT_COL,
        )
        from anomaly_detection_toolkit_spark.operators.pca import PCADetector

        counts = _histogram(df, {self.column: self.bucket})
        domain = sorted(r[0] for r in counts.select("bucket").distinct().collect())
        if len(domain) > self.max_buckets:
            raise ValueError(
                f"bucket domain {len(domain)} exceeds max_buckets="
                f"{self.max_buckets}; coarsen the bucket expression"
            )
        # pivot to a dense (part × domain) proportion matrix: absent
        # cells are true zeros. One tiny shuffle over the histogram.
        tot = Window.partitionBy("part")
        p = F.col("c") / F.sum("c").over(tot)
        cols = [f"b{i}" for i in range(len(domain))]
        wide = (
            counts.withColumn("p", p)
            .groupBy("part")
            .agg(
                *[
                    F.coalesce(
                        F.max(F.when(F.col("bucket") == F.lit(b), F.col("p"))),
                        F.lit(0.0),
                    ).alias(c)
                    for b, c in zip(domain, cols)
                ]
            )
        )
        det = PCADetector(
            n_components=self.n_components,
            score_method="reconstruction",
            contamination=self.contamination,
        ).fit(wide, cols)
        self._last_counts = counts
        self._last_threshold = float(det.threshold_)
        return det.transform(wide).select("part", SCORE_COL, VERDICT_COL)

    def run(self, df: DataFrame) -> CheckOutput:
        from anomaly_detection_toolkit_spark.operators.base import (
            SCORE_COL,
            VERDICT_COL,
        )

        scored = self.scores(df)
        violations = scored.filter(F.col(VERDICT_COL) == -1).select(
            *_v(
                self.name,
                "warning",
                self.column,
                None,
                F.col("part"),
                F.round(F.col(SCORE_COL), 4),
                f"recon<=p{100 * (1 - self.contamination):g}"
                f"={round(self._last_threshold, 6)}",
                "partition histogram shape unreconstructable from "
                "cross-partition principal components",
            )
        )
        metrics = scored.select(
            F.lit(self.name).alias("check"),
            F.col("part").cast("int"),
            F.lit(f"{self.column}.pca_recon").alias("metric"),
            F.col(SCORE_COL).cast("double").alias("value"),
        )
        return CheckOutput(violations, metrics, cached=(self._last_counts,))


def default_suite() -> list[Check]:
    """The standard north-star validation suite."""
    return [
        SchemaCheck(
            {
                "image_id": "string",
                "bytes": "binary",
                "w": "int",
                "h": "int",
                "fmt": "string",
                "caption": "string",
                "phash": "bigint",
            }
        ),
        ColumnStatsCheck(
            {
                "w": {"max_null_rate": 0.001, "min": 1, "max": 65535},
                "h": {"max_null_rate": 0.001, "min": 1, "max": 65535},
                "phash": {"max_null_rate": 0.0},
            }
        ),
        UniquenessCheck("image_id"),
        UniquenessCheck("phash"),
        ReferentialCheck(),
        DriftCheck(),
        PayloadCheck(),
    ]


def extended_suite(
    z_threshold: float = 3.0,
    iqr_k: float = 1.5,
    pca_components: float | int = 0.8,
    rolling_window: int | None = None,
) -> list[Check]:
    """``default_suite`` with ALL FOUR north-star drift scorers armed:
    KS (always on) plus z-score/IQR fences on cross-partition bucket
    proportions inside ``DriftCheck``, and PCA reconstruction error
    over partitions-as-histogram-rows (``PCADriftCheck`` on the
    phash-mod-64 histogram). ``rolling_window=W`` scores the z/IQR
    primitives against the trailing W partitions in part order instead
    of the global cross-partition distribution (``validate.py
    --drift-rolling W``). Kept separate from ``default_suite`` so
    the benchmark baselines stay like-for-like; ``validate.py
    --drift-primitives`` selects it."""
    armed = DriftCheck(
        z_threshold=z_threshold, iqr_k=iqr_k, rolling_window=rolling_window
    )
    checks = [armed if isinstance(c, DriftCheck) else c for c in default_suite()]
    checks.append(
        PCADriftCheck(
            "phash",
            F.pmod(F.col("phash"), F.lit(64)).cast("double"),
            n_components=pca_components,
        )
    )
    return checks
