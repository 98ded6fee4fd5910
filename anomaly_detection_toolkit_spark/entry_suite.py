"""Flagship driver-contract queries: the north-star validation suite
end to end (inline-synthesized image+caption table → full check suite
→ per-partition verdict grid), plus a cube-shaped drift report.

``northstar_suite_verdicts`` is rows-only (mapInPandas payload decode
is not SQL); the cube report is oracle-checked (DuckDB GROUP BY CUBE),
and ``suite_grid_documents`` oracle-checks the engine semantics — the
same Check classes + runner over a DuckDB-replicable fact table, so
the (part × check) verdict grid itself is hash-verified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anomaly_detection_toolkit_spark.entry_queries import r4, register, register_extra
from anomaly_detection_toolkit_spark.sources.images import generate_images


def suite_verdicts(spark: SparkSession, n_images: int = 2000, n_parts: int = 4) -> DataFrame:
    """Generate the deterministic defect-injected table and run the
    whole validation suite; returns the (part, check) verdict grid."""
    from anomaly_detection_toolkit_spark.plans.checks import default_suite
    from anomaly_detection_toolkit_spark.plans.runner import run_suite

    imgs = generate_images(spark, n_images, seed=42, n_parts=n_parts)
    result = run_suite(imgs, default_suite())
    return result.verdicts.orderBy("part", "check")


# GROUND-TRUTH oracle for the flagship: the generator's defect
# positions and metadata columns are pure integer arithmetic over the
# row index (sources/images.py:make_row), so DuckDB can reconstruct
# the EXPECTED (part × check) verdict grid from range(n) alone — no
# pixel decode needed. A hash match proves the engine flagged exactly
# the planted defects end to end, INCLUDING the payload-decode path
# (corrupt/null payload rows only reach the expected counts if the
# codecs actually decode and fail where they must).
#
# Two documented dataset-level facts the oracle relies on (both pinned
# by tests/test_validation.py::test_northstar_oracle_assumptions so a
# generator/codec change breaks tests, not the driver gate):
#  1. no NATURAL phash collisions among the 1990 non-hot rows at
#     (n=2000, seed=42) — 64-bit content hashes, p(collision) ≈ 1e-13;
#  2. the phash-mod-64 drift histogram stays below the 0.15 KS
#     threshold for every part (near-uniform by construction), so only
#     w/h/fmt contribute drift warnings.
#
# Defect arithmetic replicated below (images.py:150-187):
#   part = i // 500 (n=2000, n_parts=4); part 3 is the drifted slice.
#   dup_image_id   i % 401 == 17 (i>0) → row copies src=i-1 entirely
#   hot_phash      i % 211 == 13       → phash := HOT constant
#   orphan_caption i % 499 == 23       → caption references missing id
#   corrupt_bytes  i % 547 == 29       → decode fails
#   null_bytes     i % 601 == 31       → decode fails (null payload)
#   null_dims      i % 653 == 37       → w/h NULL (column-stats breach)
#   caption_bad    i % 719 == 41       → caption mismatch
#   w = sizes[((src*2654435761)>>8) % |sizes|], h likewise with >>16;
#   fmt = FORMATS[(src*7+3) % 5] clean, 'lossyq' drifted; the fmt
#   drift buckets are crc32(fmt) — embedded as literals below.
_NORTHSTAR_SQL = """
    WITH rws AS (
      SELECT CAST(i AS BIGINT) AS i,
             CAST(i // 500 AS INTEGER) AS part,
             CASE WHEN i % 401 = 17 AND i > 0 THEN i - 1 ELSE i END AS src,
             (i % 401 = 17 AND i > 0) AS is_dup,
             (i // 500 = 3) AS drifted,
             (i % 211 = 13) AS is_hot,
             (i % 499 = 23) AS is_orph,
             (i % 547 = 29) AS is_corrupt,
             (i % 601 = 31) AS is_nullb,
             (i % 653 = 37) AS is_nulldim,
             (i % 719 = 41) AS is_capbad
      FROM range(0, 2000) t(i)
    ),
    meta AS (
      SELECT rws.*,
             (is_dup OR coalesce(
                lead(is_dup) OVER (ORDER BY i), FALSE)) AS in_dup_group,
             CASE WHEN is_nulldim THEN NULL
                  WHEN drifted THEN (CASE WHEN ((src * 2654435761) >> 8) % 2 = 0
                                          THEN 96 ELSE 128 END)
                  ELSE (CASE ((src * 2654435761) >> 8) % 3
                        WHEN 0 THEN 32 WHEN 1 THEN 48 ELSE 64 END)
             END AS w,
             CASE WHEN is_nulldim THEN NULL
                  WHEN drifted THEN (CASE WHEN ((src * 2654435761) >> 16) % 2 = 0
                                          THEN 96 ELSE 128 END)
                  ELSE (CASE ((src * 2654435761) >> 16) % 3
                        WHEN 0 THEN 32 WHEN 1 THEN 48 ELSE 64 END)
             END AS h,
             CASE WHEN drifted THEN 'lossyq'
                  ELSE (CASE (src * 7 + 3) % 5
                        WHEN 0 THEN 'raw' WHEN 1 THEN 'ppm' WHEN 2 THEN 'bmp'
                        WHEN 3 THEN 'png' ELSE 'lossyq' END)
             END AS fmt
      FROM rws
    ),
    cs AS (  -- column_stats: w/h null-rate 0.001 breached per part
      SELECT part,
             CAST(CASE WHEN sum(CASE WHEN is_nulldim THEN 1 ELSE 0 END) * 1.0
                            / count(*) > 0.001 THEN 2 ELSE 0 END AS BIGINT) AS n_err
      FROM meta GROUP BY part
    ),
    uid AS (  -- uniqueness_image_id: every member row of a dup-id group
      SELECT part, CAST(count(*) AS BIGINT) AS n_err
      FROM meta WHERE in_dup_group GROUP BY part
    ),
    uph AS (  -- uniqueness_phash: hot-key group + dup pairs (copy phash)
      SELECT part, CAST(count(*) AS BIGINT) AS n_err
      FROM meta WHERE is_hot OR in_dup_group GROUP BY part
    ),
    refc AS (
      SELECT part, CAST(count(*) AS BIGINT) AS n_err
      FROM meta WHERE is_orph GROUP BY part
    ),
    pay AS (  -- payload: decode failures + caption mismatches
      SELECT part,
             CAST(sum(CASE WHEN is_corrupt OR is_nullb THEN 1 ELSE 0 END)
                + sum(CASE WHEN is_capbad OR is_orph THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_err
      FROM meta GROUP BY part
    ),
    db AS (  -- drift histograms (NULL dims excluded, as in DriftCheck)
      SELECT part, 'w' AS col, CAST(w AS DOUBLE) AS bucket FROM meta
      WHERE w IS NOT NULL
      UNION ALL
      SELECT part, 'h', CAST(h AS DOUBLE) FROM meta WHERE h IS NOT NULL
      UNION ALL
      SELECT part, 'fmt',
             CAST(CASE fmt WHEN 'raw' THEN 447994709 WHEN 'ppm' THEN 3079460177
                  WHEN 'bmp' THEN 876913290 WHEN 'png' THEN 2199389072
                  ELSE 592761968 END AS DOUBLE)
      FROM meta
    ),
    cnt AS (SELECT col, part, bucket, count(*) AS c FROM db GROUP BY 1, 2, 3),
    pgrid AS (
      SELECT p.col, p.part, b.bucket, coalesce(c.c, 0) AS c
      FROM (SELECT DISTINCT col, part FROM cnt) p
      JOIN (SELECT DISTINCT col, bucket FROM cnt) b USING (col)
      LEFT JOIN cnt c ON c.col = p.col AND c.part = p.part AND c.bucket = b.bucket
    ),
    en AS (
      SELECT col, part, bucket,
             CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY col, part) AS p,
             CAST(sum(c) OVER (PARTITION BY col, bucket) AS DOUBLE)
               / sum(c) OVER (PARTITION BY col) AS q
      FROM pgrid
    ),
    ks AS (
      SELECT col, part, max(abs(cdf_p - cdf_q)) AS ks FROM (
        SELECT col, part,
               sum(p) OVER (PARTITION BY col, part ORDER BY bucket) AS cdf_p,
               sum(q) OVER (PARTITION BY col, part ORDER BY bucket) AS cdf_q
        FROM en
      ) GROUP BY col, part
    ),
    dw AS (SELECT part, CAST(count(*) AS BIGINT) AS n_warn
           FROM ks WHERE ks > 0.15 GROUP BY part),
    parts AS (SELECT DISTINCT part FROM meta),
    checks(check_name) AS (
      VALUES ('schema'), ('column_stats'), ('uniqueness_image_id'),
             ('uniqueness_phash'), ('referential_caption'), ('drift'),
             ('payload')
    )
    SELECT part, "check", n_errors, n_warnings,
           CAST(CASE WHEN n_errors > 0 THEN -1 ELSE 1 END AS INTEGER) AS verdict
    FROM (
      SELECT g.part, g.check_name AS "check",
             CAST(CASE g.check_name
                  WHEN 'column_stats' THEN coalesce(cs.n_err, 0)
                  WHEN 'uniqueness_image_id' THEN coalesce(uid.n_err, 0)
                  WHEN 'uniqueness_phash' THEN coalesce(uph.n_err, 0)
                  WHEN 'referential_caption' THEN coalesce(refc.n_err, 0)
                  WHEN 'payload' THEN coalesce(pay.n_err, 0)
                  ELSE 0 END AS BIGINT) AS n_errors,
             CAST(CASE g.check_name WHEN 'drift' THEN coalesce(dw.n_warn, 0)
                  ELSE 0 END AS BIGINT) AS n_warnings
      FROM (SELECT part, check_name FROM parts CROSS JOIN checks) g
      LEFT JOIN cs ON cs.part = g.part
      LEFT JOIN uid ON uid.part = g.part
      LEFT JOIN uph ON uph.part = g.part
      LEFT JOIN refc ON refc.part = g.part
      LEFT JOIN pay ON pay.part = g.part
      LEFT JOIN dw ON dw.part = g.part
    )
"""


@register("northstar_suite_verdicts", _NORTHSTAR_SQL)
def northstar_suite_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return suite_verdicts(spark)


# cube-shaped drift report: counts by (event_type, hour) with all
# rollup combinations — exercises the grouping-sets surface of the
# engine (SURVEY §2.11 aggregations).
# The value aggregate is an EXACT integer sum of per-row 1e-4
# quantized values (floor(v*1e4 + 0.5) is bit-identical across
# engines on identical input doubles), NOT round(avg(value), 4): a
# grouped float mean is summation-order-dependent (±1ulp under
# AQE/partitioning), and the round-3 audit found a knife-edge row
# where Spark (decimal-repr HALF_UP) and DuckDB (binary rounding)
# would diverge on a 1ulp nudge. Consumers derive the mean as
# sum_value_e4 / (1e4 * n_values).
_CUBE_SQL = """
    SELECT coalesce(event_type, '<all>') AS event_type,
           coalesce(CAST(hour(ts) AS INTEGER), -1) AS hour_of_day,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(value) AS BIGINT) AS n_values,
           CAST(sum(CAST(floor(value * 1e4 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_value_e4
    FROM events
    GROUP BY CUBE (event_type, hour(ts))
"""


@register("cube_report_events", _CUBE_SQL)
def cube_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anomaly_detection_toolkit_spark.sources.testdata import load_table

    df = load_table(spark, "events", sf_dir)
    v = F.col("value").cast("double")
    out = (
        df.cube("event_type", F.hour("ts").alias("hour_of_day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(v).alias("n_values"),
            F.sum(F.floor(v * 1e4 + 0.5).cast("bigint")).alias("sum_value_e4"),
        )
    )
    return out.select(
        F.coalesce(F.col("event_type"), F.lit("<all>")).alias("event_type"),
        F.coalesce(F.col("hour_of_day"), F.lit(-1)).cast("int").alias("hour_of_day"),
        "n",
        "n_values",
        "sum_value_e4",
    )


# ---------------------------------------------------------------------------
# Oracle-checked suite verdict grid over a parquet-derived fact table.
# The flagship image-table run stays rows-only (binary payload decode
# is not SQL), but the ENGINE SEMANTICS — stats constraints,
# uniqueness, referential, KS drift, and the (part × check) verdict
# grid itself — are fully verified here: the same Check classes and
# run_suite() runner execute over a documents-derived fact whose every
# derivation is replicated in DuckDB.
# ---------------------------------------------------------------------------

_SUITE_GRID_SQL = r"""
    WITH fact AS (
      SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_key,
             CASE WHEN lang = 'en' THEN 0
                  ELSE CAST(doc_id % 3 AS INTEGER) + 1 END AS part,
             n_chars,
             CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) % 16 AS phash16,
             'see doc_' || CAST(CASE WHEN doc_id % 17 = 0 THEN doc_id + 1000000
                                     WHEN doc_id >= 7 THEN doc_id - 7
                                     ELSE doc_id END AS VARCHAR) AS caption,
             CASE lang WHEN 'en' THEN 0 WHEN 'fr' THEN 1 WHEN 'es' THEN 2
                       WHEN 'de' THEN 3 ELSE 4 END AS lang_code,
             least(n_chars // 50, 10) AS len_b,
             CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) % 8 AS hash_b
      FROM documents
    ),
    parts AS (SELECT DISTINCT part FROM fact),
    checks(check_name) AS (
      VALUES ('schema'), ('column_stats'), ('uniqueness_doc_key'),
             ('uniqueness_phash16'), ('referential_caption'), ('drift')
    ),
    cs AS (
      SELECT part,
             CAST((CASE WHEN (count(*) - count(n_chars)) * 1.0 / count(*) > 0.0
                        THEN 1 ELSE 0 END)
                + (CASE WHEN min(n_chars) < 1 THEN 1 ELSE 0 END)
                + (CASE WHEN max(n_chars) > 500 THEN 1 ELSE 0 END)
                + (CASE WHEN (count(*) - count(phash16)) * 1.0 / count(*) > 0.0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_err
      FROM fact GROUP BY part
    ),
    dupd AS (SELECT doc_key FROM fact GROUP BY doc_key HAVING count(*) > 1),
    u1 AS (SELECT part, count(*) AS n_err FROM fact JOIN dupd USING (doc_key)
           GROUP BY part),
    duph AS (SELECT phash16 FROM fact GROUP BY phash16 HAVING count(*) > 1),
    u2 AS (SELECT part, count(*) AS n_err FROM fact JOIN duph USING (phash16)
           GROUP BY part),
    orph AS (
      SELECT part, count(*) AS n_err
      FROM fact f
      WHERE regexp_extract(f.caption, '(doc_\d+)', 1) <> ''
        AND regexp_extract(f.caption, '(doc_\d+)', 1)
              NOT IN (SELECT doc_key FROM fact)
      GROUP BY part
    ),
    db AS (
      SELECT part, 'lang_code' AS col, CAST(lang_code AS DOUBLE) AS bucket FROM fact
      UNION ALL SELECT part, 'len_b', CAST(len_b AS DOUBLE) FROM fact
      UNION ALL SELECT part, 'hash_b', CAST(hash_b AS DOUBLE) FROM fact
    ),
    cnt AS (SELECT col, part, bucket, count(*) AS c FROM db GROUP BY 1, 2, 3),
    pgrid AS (
      SELECT p.col, p.part, b.bucket, coalesce(c.c, 0) AS c
      FROM (SELECT DISTINCT col, part FROM cnt) p
      JOIN (SELECT DISTINCT col, bucket FROM cnt) b USING (col)
      LEFT JOIN cnt c ON c.col = p.col AND c.part = p.part AND c.bucket = b.bucket
    ),
    en AS (
      SELECT col, part, bucket,
             CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY col, part) AS p,
             CAST(sum(c) OVER (PARTITION BY col, bucket) AS DOUBLE)
               / sum(c) OVER (PARTITION BY col) AS q
      FROM pgrid
    ),
    ks AS (
      SELECT col, part, max(abs(cdf_p - cdf_q)) AS ks FROM (
        SELECT col, part,
               sum(p) OVER (PARTITION BY col, part ORDER BY bucket) AS cdf_p,
               sum(q) OVER (PARTITION BY col, part ORDER BY bucket) AS cdf_q
        FROM en
      ) GROUP BY col, part
    ),
    dw AS (SELECT part, count(*) AS n_warn FROM ks WHERE ks > 0.15 GROUP BY part),
    grid AS (SELECT part, check_name FROM parts CROSS JOIN checks)
    SELECT part, "check", n_errors, n_warnings,
           CAST(CASE WHEN n_errors > 0 THEN -1 ELSE 1 END AS INTEGER) AS verdict
    FROM (
      SELECT CAST(g.part AS INTEGER) AS part, g.check_name AS "check",
             CAST(CASE g.check_name
                  WHEN 'column_stats' THEN coalesce(cs.n_err, 0)
                  WHEN 'uniqueness_doc_key' THEN coalesce(u1.n_err, 0)
                  WHEN 'uniqueness_phash16' THEN coalesce(u2.n_err, 0)
                  WHEN 'referential_caption' THEN coalesce(orph.n_err, 0)
                  ELSE 0 END AS BIGINT) AS n_errors,
             CAST(CASE g.check_name WHEN 'drift' THEN coalesce(dw.n_warn, 0)
                  ELSE 0 END AS BIGINT) AS n_warnings
      FROM grid g
      LEFT JOIN cs ON cs.part = g.part
      LEFT JOIN u1 ON u1.part = g.part
      LEFT JOIN u2 ON u2.part = g.part
      LEFT JOIN orph ON orph.part = g.part
      LEFT JOIN dw ON dw.part = g.part
    )
"""


def _suite_grid_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anomaly_detection_toolkit_spark.sources.testdata import load_table

    d = load_table(spark, "documents", sf_dir)
    h60 = F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10).cast("long")
    ref = (
        F.when(F.pmod(F.col("doc_id"), 17) == 0, F.col("doc_id") + 1000000)
        .when(F.col("doc_id") >= 7, F.col("doc_id") - 7)
        .otherwise(F.col("doc_id"))
    )
    lang_code = (
        F.when(F.col("lang") == "en", 0)
        .when(F.col("lang") == "fr", 1)
        .when(F.col("lang") == "es", 2)
        .when(F.col("lang") == "de", 3)
        .otherwise(4)
    )
    return d.select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("doc_key"),
        F.when(F.col("lang") == "en", F.lit(0))
        .otherwise(F.pmod(F.col("doc_id"), 3).cast("int") + 1)
        .cast("int")
        .alias("part"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.pmod(h60, F.lit(16)).alias("phash16"),
        F.concat(F.lit("see doc_"), ref.cast("string")).alias("caption"),
        lang_code.cast("int").alias("lang_code"),
        F.least(F.floor(F.col("n_chars") / 50), F.lit(10)).cast("long").alias("len_b"),
        F.pmod(h60, F.lit(8)).alias("hash_b"),
    )


def _suite_grid_checks() -> list:
    """Column-stats constraints (n_chars max 500 breached by long
    docs), uniqueness on a unique key (passes) and a 16-bucket hash
    key (dup errors), caption→doc_key referential with injected
    orphans (doc_id % 17), and KS drift where part 0 is all-English
    by construction (lang histogram drifts, len/hash do not)."""
    from anomaly_detection_toolkit_spark.plans.checks import (
        ColumnStatsCheck,
        DriftCheck,
        ReferentialCheck,
        SchemaCheck,
        UniquenessCheck,
    )

    return [
        SchemaCheck(
            {
                "doc_key": "string",
                "part": "int",
                "n_chars": "bigint",
                "phash16": "bigint",
                "caption": "string",
                "lang_code": "int",
                "len_b": "bigint",
                "hash_b": "bigint",
            }
        ),
        ColumnStatsCheck(
            {
                "n_chars": {"max_null_rate": 0.0, "min": 1, "max": 500},
                "phash16": {"max_null_rate": 0.0},
            }
        ),
        UniquenessCheck("doc_key", entity_col="doc_key"),
        UniquenessCheck("phash16", entity_col="doc_key"),
        ReferentialCheck(
            caption_col="caption", ref_col="doc_key", pattern=r"(doc_\d+)"
        ),
        DriftCheck(
            columns={
                "lang_code": F.col("lang_code").cast("double"),
                "len_b": F.col("len_b").cast("double"),
                "hash_b": F.col("hash_b").cast("double"),
            },
            ks_threshold=0.15,
        ),
    ]


@register("suite_grid_documents", _SUITE_GRID_SQL)
def suite_grid_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real Check classes + run_suite() over a DuckDB-replicable
    fact (``_suite_grid_fact``, ``_suite_grid_checks``)."""
    from anomaly_detection_toolkit_spark.plans.runner import run_suite

    result = run_suite(_suite_grid_fact(spark, sf_dir), _suite_grid_checks())
    return result.verdicts.orderBy("part", "check")


# ---------------------------------------------------------------------------
# Drift primitives in distribution space, hash-gated end to end: the
# north star names FOUR drift scorers (rolling z-score, IQR fences,
# PCA-recon-error, KS); this pair verifies the z-score and IQR-fence
# primitives (plus KS) on the same DuckDB-replicable fact as
# suite_grid_documents. Cross-engine exactness: proportions are
# quantized to scaled integers (quantize=6) BEFORE moments/quartiles,
# so every aggregate is exact integer arithmetic in double carriers —
# order-independent and bit-identical on both engines; outputs are
# floor(x*1e4+0.5) integers (no round() half-way hazard at all). PSI
# is deliberately NOT gated: ln() is not correctly-rounded across
# libm implementations. (PCA-recon drift is covered by PCADriftCheck
# + numpy goldens in tests/test_drift_primitives.py — its
# eigendecomposition is not reasonably SQL.)
# ---------------------------------------------------------------------------

_DRIFT_PRIM_SQL = r"""
    WITH fact AS (
      SELECT CASE WHEN lang = 'en' THEN 0
                  ELSE CAST(doc_id % 3 AS INTEGER) + 1 END AS part,
             CASE lang WHEN 'en' THEN 0 WHEN 'fr' THEN 1 WHEN 'es' THEN 2
                       WHEN 'de' THEN 3 ELSE 4 END AS lang_code,
             least(n_chars // 50, 10) AS len_b,
             CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) % 8 AS hash_b
      FROM documents
    ),
    db AS (
      SELECT part, 'lang_code' AS col, CAST(lang_code AS DOUBLE) AS bucket FROM fact
      UNION ALL SELECT part, 'len_b', CAST(len_b AS DOUBLE) FROM fact
      UNION ALL SELECT part, 'hash_b', CAST(hash_b AS DOUBLE) FROM fact
    ),
    cnt AS (SELECT col, part, bucket, count(*) AS c FROM db GROUP BY 1, 2, 3),
    pgrid AS (
      SELECT p.col, p.part, b.bucket, coalesce(c.c, 0) AS c
      FROM (SELECT DISTINCT col, part FROM cnt) p
      JOIN (SELECT DISTINCT col, bucket FROM cnt) b USING (col)
      LEFT JOIN cnt c ON c.col = p.col AND c.part = p.part AND c.bucket = b.bucket
    ),
    en AS (
      SELECT col, part, bucket,
             CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY col, part) AS p,
             CAST(sum(c) OVER (PARTITION BY col, bucket) AS DOUBLE)
               / sum(c) OVER (PARTITION BY col) AS q
      FROM pgrid
    ),
    ks AS (
      SELECT col, part, max(abs(cdf_p - cdf_q)) AS ks FROM (
        SELECT col, part,
               sum(p) OVER (PARTITION BY col, part ORDER BY bucket) AS cdf_p,
               sum(q) OVER (PARTITION BY col, part ORDER BY bucket) AS cdf_q
        FROM en
      ) GROUP BY col, part
    ),
    pv AS (SELECT col, part, bucket, floor(p * 1e6 + 0.5) AS pv FROM en),
    st AS (
      SELECT col, bucket,
             avg(pv) AS mu, avg(pv * pv) AS msq,
             quantile_cont(pv, 0.25) AS q1, quantile_cont(pv, 0.75) AS q3
      FROM pv GROUP BY col, bucket
    ),
    z AS (
      SELECT pv.col, pv.part,
             abs(pv.pv - st.mu)
               / (CASE WHEN sqrt(greatest(st.msq - st.mu * st.mu, 0)) > 0
                       THEN sqrt(greatest(st.msq - st.mu * st.mu, 0))
                       ELSE 1 END) AS az,
             CAST(pv.pv < st.q1 - 1.5 * (CASE WHEN st.q3 - st.q1 = 0
                                              THEN 1.0 ELSE st.q3 - st.q1 END)
                  OR pv.pv > st.q3 + 1.5 * (CASE WHEN st.q3 - st.q1 = 0
                                                 THEN 1.0 ELSE st.q3 - st.q1 END)
                  AS INTEGER) AS br
      FROM pv JOIN st ON pv.col = st.col AND pv.bucket = st.bucket
    ),
    agg AS (
      SELECT col, part, max(az) AS zmax, sum(br) AS breaches
      FROM z GROUP BY col, part
    )
    SELECT agg.col AS "column",
           CAST(agg.part AS INTEGER) AS part,
           CAST(floor(ks.ks * 1e4 + 0.5) AS BIGINT) AS ks_e4,
           CAST(floor(agg.zmax * 1e4 + 0.5) AS BIGINT) AS zmax_e4,
           CAST(agg.breaches AS BIGINT) AS iqr_breaches,
           CAST(agg.zmax > 1.72 AS INTEGER) AS z_flag,
           CAST(agg.breaches > 0 AS INTEGER) AS iqr_flag
    FROM agg JOIN ks ON agg.col = ks.col AND agg.part = ks.part
"""


@register("drift_primitives_documents", _DRIFT_PRIM_SQL)
def drift_primitives_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DriftCheck with the toolkit primitives enabled (z-score + IQR
    fences on quantized cross-partition bucket proportions) over the
    suite-grid fact: part 0 is all-English by construction, so its
    lang_code histogram is the planted outlier the primitives flag."""
    from anomaly_detection_toolkit_spark.plans.checks import DriftCheck

    fact = _suite_grid_fact(spark, sf_dir)
    chk = DriftCheck(
        columns={
            "lang_code": F.col("lang_code").cast("double"),
            "len_b": F.col("len_b").cast("double"),
            "hash_b": F.col("hash_b").cast("double"),
        },
        # with 4 partitions max |z| is sqrt(3)=1.732 (population
        # std over n=4); 1.72 lets only the planted all-English
        # partition trip the z gate
        z_threshold=1.72,
        iqr_k=1.5,
        quantize=6,
    )
    out = chk.scores(fact)
    return out.select(
        "column",
        F.col("part").cast("int").alias("part"),
        F.floor(F.col("ks") * 1e4 + F.lit(0.5)).cast("bigint").alias("ks_e4"),
        F.floor(F.col("zmax") * 1e4 + F.lit(0.5)).cast("bigint").alias("zmax_e4"),
        F.col("iqr_breaches").cast("bigint").alias("iqr_breaches"),
        (F.col("zmax") > 1.72).cast("int").alias("z_flag"),
        (F.col("iqr_breaches") > 0).cast("int").alias("iqr_flag"),
    )


# ---------------------------------------------------------------------------
# ROLLING drift primitives (register_extra: local parity gate — the
# driver registry stays at exactly 50): DriftCheck(rolling_window=4)
# scores each partition against the trailing 4 partitions in part
# order instead of the global cross-partition distribution — the
# literal "rolling z-score" reading of the north star. The fact plants
# the drift LATE: parts 0-8 carry the mixed-language documents
# (doc_id % 9) and part 9 is all-English, so the regime change arrives
# at the end of the sequence where only a trailing baseline flags it
# at full strength (z→1.5, the n=4 sample-std maximum). Cross-engine
# exactness: quantized integer proportions; sample variance derived
# from exact integer window sums as (S2−S1²/n)/(n−1) — the identical
# expression tree on both engines — and windowed quantile_cont /
# percentile interpolate exact integers at exact binary fractions.
# ---------------------------------------------------------------------------

_DRIFT_ROLL_SQL = r"""
    WITH fact AS (
      SELECT CASE WHEN lang = 'en' THEN 9
                  ELSE CAST(doc_id % 9 AS INTEGER) END AS part,
             CASE lang WHEN 'en' THEN 0 WHEN 'fr' THEN 1 WHEN 'es' THEN 2
                       WHEN 'de' THEN 3 ELSE 4 END AS lang_code,
             least(n_chars // 50, 10) AS len_b,
             CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) % 8 AS hash_b
      FROM documents
    ),
    db AS (
      SELECT part, 'lang_code' AS col, CAST(lang_code AS DOUBLE) AS bucket FROM fact
      UNION ALL SELECT part, 'len_b', CAST(len_b AS DOUBLE) FROM fact
      UNION ALL SELECT part, 'hash_b', CAST(hash_b AS DOUBLE) FROM fact
    ),
    cnt AS (SELECT col, part, bucket, count(*) AS c FROM db GROUP BY 1, 2, 3),
    pgrid AS (
      SELECT p.col, p.part, b.bucket, coalesce(c.c, 0) AS c
      FROM (SELECT DISTINCT col, part FROM cnt) p
      JOIN (SELECT DISTINCT col, bucket FROM cnt) b USING (col)
      LEFT JOIN cnt c ON c.col = p.col AND c.part = p.part AND c.bucket = b.bucket
    ),
    en AS (
      SELECT col, part, bucket,
             CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY col, part) AS p,
             CAST(sum(c) OVER (PARTITION BY col, bucket) AS DOUBLE)
               / sum(c) OVER (PARTITION BY col) AS q
      FROM pgrid
    ),
    ks AS (
      SELECT col, part, max(abs(cdf_p - cdf_q)) AS ks FROM (
        SELECT col, part,
               sum(p) OVER (PARTITION BY col, part ORDER BY bucket) AS cdf_p,
               sum(q) OVER (PARTITION BY col, part ORDER BY bucket) AS cdf_q
        FROM en
      ) GROUP BY col, part
    ),
    pv AS (SELECT col, part, bucket, floor(p * 1e6 + 0.5) AS pv FROM en),
    st AS (
      SELECT col, part, bucket, pv,
             sum(pv) OVER w AS s1,
             sum(pv * pv) OVER w AS s2,
             count(*) OVER w AS n,
             quantile_cont(pv, 0.25) OVER w AS q1,
             quantile_cont(pv, 0.75) OVER w AS q3
      FROM pv
      WINDOW w AS (PARTITION BY col, bucket ORDER BY part
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    ),
    z AS (
      SELECT col, part,
             abs(pv - mu) / (CASE WHEN sd > 0 THEN sd ELSE 1 END) AS az,
             CAST(pv < q1 - 1.5 * (CASE WHEN q3 - q1 = 0
                                        THEN 1.0 ELSE q3 - q1 END)
                  OR pv > q3 + 1.5 * (CASE WHEN q3 - q1 = 0
                                           THEN 1.0 ELSE q3 - q1 END)
                  AS INTEGER) AS br
      FROM (
        SELECT col, part, pv, q1, q3, s1 / n AS mu,
               sqrt(greatest(
                 CASE WHEN n > 1 THEN (s2 - s1 * s1 / n) / (n - 1)
                      ELSE 0.0 END, 0.0)) AS sd
        FROM st
      )
    ),
    agg AS (
      SELECT col, part, max(az) AS zmax, sum(br) AS breaches
      FROM z GROUP BY col, part
    )
    SELECT agg.col AS "column",
           CAST(agg.part AS INTEGER) AS part,
           CAST(floor(ks.ks * 1e4 + 0.5) AS BIGINT) AS ks_e4,
           CAST(floor(agg.zmax * 1e4 + 0.5) AS BIGINT) AS zmax_e4,
           CAST(agg.breaches AS BIGINT) AS iqr_breaches,
           CAST(agg.zmax > 1.4 AS INTEGER) AS z_flag,
           CAST(agg.breaches > 0 AS INTEGER) AS iqr_flag
    FROM agg JOIN ks ON agg.col = ks.col AND agg.part = ks.part
"""


@register("drift_rolling_documents", _DRIFT_ROLL_SQL)
def drift_rolling_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DriftCheck(rolling_window=4): trailing-window z-score + IQR
    fences over a 10-partition sequence whose final partition is the
    planted all-English regime change — the rolling baseline flags it
    at the n=4 sample-std maximum (z=1.5 > 1.4) while early mixed
    partitions stay under the gate."""
    from anomaly_detection_toolkit_spark.plans.checks import DriftCheck
    from anomaly_detection_toolkit_spark.sources.testdata import load_table

    d = load_table(spark, "documents", sf_dir)
    h60 = F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10).cast("long")
    lang_code = (
        F.when(F.col("lang") == "en", 0)
        .when(F.col("lang") == "fr", 1)
        .when(F.col("lang") == "es", 2)
        .when(F.col("lang") == "de", 3)
        .otherwise(4)
    )
    fact = d.select(
        F.when(F.col("lang") == "en", F.lit(9))
        .otherwise(F.pmod(F.col("doc_id"), 9).cast("int"))
        .cast("int")
        .alias("part"),
        lang_code.cast("int").alias("lang_code"),
        F.least(F.floor(F.col("n_chars") / 50), F.lit(10)).cast("long").alias("len_b"),
        F.pmod(h60, F.lit(8)).alias("hash_b"),
    )
    chk = DriftCheck(
        columns={
            "lang_code": F.col("lang_code").cast("double"),
            "len_b": F.col("len_b").cast("double"),
            "hash_b": F.col("hash_b").cast("double"),
        },
        z_threshold=1.4,
        iqr_k=1.5,
        quantize=6,
        rolling_window=4,
    )
    out = chk.scores(fact)
    return out.select(
        "column",
        F.col("part").cast("int").alias("part"),
        F.floor(F.col("ks") * 1e4 + F.lit(0.5)).cast("bigint").alias("ks_e4"),
        F.floor(F.col("zmax") * 1e4 + F.lit(0.5)).cast("bigint").alias("zmax_e4"),
        F.col("iqr_breaches").cast("bigint").alias("iqr_breaches"),
        (F.col("zmax") > 1.4).cast("int").alias("z_flag"),
        (F.col("iqr_breaches") > 0).cast("int").alias("iqr_flag"),
    )


# ---------------------------------------------------------------------------
# The fourth north-star drift primitive — PCA reconstruction error over
# partitions-as-histogram-rows — hash-gated END TO END: the DuckDB
# oracle pivots the same 24×8 proportion matrix and diagonalizes its
# correlation matrix with the proven unrolled cyclic-Jacobi CTE chain
# (entry_pca._jacobi_ctes, the machinery behind
# pca_partialrank_embeddings), then replays PCADetector's
# variance-ratio component pick, residual sum of squares, and
# quantile(0.95) verdict.
# ---------------------------------------------------------------------------


def _drift_pca_sql(d: int = 8, parts: int = 24, sweeps: int = 6) -> str:
    from anomaly_detection_toolkit_spark.entry_pca import _jacobi_ctes

    pivots = ", ".join(
        f"sum(CASE WHEN b = {i} THEN c ELSE 0 END)"
        f" / CAST(sum(c) AS DOUBLE) AS x{i}"
        for i in range(d)
    )
    stats = ", ".join(
        f"avg(x{i}) AS m{i}, stddev_pop(x{i}) AS s{i}" for i in range(d)
    )
    zcols = ", ".join(
        f"(x{i} - m{i}) / (CASE WHEN s{i} = 0 THEN 1.0 ELSE s{i} END) AS z{i}"
        for i in range(d)
    )
    corr_rows = " UNION ALL ".join(
        f"SELECT {i} AS i, {j} AS j, avg(z{i} * z{j}) AS v FROM z"
        for i in range(d)
        for j in range(d)
    )
    ident = " UNION ALL ".join(
        f"SELECT {i} AS i, {j} AS j, CAST({1 if i == j else 0} AS DOUBLE) AS v"
        for i in range(d)
        for j in range(d)
    )
    zu = " UNION ALL ".join(
        f"SELECT id, {i} AS k, z{i} AS z FROM z" for i in range(d)
    )
    jac, a_last, v_last = _jacobi_ctes(d, sweeps)
    return f"""
    WITH fact AS (
      SELECT CAST(doc_id % {parts} AS INTEGER) AS part,
             CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) % {d} AS b
      FROM documents
    ),
    cnt AS (SELECT part, b, count(*) AS c FROM fact GROUP BY 1, 2),
    f AS MATERIALIZED (SELECT part AS id, {pivots} FROM cnt GROUP BY part),
    s AS MATERIALIZED (SELECT count(*) AS n, {stats} FROM f),
    z AS MATERIALIZED (SELECT id, {zcols} FROM f, s),
    corr AS MATERIALIZED ({corr_rows}),
    a0 AS MATERIALIZED (SELECT * FROM corr),
    v0 AS MATERIALIZED ({ident}),{jac},
    eig AS MATERIALIZED (
      SELECT j AS comp, v AS lam,
             row_number() OVER (ORDER BY v DESC, j) AS rk
      FROM {a_last} WHERE i = j
    ),
    ksel AS (
      SELECT least(CAST(count(*) AS INTEGER) + 1, {d}) AS k FROM (
        SELECT rk, sum(lam) OVER (ORDER BY rk) / (SELECT sum(lam) FROM eig)
          AS cum
        FROM eig
      ) WHERE cum <= 0.8
    ),
    zu AS MATERIALIZED ({zu}),
    proj AS MATERIALIZED (
      SELECT zu.id, e.rk, sum(zu.z * vf.v) AS p
      FROM zu
      JOIN {v_last} vf ON vf.i = zu.k
      JOIN eig e ON e.comp = vf.j
      GROUP BY zu.id, e.rk
    ),
    zz AS (SELECT id, sum(z * z) AS zz FROM zu GROUP BY id),
    sc AS (
      SELECT zz.id,
             greatest(zz.zz - (SELECT sum(p.p * p.p) FROM proj p
                               WHERE p.id = zz.id
                                 AND p.rk <= (SELECT k FROM ksel)), 0.0)
               AS score
      FROM zz
    ),
    thr AS (SELECT quantile_cont(score, 0.95) AS tr FROM sc)
    SELECT id AS part,
           round(score, 4) AS score,
           CAST(CASE WHEN score > tr THEN -1 ELSE 1 END AS INTEGER) AS verdict
    FROM sc, thr
    """


@register("drift_pca_documents", _drift_pca_sql())
def drift_pca_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCADriftCheck end to end over a 24-partition md5-bucket
    histogram of the documents table: one groupBy histogram pass →
    dense pivot → the real PCADetector (suff-stats + driver eigh) →
    reconstruction score + percentile verdict per partition."""
    from anomaly_detection_toolkit_spark.plans.checks import PCADriftCheck
    from anomaly_detection_toolkit_spark.sources.testdata import load_table

    docs = load_table(spark, "documents", sf_dir)
    h60 = F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10).cast("long")
    fact = docs.select(
        F.pmod(F.col("doc_id"), F.lit(24)).cast("int").alias("part"),
        F.pmod(h60, F.lit(8)).cast("double").alias("b"),
    )
    chk = PCADriftCheck(
        "hash_b",
        F.col("b"),
        n_components=0.8,
        contamination=0.05,
    )
    out = chk.scores(fact)
    return out.select(
        F.col("part").cast("int").alias("part"),
        r4(F.col("score")).alias("score"),
        F.col("verdict").cast("int").alias("verdict"),
    )


# ---------------------------------------------------------------------------
# Cross-RUN (temporal) drift, hash-gated end to end (register_extra:
# local parity gate — the driver registry stays at exactly 50): the
# events table is bucketed into per-day "runs" of per-cell metrics
# (exact integer counts + quantized value sums, so every history
# aggregate is order-independent integer arithmetic in double
# carriers), and plans/history.history_drift scores the NEWEST day
# against all prior days — the z-score / IQR-fence math, the σ=0→1
# guard, conditional (FILTER-style) aggregation and the
# interpolated-quartile fences are all re-derived in DuckDB.
# The synthetic day grid is uniform by construction, so the pair
# PLANTS a regime change (the suite's defect-injection convention):
# the newest day keeps only every 5th 'click' event, so its 8 click
# cells (2 checks × 4 parts) genuinely drift while the other 32 cells
# stay normal — the pair exercises BOTH verdicts and both breach
# kinds.
# ---------------------------------------------------------------------------

_HISTORY_DRIFT_SQL = r"""
    WITH ev AS (
      SELECT * FROM events
      WHERE NOT (dayofyear(ts) = (SELECT max(dayofyear(ts)) FROM events)
                 AND event_type = 'click' AND event_id % 5 <> 0)
    ),
    m0 AS (
      SELECT dayofyear(ts) AS run_seq,
             CAST(user_id % 4 AS INTEGER) AS part,
             event_type AS metric,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
               AS vsum
      FROM ev GROUP BY 1, 2, 3
    ),
    m AS (
      SELECT run_seq, part, metric, 'evt_count' AS chk, n AS value FROM m0
      UNION ALL
      SELECT run_seq, part, metric, 'evt_vsum', vsum FROM m0
    ),
    mx AS (SELECT max(run_seq) AS cur FROM m),
    st AS (
      SELECT m.chk, m.part, m.metric,
             count(*) FILTER (WHERE m.run_seq < mx.cur) AS hist_n,
             avg(m.value) FILTER (WHERE m.run_seq < mx.cur) AS mu,
             avg(m.value * m.value) FILTER (WHERE m.run_seq < mx.cur) AS msq,
             quantile_cont(m.value, 0.25) FILTER (WHERE m.run_seq < mx.cur)
               AS q1,
             quantile_cont(m.value, 0.75) FILTER (WHERE m.run_seq < mx.cur)
               AS q3,
             max(m.value) FILTER (WHERE m.run_seq = mx.cur) AS value,
             max(CASE WHEN m.run_seq = mx.cur THEN 1 ELSE 0 END) AS has_cur
      FROM m, mx GROUP BY 1, 2, 3
    ),
    sc AS (
      SELECT chk, part, metric, value, hist_n, mu,
             CASE WHEN hist_n > 0
                  THEN sqrt(greatest(msq - mu * mu, 0)) END AS sd,
             q1, q3,
             q1 - 1.5 * (CASE WHEN q3 - q1 = 0 THEN 1.0 ELSE q3 - q1 END)
               AS lo,
             q3 + 1.5 * (CASE WHEN q3 - q1 = 0 THEN 1.0 ELSE q3 - q1 END)
               AS hi
      FROM st WHERE has_cur = 1
    ),
    z AS (
      SELECT *, CASE WHEN hist_n > 0
                     THEN (value - mu)
                          / (CASE WHEN sd > 0 THEN sd ELSE 1 END) END AS z
      FROM sc
    )
    SELECT chk AS "check", part, metric,
           CAST(value AS BIGINT) AS value_i,
           CAST(hist_n AS BIGINT) AS hist_n,
           CAST(floor(mu * 1e4 + 0.5) AS BIGINT) AS mu_e4,
           CAST(floor(sd * 1e4 + 0.5) AS BIGINT) AS sd_e4,
           CAST(floor(z * 1e4 + 0.5) AS BIGINT) AS z_e4,
           CAST(floor(q1 * 1e4 + 0.5) AS BIGINT) AS q1_e4,
           CAST(floor(q3 * 1e4 + 0.5) AS BIGINT) AS q3_e4,
           CAST(coalesce(abs(z) > 2.5, FALSE) AS INTEGER) AS z_flag,
           CAST(coalesce(value < lo OR value > hi, FALSE) AS INTEGER)
             AS iqr_flag,
           CAST(CASE WHEN hist_n >= 5
                      AND (coalesce(abs(z) > 2.5, FALSE)
                           OR coalesce(value < lo OR value > hi, FALSE))
                     THEN -1 ELSE 1 END AS INTEGER) AS verdict
    FROM z
"""


@register("history_drift_events", _HISTORY_DRIFT_SQL)
def history_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """plans/history.history_drift over per-day metric runs derived
    from the events table: metric values are exact integers (counts
    and floor(value*100+0.5) sums), making the cross-engine history
    moments bit-identical; outputs are floor(x*1e4+0.5) integers."""
    from anomaly_detection_toolkit_spark.plans.history import history_drift
    from anomaly_detection_toolkit_spark.sources.testdata import load_table

    ev = load_table(spark, "events", sf_dir)
    # plant the regime change on the newest day (see the SQL comment)
    mx = ev.agg(F.max(F.dayofyear("ts"))).first()[0]
    ev = ev.filter(
        ~(
            (F.dayofyear("ts") == F.lit(mx))
            & (F.col("event_type") == "click")
            & (F.pmod(F.col("event_id"), F.lit(5)) != 0)
        )
    )
    runs = ev.groupBy(
        F.dayofyear("ts").alias("run_seq"),
        F.pmod(F.col("user_id"), F.lit(4)).cast("int").alias("part"),
        F.col("event_type").alias("metric"),
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)))
        .cast("double")
        .alias("vsum"),
    )
    metrics = runs.select(
        "run_seq",
        "part",
        "metric",
        F.expr("stack(2, 'evt_count', n, 'evt_vsum', vsum) AS (check, value)"),
    )
    scored = history_drift(metrics, z_threshold=2.5, iqr_k=1.5, min_history=5)
    e4 = lambda c: F.floor(F.col(c) * 1e4 + F.lit(0.5)).cast("bigint")  # noqa: E731
    return scored.select(
        "check",
        "part",
        "metric",
        F.col("value").cast("bigint").alias("value_i"),
        F.col("hist_n").cast("bigint").alias("hist_n"),
        e4("mu").alias("mu_e4"),
        F.when(F.col("hist_n") > 0, e4("sd")).alias("sd_e4"),
        e4("z").alias("z_e4"),
        e4("q1").alias("q1_e4"),
        e4("q3").alias("q3_e4"),
        F.col("z_breach").cast("int").alias("z_flag"),
        F.col("iqr_breach").cast("int").alias("iqr_flag"),
        F.col("verdict").cast("int").alias("verdict"),
    )


# ---------------------------------------------------------------------------
# Quarantine + clean-table, hash-gated end to end (register_extra):
# uniqueness + referential violations over the suite-grid fact reduce
# to the distinct error-level entity ids, and clean_table LEFT-ANTI
# joins them away. The oracle re-derives the whole pipeline in SQL —
# dup-key detection, orphan-caption detection, the id union and the
# anti-join — so both the id derivation and the surviving row set are
# value-hash checked. Output: one row per doc_key with its fate.
# ---------------------------------------------------------------------------

_QUARANTINE_SQL = r"""
    WITH fact AS (
      SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_key,
             CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) % 16
               AS phash16,
             'see doc_' || CAST(CASE WHEN doc_id % 17 = 0
                                     THEN doc_id + 1000000
                                     WHEN doc_id >= 7 THEN doc_id - 7
                                     ELSE doc_id END AS VARCHAR) AS caption
      FROM documents
    ),
    dups AS (SELECT phash16 FROM fact GROUP BY 1 HAVING count(*) > 1),
    dup_ids AS (
      SELECT DISTINCT f.doc_key FROM fact f JOIN dups USING (phash16)
    ),
    orphan_ids AS (
      SELECT DISTINCT f.doc_key FROM fact f
      WHERE regexp_extract(f.caption, 'doc_\d+') <> ''
        AND regexp_extract(f.caption, 'doc_\d+')
            NOT IN (SELECT doc_key FROM fact)
    ),
    q AS (SELECT doc_key FROM dup_ids UNION SELECT doc_key FROM orphan_ids)
    SELECT doc_key, 'quarantined' AS kind FROM q
    UNION ALL
    SELECT f.doc_key, 'kept'
    FROM fact f WHERE f.doc_key NOT IN (SELECT doc_key FROM q)
"""


@register("quarantine_clean_documents", _QUARANTINE_SQL)
def quarantine_clean_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quarantine_ids + clean_table over real check output: every
    doc_key is either 'quarantined' (implicated in a phash16 dup or
    an orphan caption) or 'kept' (survives the broadcast anti-join)."""
    from anomaly_detection_toolkit_spark.plans.checks import (
        ReferentialCheck,
        UniquenessCheck,
    )
    from anomaly_detection_toolkit_spark.plans.runner import (
        clean_table,
        quarantine_ids,
    )

    fact = _suite_grid_fact(spark, sf_dir)
    u = UniquenessCheck("phash16", entity_col="doc_key").run(fact)
    r = ReferentialCheck(
        caption_col="caption", ref_col="doc_key", pattern=r"(doc_\d+)"
    ).run(fact)
    viols = u.violations.unionByName(r.violations)
    ids = quarantine_ids(viols)
    kept = clean_table(fact, ids, entity_col="doc_key")
    return ids.select(
        F.col("entity_id").alias("doc_key"), F.lit("quarantined").alias("kind")
    ).unionByName(kept.select("doc_key", F.lit("kept").alias("kind")))
