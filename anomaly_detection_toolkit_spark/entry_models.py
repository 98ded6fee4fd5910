"""Driver-contract queries for LOF (op-23), the streaming sliding
buffer (ops 54-55, replayed as availableNow batches through the REAL
streaming operator), and the composed PM feature pipeline (op-47,
fully oracle-checked)."""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from anomaly_detection_toolkit_spark.entry_queries import r4, register, register_extra
from anomaly_detection_toolkit_spark.operators import pm, similarity
from anomaly_detection_toolkit_spark.operators.lof import approx_lof
from anomaly_detection_toolkit_spark.sources.testdata import load_table

# --- approximate LOF: SRP buckets + joins + windows are all ANSI-SQL ---

_LOF_K, _LOF_THR, _LOF_PLANES, _LOF_DIM = 10, 1.5, 4, 64


def _lof_bucket_sql(alias: str) -> str:
    """SRP bucket expression over the same md5-derived hyperplanes the
    Spark operator uses (similarity.plane_signs) — buckets match
    bit-for-bit because the plane constants are literal."""
    cases = []
    for p, signs in enumerate(similarity.plane_signs(_LOF_PLANES, _LOF_DIM)):
        dotp = " + ".join(
            f"({float(s)}) * CAST({alias}.embedding[{i + 1}] AS DOUBLE)"
            for i, s in enumerate(signs)
        )
        cases.append(f"(CASE WHEN ({dotp}) >= 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(cases) + ")"


_LOF_DIST_SQL = f"""sqrt(list_sum(list_transform(range(1, {_LOF_DIM + 1}),
    i -> (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))
         * (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE)))))"""

_LOF_SQL = f"""
    WITH eb AS (
      SELECT vec_id AS id, embedding, {_lof_bucket_sql('eb0')} AS bucket
      FROM embeddings eb0
    ),
    pairs AS (
      SELECT a.id AS id, b.id AS nid, {_LOF_DIST_SQL} AS d
      FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.id <> b.id
    ),
    knn AS (
      SELECT id, nid, d FROM (
        SELECT id, nid, d,
               row_number() OVER (PARTITION BY id
                                  ORDER BY round(d, 6) ASC, nid) AS rnk
        FROM pairs
      ) WHERE rnk <= {_LOF_K}
    ),
    kd AS (SELECT id, max(d) AS kdist FROM knn GROUP BY id),
    reach AS (
      SELECT k.id, k.nid, greatest(kd.kdist, k.d) AS reach
      FROM knn k JOIN kd ON kd.id = k.nid
    ),
    lrd AS (
      SELECT id, 1.0 / greatest(avg(reach), 1e-12) AS lrd
      FROM reach GROUP BY id
    ),
    mlo AS (
      SELECT k.id, avg(lo.lrd) AS mean_lrd_o
      FROM knn k JOIN lrd lo ON lo.id = k.nid
      GROUP BY k.id
    ),
    lof AS (
      SELECT m.id, m.mean_lrd_o / l.lrd AS lof
      FROM mlo m JOIN lrd l ON l.id = m.id
    )
    SELECT e.id, round(l.lof, 4) AS lof,
           CAST(CASE WHEN l.lof IS NULL OR l.lof > {_LOF_THR}
                     THEN -1 ELSE 1 END AS INTEGER) AS verdict
    FROM (SELECT id FROM eb) e LEFT JOIN lof l USING (id)
"""


@register("lof_embeddings", _LOF_SQL)
def lof_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    out = approx_lof(
        emb, k=_LOF_K, threshold=_LOF_THR, n_planes=_LOF_PLANES, dim=_LOF_DIM
    )
    return out.select("id", r4(F.col("lof")).alias("lof"), "verdict")


_PREP_SQL = """
    SELECT l_orderkey, l_linenumber,
           CAST(greatest(0, max(l_linenumber) OVER (PARTITION BY l_orderkey)
                            - l_linenumber) AS INTEGER) AS rul,
           CASE WHEN greatest(0, max(l_linenumber) OVER (PARTITION BY l_orderkey)
                                 - l_linenumber) > 3 THEN 'healthy'
                WHEN greatest(0, max(l_linenumber) OVER (PARTITION BY l_orderkey)
                                 - l_linenumber) > 1 THEN 'warning'
                WHEN greatest(0, max(l_linenumber) OVER (PARTITION BY l_orderkey)
                                 - l_linenumber) > 0 THEN 'critical'
                ELSE 'failed' END AS health_status,
           CAST(CASE WHEN greatest(0, max(l_linenumber) OVER (PARTITION BY l_orderkey)
                                      - l_linenumber) > 3
                     THEN 0 ELSE 1 END AS INTEGER) AS binary_label,
           round(avg(CAST(l_quantity AS DOUBLE)) OVER w3, 4) AS q_rmean,
           round(stddev_samp(CAST(l_quantity AS DOUBLE)) OVER w3, 4) AS q_rstd,
           round(min(CAST(l_extendedprice AS DOUBLE)) OVER w3, 4) AS p_rmin,
           round(max(CAST(l_extendedprice AS DOUBLE)) OVER w3, 4) AS p_rmax
    FROM lineitem
    WINDOW w3 AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_extendedprice
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


@register("pm_prepare_features_lineitem", _PREP_SQL)
def pm_prepare_features_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, "lineitem", sf_dir)
    out = pm.prepare_pm_features(
        df,
        asset_id_col="l_orderkey",
        cycle_col="l_linenumber",
        feature_cols=["l_quantity", "l_extendedprice"],
        rolling_window=3,
        warning_threshold=3,
        critical_threshold=1,
        # (l_orderkey, l_linenumber) is NOT unique in the synthetic
        # data — extendedprice breaks the window-order tie
        order_cols=["l_linenumber", "l_extendedprice"],
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.col("RUL").cast("int").alias("rul"),
        "health_status",
        "binary_label",
        r4(F.col("l_quantity_rolling_mean_3")).alias("q_rmean"),
        r4(F.col("l_quantity_rolling_std_3")).alias("q_rstd"),
        r4(F.col("l_extendedprice_rolling_min_3")).alias("p_rmin"),
        r4(F.col("l_extendedprice_rolling_max_3")).alias("p_rmax"),
    )


# The stateful stream replay IS SQL-expressible for this fixture: ts
# keys are strictly increasing per asset (rn/1e6 disambiguation), so
# the deque replay equals a 20-row rolling window in event order.
# The emitted time key is the INTEGER microsecond count
# round(ts * 1e6) = ts0*1e6 + rn — never a half-way rounding case —
# because round(ts, 4) put the 5th decimal at exactly 5 for every
# rn ≡ 50 (mod 100) and Spark (HALF_UP) vs DuckDB (half-even)
# disagreed on those rows (round-2 driver hash FAIL).
_STREAM_W, _STREAM_THR, _STREAM_TAKE = 20, 2.5, 500

_STREAM_SQL = f"""
    WITH e AS (
      SELECT event_type AS asset_id, epoch(ts) AS ts0, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY epoch(ts), event_id) AS rn
      FROM events
    ),
    f AS (
      SELECT asset_id, ts0 + rn / 1e6 AS ts, value, rn
      FROM e WHERE rn <= {_STREAM_TAKE}
    ),
    w AS (
      SELECT asset_id, ts, rn, value,
             avg(value) OVER win AS mu,
             stddev_pop(value) OVER win AS sd
      FROM f
      WINDOW win AS (PARTITION BY asset_id ORDER BY rn
                     ROWS BETWEEN {_STREAM_W - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT asset_id,
           CAST(round(ts * 1e6) AS BIGINT) AS ts_us,
           CASE WHEN rn < {_STREAM_W} THEN 'buffering' ELSE 'processed' END AS status,
           CAST(least(rn, {_STREAM_W}) AS INTEGER) AS buffer_size,
           CASE WHEN rn < {_STREAM_W} THEN NULL ELSE round(mu, 4) END AS win_mean,
           CASE WHEN rn < {_STREAM_W} THEN NULL
                ELSE round(abs((value - mu)
                               / (CASE WHEN sd = 0 THEN 1.0 ELSE sd END)), 4)
                END AS score,
           CASE WHEN rn < {_STREAM_W} THEN NULL
                ELSE CAST(CASE WHEN abs((value - mu)
                                        / (CASE WHEN sd = 0 THEN 1.0 ELSE sd END))
                                    > {_STREAM_THR}
                               THEN -1 ELSE 1 END AS INTEGER)
                END AS verdict
    FROM w
"""


@register("streaming_sliding_buffer_events", _STREAM_SQL)
def streaming_sliding_buffer_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replays 500 events per event_type through the REAL
    applyInPandasWithState operator and returns the emitted
    status/score rows. The replay is THREE files with pinned distinct
    mtimes + maxFilesPerTrigger=1, so the driver gate exercises state
    persistence across micro-batch boundaries (not just one batch)."""
    import glob as _glob
    import shutil as _shutil

    from anomaly_detection_toolkit_spark.streaming import await_streaming
    from anomaly_detection_toolkit_spark.streaming.ingestion import (
        sliding_buffer_scores,
    )

    events = (
        load_table(spark, "events", sf_dir)
        .select(
            F.col("event_type").alias("asset_id"),
            F.col("ts").cast("timestamp").cast("double").alias("ts"),
            F.col("value"),
            F.col("event_id"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("asset_id").orderBy("ts", "event_id")
            ),
        )
        .filter(F.col("rn") <= 500)
        # disambiguate duplicate timestamps so the per-batch sort in
        # the stream operator is deterministic
        .withColumn("ts", F.col("ts") + F.col("rn") / 1e6)
        .select("asset_id", "ts", "value", "rn")
        .persist()
    )
    tmp = tempfile.mkdtemp(prefix="adt_stream_")
    src, sink, ckpt = (os.path.join(tmp, d) for d in ("in", "out", "ckpt"))
    os.makedirs(src)
    # rn-range chunks keep each asset's rows in event order across
    # batches; distinct pinned mtimes make micro-batch order
    # deterministic (file source processes oldest-first)
    base_t = 1_000_000_000.0
    for i, (lo, hi) in enumerate(((1, 167), (168, 334), (335, 500))):
        stage = os.path.join(tmp, f"stage{i}")
        (
            events.filter((F.col("rn") >= lo) & (F.col("rn") <= hi))
            .drop("rn")
            .coalesce(1)
            .write.json(stage)
        )
        (part,) = _glob.glob(os.path.join(stage, "part-*.json"))
        dst = os.path.join(src, f"b{i}.json")
        _shutil.copyfile(part, dst)
        os.utime(dst, (base_t + i * 60, base_t + i * 60))
    events.unpersist()
    stream = (
        spark.readStream.schema("asset_id string, ts double, value double")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = (
        sliding_buffer_scores(stream, window_size=20, threshold=2.5)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    await_streaming(q, 300)
    out = spark.read.parquet(sink)
    # integer microsecond key: ts*1e6 is within ±0.3 of the exact
    # integer ts0*1e6 + rn on both engines, so round() is unambiguous
    return out.select(
        "asset_id",
        F.round(F.col("ts") * 1e6).cast("bigint").alias("ts_us"),
        "status",
        "buffer_size",
        r4(F.col("win_mean")).alias("win_mean"),
        r4(F.col("score")).alias("score"),
        "verdict",
    )


_SALTED_SQL = """
    WITH f AS (
      SELECT doc_id, lang, source,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
               AS fingerprint
      FROM documents
    ),
    r AS (
      SELECT doc_id, lang, source, fingerprint,
             row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
      FROM f
    )
    SELECT doc_id, lang, source, fingerprint FROM r WHERE rn = 1
"""


@register("dedup_salted_documents", _SALTED_SQL)
def dedup_salted_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted repartition + sort-within-partition dedup (the literal
    north-rule uniqueness plan) — must produce exactly the keeper set
    the naive window dedup produces (the oracle)."""
    from anomaly_detection_toolkit_spark.operators.salted import salted_sorted_dedup
    from anomaly_detection_toolkit_spark.operators.text import fingerprint

    df = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "source", fingerprint(F.col("text")).alias("fingerprint")
    )
    out = salted_sorted_dedup(df, ["fingerprint"], ["doc_id"], n_salts=8)
    return out.select("doc_id", "lang", "source", "fingerprint")


# Winnowing IS SQL: k-gram polynomial hashes mod 2^64 (HUGEINT
# arithmetic with precomputed powers of the base), then the
# RIGHTMOST minimum of each w-window — encoded as min over the
# composite key h·2^32 + (2^32−1−p), which orders by (h asc, p desc).
_WIN_K, _WIN_W = 8, 4
_WIN_POWERS = [pow(1_000_003, _WIN_K - 1 - j, 1 << 64) for j in range(_WIN_K)]

_WIN_HASH_SQL = " + ".join(
    f"unicode(substring(norm, p + {j + 1}, 1)) * CAST('{_WIN_POWERS[j]}' AS HUGEINT)"
    for j in range(_WIN_K)
)

_WINNOW_SQL = f"""
    WITH t AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
      FROM documents
    ),
    hh AS (
      SELECT doc_id,
             unnest(range(0, length(norm) - {_WIN_K - 1})) AS p,
             norm
      FROM t WHERE length(norm) >= {_WIN_K}
    ),
    h AS (
      SELECT doc_id, p,
             ({_WIN_HASH_SQL}) % CAST('18446744073709551616' AS HUGEINT) AS hm
      FROM hh
    ),
    nn AS (
      SELECT doc_id, p, hm,
             count(*) OVER (PARTITION BY doc_id) AS nh,
             min(hm * 4294967296 + (4294967295 - p)) OVER
               (PARTITION BY doc_id ORDER BY p
                ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS mc
      FROM h
    ),
    picks AS (
      -- long docs: rightmost min of each full w-window
      SELECT DISTINCT doc_id,
             CAST(4294967295 - (mc % 4294967296) AS BIGINT) AS pick
      FROM nn WHERE nh >= {_WIN_W} AND p <= nh - {_WIN_W}
      UNION
      -- short docs (< w hashes): single LEFTMOST-minimum pick
      SELECT doc_id, pick FROM (
        SELECT h.doc_id, h.p AS pick,
               row_number() OVER (PARTITION BY h.doc_id
                                  ORDER BY h.hm, h.p) AS rn
        FROM h JOIN (
          SELECT doc_id FROM h GROUP BY doc_id HAVING count(*) < {_WIN_W}
        ) s USING (doc_id)
      ) WHERE rn = 1
    )
    SELECT h.doc_id AS id, CAST(h.p AS INTEGER) AS pos,
           CAST(h.hm - CAST('9223372036854775808' AS HUGEINT) AS BIGINT) AS fp
    FROM picks JOIN h ON h.doc_id = picks.doc_id AND h.p = picks.pick
"""


@register("text_winnow_documents", _WINNOW_SQL)
def text_winnow_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anomaly_detection_toolkit_spark.operators.text import winnow_fingerprints

    df = load_table(spark, "documents", sf_dir)
    return winnow_fingerprints(df, k=_WIN_K, w=_WIN_W)


# --- op-42: bfill().fillna(0) assembly over a deterministic null mask ---

_BFILL_SQL = """
    WITH v AS (
      SELECT event_id, event_type, ts,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
      FROM events
    )
    SELECT event_id,
           round(coalesce(
             first_value(v IGNORE NULLS) OVER
               (PARTITION BY event_type ORDER BY ts, event_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
             0.0), 4) AS v_filled
    FROM v
"""


@register("pm_backfill_events", _BFILL_SQL)
def pm_backfill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, "events", sf_dir).withColumn(
        "v",
        F.when(F.pmod(F.col("event_id"), 7) == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value").cast("double")),
    )
    out = pm.backfill_then_zero(df, ["v"], ["event_type"], ["ts", "event_id"])
    return out.select("event_id", r4(F.col("v")).alias("v_filled"))


# --- op-53: PMProcessPipeline with a z-score detector (SQL-expressible
# because the ML models are absent → null channels, and the detector is
# a closed-form fit + projection) ---

_PIPE_SQL = """
    WITH panel AS (
      SELECT l_orderkey, l_linenumber,
             avg(CAST(l_extendedprice AS DOUBLE)) AS price
      FROM lineitem GROUP BY 1, 2
    ),
    s AS (SELECT avg(price) AS mu, stddev_pop(price) AS sigma FROM panel),
    latest AS (
      SELECT l_orderkey, l_linenumber, price,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_linenumber DESC) AS rn
      FROM panel
    )
    SELECT l.l_orderkey, l.l_linenumber,
           CAST(NULL AS DOUBLE) AS rul_pred,
           CAST(NULL AS INTEGER) AS failure_pred,
           CAST(NULL AS DOUBLE) AS failure_proba,
           round(abs((l.price - s.mu)
                     / (CASE WHEN s.sigma = 0 OR s.sigma IS NULL
                             THEN 1.0 ELSE s.sigma END)), 4) AS score,
           CAST(CASE WHEN abs((l.price - s.mu)
                              / (CASE WHEN s.sigma = 0 OR s.sigma IS NULL
                                      THEN 1.0 ELSE s.sigma END)) > 3.0
                     THEN -1 ELSE 1 END AS INTEGER) AS verdict
    FROM latest l, s WHERE l.rn = 1
"""


@register("pm_process_pipeline_lineitem", _PIPE_SQL)
def pm_process_pipeline_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op-53 through the real composite: latest-cycle selection, null
    model channels (no RUL/classifier fitted), z-score anomaly verdict
    on the per-cycle mean price. The panel is pre-aggregated so the
    latest-cycle window has a unique order key (synthetic lineitem has
    duplicate (orderkey, linenumber) rows)."""
    from anomaly_detection_toolkit_spark.operators.pm_models import PMProcessPipeline
    from anomaly_detection_toolkit_spark.operators.statistical import ZScoreDetector

    panel = (
        load_table(spark, "lineitem", sf_dir)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.avg(F.col("l_extendedprice").cast("double")).alias("price"))
        .persist()  # feeds detector fit + latest-cycle window + alerts
    )
    det = ZScoreDetector(threshold=3.0).fit(panel, ["price"])
    pipe = PMProcessPipeline(anomaly_detector=det)
    results, _alerts = pipe.process(panel, "l_orderkey", "l_linenumber")
    return results.select(
        "l_orderkey",
        "l_linenumber",
        "rul_pred",
        "failure_pred",
        "failure_proba",
        r4(F.col("score")).alias("score"),
        "verdict",
    )


# RF training itself is genuinely non-SQL, but its CONTRACT is: one
# scored row per input row, rul_pred clipped ≥ 0
# (predictive_maintenance.py:326), failure_pred ∈ {0,1},
# failure_proba ∈ [0,1]. Those invariants ARE oracle-checkable: the
# query emits per-row invariant bits, the oracle reproduces the key
# multiset with all-ones bits — hash-green iff every scored row
# satisfies the model contract over the full panel. Prediction VALUE
# determinism (pinned seeds, same session) is pinned by
# tests/test_pm_models.py.
_RUL_MODEL_SQL = """
    SELECT l_orderkey, l_linenumber,
           CAST(1 AS INTEGER) AS rul_nonneg,
           CAST(1 AS INTEGER) AS pred_is_binary,
           CAST(1 AS INTEGER) AS proba_in_range
    FROM lineitem
"""


def _fit_rul_models(spark: SparkSession, sf_dir: str):
    """Shared ops-48/49 pipeline: engineer features, train the Spark
    ML RUL regressor + failure classifier, score every panel row."""
    from anomaly_detection_toolkit_spark.operators.pm_models import (
        FailureClassifier,
        RULEstimator,
    )

    df = load_table(spark, "lineitem", sf_dir)
    feats = pm.prepare_pm_features(
        df,
        asset_id_col="l_orderkey",
        cycle_col="l_linenumber",
        feature_cols=["l_quantity", "l_extendedprice", "l_discount"],
        rolling_window=3,
        warning_threshold=3,
        critical_threshold=1,
        order_cols=["l_linenumber", "l_extendedprice"],
    )
    fcols = ["l_quantity", "l_extendedprice", "l_discount",
             "l_quantity_rolling_mean_3", "l_quantity_rolling_std_3"]
    # the window-heavy feature lineage feeds FOUR consumers (two
    # Pipeline.fit passes, two predict transforms) and Spark does not
    # CSE plans across actions — persist it once (same pattern as
    # dedup's exploded/banded intermediates; bench clears cache
    # between queries)
    feats = feats.fillna(0.0, subset=fcols).persist()
    est = RULEstimator(n_estimators=20, max_depth=6).fit(feats, fcols, "RUL")
    clf = FailureClassifier(n_estimators=20, max_depth=6).fit(
        feats, fcols, "binary_label"
    )
    return clf.predict(est.predict(feats))


@register("pm_rul_model_lineitem", _RUL_MODEL_SQL)
def pm_rul_model_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops 48-49 end to end under the HARD gate (see _RUL_MODEL_SQL):
    train + score, then project each scored row's contract-invariant
    bits. A model bug (negative RUL, non-binary class, proba outside
    [0,1], dropped/duplicated rows) breaks the value hash."""
    out = _fit_rul_models(spark, sf_dir)
    return out.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("rul_pred") >= 0).cast("int").alias("rul_nonneg"),
        F.col("failure_pred").isin(0, 1).cast("int").alias("pred_is_binary"),
        (
            (F.col("failure_proba") >= 0) & (F.col("failure_proba") <= 1)
        ).cast("int").alias("proba_in_range"),
    )


# --- ops 30-31: REAL trained dense autoencoder under the hash gate.
# Training (seeded Adam on MSE, the reference's PyTorch loop in
# numpy) is RNG-driven and non-SQL — but, like the iForest oracle,
# it is deterministic given the sample, and the sample is collected
# in an engine-stable order (60-bit md5 of the seed-salted series
# key, then rn). The lazy oracle re-collects the identical sample
# from DuckDB, re-trains the IDENTICAL network via the same
# train_from_sample() code path, then re-derives the whole
# distributed scoring pipeline IN SQL: per-series MinMax scaling,
# sliding windows as a bounded self-join, every Linear+ReLU layer as
# a literal-weight matmul (sum-join per layer), score = mean |window
# − reconstruction|, per-series mean+3σ threshold, ±1 verdict, pad.
# Only the Adam training loop itself is shared between the sides. ---

_AE_W, _AE_K = 16, 3.0
_AE_HID = (8, 4)
_AE_LR, _AE_EPOCHS, _AE_BATCH, _AE_SEED = 1e-3, 20, 64, 42
_AE_MAXROWS, _AE_MAXWIN = 200_000, 4_000

def _dense_ae_oracle_sql() -> str:
    """Lazy oracle (resolved by ``resolved_oracles()`` after the
    Spark side runs): replay the EXACT training outside Spark, then
    verify the distributed scoring path with literal-weight SQL.

    Sample replay: ``fit_dense`` collects rows ordered by (60-bit md5
    of ``"<seed>,<sid>"``, rn) — string/int keys hash identically in
    both engines, so the DuckDB read reproduces the collected frame
    bit-for-bit (same doubles, same order), and ``train_from_sample``
    — the very function the Spark side calls — yields bit-identical
    weights. The emitted SQL then recomputes scoring independently:
    one sum-join per Linear layer over VALUES-literal weights."""
    import duckdb

    from anomaly_detection_toolkit_spark.operators.autoencoder import (
        train_from_sample,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_GATE_SF_DIR", "/root/testdata/sf0.01")
    con = duckdb.connect()
    pdf = con.execute(
        f"""
        WITH e AS (
          SELECT event_type AS sid, CAST(value AS DOUBLE) AS val,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY epoch(ts), event_id) AS rn
          FROM '{sf_dir}/events.parquet'
        )
        SELECT sid, val FROM e
        ORDER BY CAST('0x' || substring(
                   md5('{_AE_SEED}' || ',' || sid), 1, 15) AS BIGINT), rn
        LIMIT {_AE_MAXROWS}
        """
    ).df()
    scale = {
        str(sid): (float(mn), float(mx))
        for sid, mn, mx in con.execute(
            f"""
            SELECT event_type, min(CAST(value AS DOUBLE)),
                   max(CAST(value AS DOUBLE))
            FROM '{sf_dir}/events.parquet' GROUP BY 1
            """
        ).fetchall()
    }
    con.close()
    ae = train_from_sample(
        pdf, scale, _AE_W, _AE_HID, _AE_LR, _AE_EPOCHS, _AE_BATCH,
        _AE_SEED, _AE_MAXWIN,
    )

    layer_ctes = []
    prev = "win"
    last = len(ae.weights) - 1
    for li, (w, b) in enumerate(zip(ae.weights, ae.biases)):
        wlits = ",".join(
            f"({j},{k},{float(w[j, k])!r})"
            for j in range(w.shape[0])
            for k in range(w.shape[1])
        )
        blits = ",".join(f"({k},{float(b[k])!r})" for k in range(len(b)))
        act = "t.s + bb.b" if li == last else "greatest(t.s + bb.b, 0.0)"
        layer_ctes.append(
            f"""wt{li}(j, k, w) AS (VALUES {wlits}),
    bv{li}(k, b) AS (VALUES {blits}),
    h{li} AS MATERIALIZED (
      SELECT t.sid, t.i, t.k AS j, {act} AS a
      FROM (SELECT p.sid, p.i, wl.k, sum(p.a * wl.w) AS s
            FROM {prev} p JOIN wt{li} wl ON wl.j = p.j
            GROUP BY p.sid, p.i, wl.k) t
      JOIN bv{li} bb ON bb.k = t.k
    )"""
        )
        prev = f"h{li}"
    layers_sql = ",\n    ".join(layer_ctes)

    return f"""
    WITH e AS MATERIALIZED (
      SELECT event_type AS sid, CAST(value AS DOUBLE) AS value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY epoch(ts), event_id) AS rn
      FROM events
    ),
    mm AS (SELECT sid, min(value) AS mn, max(value) AS mx FROM e GROUP BY sid),
    s AS MATERIALIZED (
      SELECT e.sid, e.rn,
             CASE WHEN mm.mx > mm.mn THEN (e.value - mm.mn) / (mm.mx - mm.mn)
                  ELSE 0.0 END AS xs
      FROM e JOIN mm USING (sid)
    ),
    win AS MATERIALIZED (
      SELECT sa.sid, sa.rn AS i, sb.rn - sa.rn + {_AE_W - 1} AS j, sb.xs AS a
      FROM s sa JOIN s sb ON sb.sid = sa.sid
                         AND sb.rn BETWEEN sa.rn - {_AE_W - 1} AND sa.rn
      WHERE sa.rn >= {_AE_W}
    ),
    {layers_sql},
    sc AS (
      SELECT w.sid, w.i, avg(abs(w.a - r.a)) AS score
      FROM win w JOIN {prev} r ON r.sid = w.sid AND r.i = w.i AND r.j = w.j
      GROUP BY w.sid, w.i
    ),
    thr AS (
      SELECT sid, avg(score) + {_AE_K} * stddev_pop(score) AS thr
      FROM sc GROUP BY sid
    )
    SELECT s.sid, CAST(s.rn AS DOUBLE) AS rn,
           round(coalesce(sc.score, 0.0), 4) AS score,
           CAST(CASE WHEN sc.score > thr.thr THEN -1 ELSE 1 END
                AS INTEGER) AS verdict
    FROM s
    LEFT JOIN sc ON sc.sid = s.sid AND sc.i = s.rn
    LEFT JOIN thr ON thr.sid = s.sid
    """


@register("autoencoder_dense_events", _dense_ae_oracle_sql)
def autoencoder_dense_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops 30-31 closed for real: a from-scratch dense autoencoder
    (reference architecture, ``autoencoders.py:325-415``) trained on
    the driver over an engine-stable window sample, scored
    distributed via the same applyInPandas kernel the pluggable seam
    uses. The hash gate covers scale→window→train→reconstruct→score→
    threshold→pad end to end."""
    from anomaly_detection_toolkit_spark.operators.autoencoder import (
        WindowedAutoencoderDetector,
    )

    e = load_table(spark, "events", sf_dir).select(
        F.col("event_type").alias("sid"),
        F.col("value").cast("double").alias("value"),
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                F.col("ts").cast("timestamp").cast("double"), F.col("event_id")
            )
        )
        .cast("double")
        .alias("rn"),
    )
    det = WindowedAutoencoderDetector(
        window_size=_AE_W, threshold_std=_AE_K
    ).fit_dense(
        e,
        "sid",
        "rn",
        "value",
        hidden_dims=_AE_HID,
        lr=_AE_LR,
        epochs=_AE_EPOCHS,
        batch_size=_AE_BATCH,
        seed=_AE_SEED,
        max_fit_rows=_AE_MAXROWS,
        max_fit_windows=_AE_MAXWIN,
    )
    out = det.transform(e, "sid", "rn", "value")
    return out.select("sid", "rn", r4(F.col("score")).alias("score"), "verdict")


# --- op-30: the reference's ACTUAL LSTM autoencoder architecture
# (stacked LSTM encoder/decoder, autoencoders.py:110-133) in numpy,
# under a hash gate. Same replay contract as the dense pair: the
# lazy oracle re-collects the identical engine-stable sample from
# DuckDB and re-trains via train_lstm_from_sample (only the seeded
# Adam/BPTT loop is shared), then re-derives the whole distributed
# scoring pass IN SQL: the 4-layer LSTM recurrence unrolled over the
# window's steps as lateral-aliased gate expressions with literal
# weights (sigmoid gates clipped at ±60 on both engines), latent
# repeat, TimeDistributed dense, mean-abs score, per-series mean+kσ
# threshold, ±1 verdict, pad. ---

_LAE_W, _LAE_K = 8, 3.0
_LAE_UNITS = (4, 2)
_LAE_LR, _LAE_EPOCHS, _LAE_BATCH, _LAE_SEED = 1e-3, 4, 64, 43
_LAE_MAXROWS, _LAE_MAXWIN = 200_000, 512


def _lstm_layer_ctes(
    prefix: str, layer, xin_per_t: list[list[str]], prev_cte: str
) -> tuple[list[str], list[list[str]], str]:
    """Unrolled-recurrence SQL for one LSTM layer as CHAINED CTEs —
    two per step (gates, then cell/hidden). Each alias only
    references real columns of the previous CTE (plus one
    lateral-alias hop for h = o·relu(c)); a single flat SELECT of
    lateral aliases is NOT usable here because DuckDB inlines lateral
    aliases by substitution, and a 4-layer × W-step recurrence
    expands exponentially under substitution (measured: planner
    hang). Returns (cte defs, h column names per t, last cte)."""
    u = layer.units
    ctes: list[str] = []
    h_per_t: list[list[str]] = []
    prev = prev_cte
    for t, xin in enumerate(xin_per_t):
        gate_exprs = []
        for k in range(u):
            for q, gname in enumerate("ifgo"):
                col = q * u + k
                terms = [f"{xc}*{float(layer.wx[d, col])!r}" for d, xc in enumerate(xin)]
                if t > 0:
                    terms += [
                        f"{prefix}t{t - 1}h{j}*{float(layer.uh[j, col])!r}"
                        for j in range(u)
                    ]
                z = " + ".join(terms) + f" + {float(layer.b[col])!r}"
                if gname == "g":
                    expr = f"greatest({z}, 0.0)"
                else:
                    expr = f"1.0/(1.0 + exp(-greatest(least({z}, 60.0), -60.0)))"
                gate_exprs.append(f"{expr} AS {prefix}t{t}{gname}{k}")
        gcte = f"{prefix}g{t}"
        ctes.append(f"{gcte} AS (SELECT *, {', '.join(gate_exprs)} FROM {prev})")
        state_exprs = []
        for k in range(u):
            ig = f"{prefix}t{t}i{k}*{prefix}t{t}g{k}"
            c = ig if t == 0 else f"{prefix}t{t}f{k}*{prefix}t{t - 1}c{k} + {ig}"
            state_exprs.append(f"{c} AS {prefix}t{t}c{k}")
        for k in range(u):
            state_exprs.append(
                f"{prefix}t{t}o{k}*greatest({prefix}t{t}c{k}, 0.0) AS {prefix}t{t}h{k}"
            )
        scte = f"{prefix}s{t}"
        ctes.append(f"{scte} AS (SELECT *, {', '.join(state_exprs)} FROM {gcte})")
        prev = scte
        h_per_t.append([f"{prefix}t{t}h{k}" for k in range(u)])
    return ctes, h_per_t, prev


def _lstm_ae_oracle_sql() -> str:
    """Lazy oracle for ``autoencoder_lstm_events`` (see block comment
    above; resolved after the Spark side runs)."""
    import duckdb

    from anomaly_detection_toolkit_spark.operators.autoencoder import (
        train_lstm_from_sample,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_GATE_SF_DIR", "/root/testdata/sf0.01")
    con = duckdb.connect()
    pdf = con.execute(
        f"""
        WITH e AS (
          SELECT event_type AS sid, CAST(value AS DOUBLE) AS val,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY epoch(ts), event_id) AS rn
          FROM '{sf_dir}/events.parquet'
        )
        SELECT sid, val FROM e
        ORDER BY CAST('0x' || substring(
                   md5('{_LAE_SEED}' || ',' || sid), 1, 15) AS BIGINT), rn
        LIMIT {_LAE_MAXROWS}
        """
    ).df()
    scale = {
        str(sid): (float(mn), float(mx))
        for sid, mn, mx in con.execute(
            f"""
            SELECT event_type, min(CAST(value AS DOUBLE)),
                   max(CAST(value AS DOUBLE))
            FROM '{sf_dir}/events.parquet' GROUP BY 1
            """
        ).fetchall()
    }
    con.close()
    ae = train_lstm_from_sample(
        pdf, scale, _LAE_W, _LAE_UNITS, _LAE_LR, _LAE_EPOCHS, _LAE_BATCH,
        _LAE_SEED, _LAE_MAXWIN,
    )

    w = _LAE_W
    x_cols = [f"x{t}" for t in range(w)]
    ctes: list[str] = []
    e1, h1, last = _lstm_layer_ctes("la", ae.layers[0], [[c] for c in x_cols], "win")
    ctes += e1
    e2, h2, last = _lstm_layer_ctes("lb", ae.layers[1], h1, last)
    ctes += e2
    latent = h2[-1]  # RepeatVector: decoder sees the last hidden at every step
    e3, h3, last = _lstm_layer_ctes("lc", ae.layers[2], [latent] * w, last)
    ctes += e3
    e4, h4, last = _lstm_layer_ctes("ld", ae.layers[3], h3, last)
    ctes += e4
    out_exprs = []
    for t in range(w):
        terms = " + ".join(
            f"{h4[t][k]}*{float(ae.wd[k, 0])!r}" for k in range(ae.units[0])
        )
        out_exprs.append(f"{terms} + {float(ae.bd[0])!r} AS out{t}")
    ctes.append(f"dout AS (SELECT *, {', '.join(out_exprs)} FROM {last})")
    score = " + ".join(f"abs(x{t} - out{t})" for t in range(w))
    lags = ",\n             ".join(
        f"lag(xs, {w - 1 - t}) OVER wn AS x{t}" if t < w - 1 else f"xs AS x{t}"
        for t in range(w)
    )
    layer_ctes = ",\n    ".join(ctes)

    return f"""
    WITH e AS MATERIALIZED (
      SELECT event_type AS sid, CAST(value AS DOUBLE) AS value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY epoch(ts), event_id) AS rn
      FROM events
    ),
    mm AS (SELECT sid, min(value) AS mn, max(value) AS mx FROM e GROUP BY sid),
    s AS MATERIALIZED (
      SELECT e.sid, e.rn,
             CASE WHEN mm.mx > mm.mn THEN (e.value - mm.mn) / (mm.mx - mm.mn)
                  ELSE 0.0 END AS xs
      FROM e JOIN mm USING (sid)
    ),
    win AS MATERIALIZED (
      SELECT sid, rn AS i,
             {lags}
      FROM s
      WINDOW wn AS (PARTITION BY sid ORDER BY rn)
      QUALIFY rn >= {w}
    ),
    {layer_ctes},
    sc AS MATERIALIZED (
      SELECT sid, i, ({score})/{float(w)!r} AS score FROM dout
    ),
    thr AS (
      SELECT sid, avg(score) + {_LAE_K} * stddev_pop(score) AS thr
      FROM sc GROUP BY sid
    )
    SELECT s.sid, CAST(s.rn AS DOUBLE) AS rn,
           round(coalesce(sc.score, 0.0), 4) AS score,
           CAST(CASE WHEN sc.score > thr.thr THEN -1 ELSE 1 END
                AS INTEGER) AS verdict
    FROM s
    LEFT JOIN sc ON sc.sid = s.sid AND sc.i = s.rn
    LEFT JOIN thr ON thr.sid = s.sid
    """


@register("autoencoder_lstm_events", _lstm_ae_oracle_sql)
def autoencoder_lstm_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op-30's real architecture under the hash gate: stacked-LSTM
    autoencoder (numpy BPTT) trained driver-side on the engine-stable
    sample, scored distributed through the pluggable-seam kernel."""
    from anomaly_detection_toolkit_spark.operators.autoencoder import (
        WindowedAutoencoderDetector,
    )

    e = load_table(spark, "events", sf_dir).select(
        F.col("event_type").alias("sid"),
        F.col("value").cast("double").alias("value"),
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                F.col("ts").cast("timestamp").cast("double"), F.col("event_id")
            )
        )
        .cast("double")
        .alias("rn"),
    )
    det = WindowedAutoencoderDetector(
        window_size=_LAE_W, threshold_std=_LAE_K
    ).fit_lstm(
        e,
        "sid",
        "rn",
        "value",
        units=_LAE_UNITS,
        lr=_LAE_LR,
        epochs=_LAE_EPOCHS,
        batch_size=_LAE_BATCH,
        seed=_LAE_SEED,
        max_fit_rows=_LAE_MAXROWS,
        max_fit_windows=_LAE_MAXWIN,
    )
    out = det.transform(e, "sid", "rn", "value")
    return out.select("sid", "rn", r4(F.col("score")).alias("score"), "verdict")


# --- Streaming drift monitor (DriftCheck semantics over event-time
# windows, finalize-on-watermark-expiry). The availableNow replay is
# fully SQL: per-window bucket histograms vs the global baseline,
# KS = max CDF gap and PSI over the (windows x baseline-buckets)
# grid — exactly the batch DriftCheck math. ---

_SD_WIN, _SD_THR = 259200.0, 0.15  # 3-day windows over ~30 days

_STREAM_DRIFT_SQL = f"""
    WITH e AS (
      SELECT epoch(ts) AS tsd,
             least(greatest(floor(value), -4), 3) AS bucket
      FROM events WHERE value IS NOT NULL
    ),
    base AS (
      SELECT bucket, count(*) * 1.0 / (SELECT count(*) FROM e) AS q
      FROM e GROUP BY bucket
    ),
    w AS (
      SELECT floor(tsd / {_SD_WIN}) * {_SD_WIN} AS window_start,
             bucket, count(*) AS c
      FROM e GROUP BY 1, 2
    ),
    tot AS (SELECT window_start, sum(c) AS n FROM w GROUP BY 1),
    grid AS (
      SELECT t.window_start, b.bucket, coalesce(w.c, 0) AS c, t.n, b.q
      FROM tot t CROSS JOIN base b
      LEFT JOIN w ON w.window_start = t.window_start AND w.bucket = b.bucket
    ),
    en AS (
      SELECT window_start, bucket, CAST(c AS DOUBLE) / n AS p, q, n
      FROM grid
    ),
    agg AS (
      SELECT window_start, any_value(n) AS n,
             max(abs(cdf_p - cdf_q)) AS ks,
             sum((p - q) * ln(greatest(p, 1e-6) / greatest(q, 1e-6))) AS psi
      FROM (
        SELECT *,
               sum(p) OVER (PARTITION BY window_start ORDER BY bucket) AS cdf_p,
               sum(q) OVER (PARTITION BY window_start ORDER BY bucket) AS cdf_q
        FROM en
      ) GROUP BY window_start
    )
    SELECT round(window_start, 4) AS window_start, CAST(n AS BIGINT) AS n,
           round(ks, 4) AS ks, round(psi, 4) AS psi,
           CAST(CASE WHEN ks > {_SD_THR} THEN -1 ELSE 1 END AS INTEGER)
             AS verdict
    FROM agg
"""


@register("streaming_drift_events", _STREAM_DRIFT_SQL)
def streaming_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replays events through the finalize-on-watermark-expiry drift
    monitor: batch 1 = all events, batch 2 = a far-future sentinel
    that pushes the watermark past every real window so they all
    finalize (the sentinel's own window never emits); the trailing
    no-data micro-batch fires the remaining timeouts."""
    from anomaly_detection_toolkit_spark.streaming import await_streaming
    from anomaly_detection_toolkit_spark.streaming.drift import (
        streaming_drift_scores,
    )

    e = (
        load_table(spark, "events", sf_dir)
        # null values would silently diverge: pandas value_counts
        # drops NaN buckets but a SQL GROUP BY keeps a NULL group
        .filter(F.col("value").isNotNull())
        .select(
            F.col("ts").cast("timestamp").cast("double").alias("ts"),
            F.least(
                F.greatest(F.floor(F.col("value")), F.lit(-4)), F.lit(3)
            ).cast("double").alias("bucket"),
        )
    )
    base_rows = (
        e.groupBy("bucket").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    total = sum(r["c"] for r in base_rows)
    baseline = {float(r["bucket"]): r["c"] / total for r in base_rows}
    max_ts = e.agg(F.max("ts")).first()[0]

    tmp = tempfile.mkdtemp(prefix="adt_sdrift_")
    src = os.path.join(tmp, "in")
    os.makedirs(src)
    import glob as _glob
    import shutil as _shutil

    stage = os.path.join(tmp, "stage")
    e.coalesce(1).write.json(stage)
    (part,) = _glob.glob(os.path.join(stage, "part-*.json"))
    b0 = os.path.join(src, "b0.json")
    _shutil.copyfile(part, b0)
    b1 = os.path.join(src, "b1.json")
    with open(b1, "w") as f:
        f.write(json.dumps({"ts": max_ts + 1e9, "bucket": 0.0}) + "\n")
    base_t = 1_000_000_000.0
    os.utime(b0, (base_t, base_t))
    os.utime(b1, (base_t + 60, base_t + 60))

    stream = (
        spark.readStream.schema("ts double, bucket double")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    sink, ckpt = os.path.join(tmp, "out"), os.path.join(tmp, "ckpt")
    q = (
        streaming_drift_scores(
            stream, baseline, window_s=_SD_WIN,
            watermark_delay="1 hour", ks_threshold=_SD_THR,
        )
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    await_streaming(q, 300)
    out = spark.read.parquet(sink)
    return out.select(
        r4(F.col("window_start")).alias("window_start"),
        "n",
        r4(F.col("ks")).alias("ks"),
        r4(F.col("psi")).alias("psi"),
        "verdict",
    )


# --- Streaming exact dedup (streaming × dedup intersection): the
# documents table replayed as three id-range micro-batches through
# dropDuplicatesWithinWatermark; each batch file is written sorted by
# doc_id so "first arrival" is the deterministic min-id order and the
# oracle is plain first-row-per-fingerprint SQL. ---

_SDEDUP_SQL = """
    WITH f AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
               AS fingerprint
      FROM documents
    )
    SELECT doc_id, fingerprint
    FROM (
      SELECT doc_id, fingerprint,
             row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS r
      FROM f
    ) WHERE r = 1
"""


@register("streaming_dedup_documents", _SDEDUP_SQL)
def streaming_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-seen-wins streaming dedup over a 3-batch replay: state
    (one row per fingerprint inside the watermark horizon) must
    carry across micro-batch boundaries for cross-batch duplicates
    to be dropped — a state round-trip the hash gate exercises."""
    import glob as _glob
    import shutil as _shutil

    from anomaly_detection_toolkit_spark.streaming import await_streaming
    from anomaly_detection_toolkit_spark.streaming.dedup import (
        streaming_exact_dedup,
    )

    docs = (
        load_table(spark, "documents", sf_dir)
        .select(
            "doc_id",
            "text",
            # synthetic in-order event time: one second per doc id
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id")).alias("ts"),
        )
        .persist()
    )
    n = docs.agg(F.max("doc_id")).first()[0] + 1
    tmp = tempfile.mkdtemp(prefix="adt_sdedup_")
    src = os.path.join(tmp, "in")
    os.makedirs(src)
    base_t = 1_000_000_000.0
    cuts = (0, n // 3, 2 * n // 3, n)
    for i in range(3):
        stage = os.path.join(tmp, f"stage{i}")
        (
            docs.filter(
                (F.col("doc_id") >= cuts[i]) & (F.col("doc_id") < cuts[i + 1])
            )
            .coalesce(1)
            .sortWithinPartitions("doc_id")
            .write.json(stage)
        )
        (part,) = _glob.glob(os.path.join(stage, "part-*.json"))
        dst = os.path.join(src, f"b{i}.json")
        _shutil.copyfile(part, dst)
        os.utime(dst, (base_t + i * 60, base_t + i * 60))
    docs.unpersist()
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    sink, ckpt = os.path.join(tmp, "out"), os.path.join(tmp, "ckpt")
    q = (
        streaming_exact_dedup(
            stream, event_time_col="ts", watermark_delay="7 days"
        )
        .select("doc_id", "fingerprint")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    await_streaming(q, 300)
    return spark.read.parquet(sink).select("doc_id", "fingerprint")
