"""Drift primitives in distribution space (north-star scorers):
z-score + IQR fences on cross-partition bucket proportions
(DriftCheck z_threshold/iqr_k/quantize) and PCA-reconstruction-error
over partitions-as-histogram-rows (PCADriftCheck) — all against numpy
goldens on a planted-drift table.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from anomaly_detection_toolkit_spark.plans.checks import DriftCheck, PCADriftCheck

N_PARTS, N_BUCKETS, ROWS_PER_PART = 6, 8, 400


@pytest.fixture(scope="module")
def planted(spark):
    """6 partitions × 400 rows with DISTINCT histograms: every part
    over-weights bucket (part % 8) at a part-dependent rate (so the
    proportion matrix has full row variety — a same-histograms fixture
    makes PCA reconstruction vacuously 0 for everyone), and partition
    5 additionally dumps most mass on buckets 0-1 (the planted
    drift)."""
    part = F.col("id") % N_PARTS
    df = spark.range(N_PARTS * ROWS_PER_PART).select(
        part.cast("int").alias("part"),
        F.when(
            (part == N_PARTS - 1) & (F.col("id") % 7 < 5),
            (F.col("id") % 2).cast("double"),
        )
        .when(
            F.col("id") % 29 == part,
            (part % N_BUCKETS).cast("double"),
        )
        .otherwise((F.col("id") % N_BUCKETS).cast("double"))
        .alias("bucket_val"),
    )
    return df.persist()


def proportions(pdf) -> np.ndarray:
    """(parts × buckets) proportion matrix from collected rows."""
    mat = np.zeros((N_PARTS, N_BUCKETS))
    for r in pdf:
        mat[int(r["part"]), int(r["bucket_val"])] += 1
    return mat / mat.sum(axis=1, keepdims=True)


@pytest.fixture(scope="module")
def pmat(planted) -> np.ndarray:
    return proportions(planted.collect())


def drift_table(planted, **kw):
    chk = DriftCheck(columns={"b": F.col("bucket_val")}, **kw)
    out = chk.scores(planted)
    rows = {int(r["part"]): r for r in out.collect()}
    chk._last_counts.unpersist()
    return rows


def test_zscore_matches_numpy(planted, pmat):
    rows = drift_table(planted, z_threshold=2.0)
    mu = pmat.mean(axis=0)
    sd = pmat.std(axis=0)  # population, matching ZScoreDetector
    sd_safe = np.where(sd > 0, sd, 1.0)
    zmax = np.abs((pmat - mu) / sd_safe).max(axis=1)
    for part in range(N_PARTS):
        assert rows[part]["zmax"] == pytest.approx(zmax[part], rel=1e-9)
    # the planted partition is the most anomalous
    assert max(range(N_PARTS), key=lambda p: rows[p]["zmax"]) == N_PARTS - 1


def test_iqr_breaches_match_numpy(planted, pmat):
    rows = drift_table(planted, iqr_k=1.5)
    q1 = np.percentile(pmat, 25, axis=0)  # numpy linear == Spark percentile
    q3 = np.percentile(pmat, 75, axis=0)
    iqr = np.where(q3 - q1 == 0, 1.0, q3 - q1)  # reference's iqr==0→1.0 guard
    breach = (pmat < q1 - 1.5 * iqr) | (pmat > q3 + 1.5 * iqr)
    for part in range(N_PARTS):
        assert rows[part]["iqr_breaches"] == int(breach[part].sum())
    assert breach[N_PARTS - 1].sum() > 0  # planted drift is fenced out


def test_quantized_scores_are_scaled_integers(planted, pmat):
    rows = drift_table(planted, z_threshold=2.0, iqr_k=1.5, quantize=6)
    pq = np.floor(pmat * 1e6 + 0.5)
    mu, sd = pq.mean(axis=0), pq.std(axis=0)
    zmax = np.abs((pq - mu) / np.where(sd > 0, sd, 1.0)).max(axis=1)
    for part in range(N_PARTS):
        assert rows[part]["zmax"] == pytest.approx(zmax[part], rel=1e-9)


def test_ks_psi_match_numpy_with_absent_buckets(spark):
    """KS and PSI against numpy on the DENSE (parts × buckets)
    proportion matrix. Part 1 has no rows in buckets 0-1 and part 2
    none in bucket 4: the grid must carry those cells as p = 0, or
    PSI loses their (0 − q)·ln(ε/q) terms and KS its largest gap."""
    counts = np.array(
        [[30, 20, 25, 15, 10], [0, 0, 40, 35, 25], [20, 30, 30, 20, 0]]
    )
    data = [
        (p, float(b))
        for p in range(counts.shape[0])
        for b in range(counts.shape[1])
        for _ in range(int(counts[p, b]))
    ]
    df = spark.createDataFrame(data, "part int, bucket_val double")
    chk = DriftCheck(columns={"b": F.col("bucket_val")})
    rows = {int(r["part"]): r for r in chk.scores(df).collect()}
    chk._last_counts.unpersist()
    p = counts / counts.sum(axis=1, keepdims=True)
    q = counts.sum(axis=0) / counts.sum()
    ks = np.abs(np.cumsum(p, axis=1) - np.cumsum(q)).max(axis=1)
    eps = 1e-6
    psi = ((p - q) * np.log(np.maximum(p, eps) / np.maximum(q, eps))).sum(axis=1)
    assert set(rows) == set(range(counts.shape[0]))
    for part in rows:
        assert rows[part]["ks"] == pytest.approx(ks[part], rel=1e-9)
        assert rows[part]["psi"] == pytest.approx(psi[part], rel=1e-9)


def test_default_drift_table_has_no_primitive_columns(planted):
    rows = drift_table(planted)
    assert set(next(iter(rows.values())).asDict()) == {"column", "part", "ks", "psi"}


def test_primitive_violations_flag_planted_part(planted):
    chk = DriftCheck(
        columns={"b": F.col("bucket_val")},
        ks_threshold=0.99,  # silence the KS gate; isolate the primitives
        z_threshold=2.0,
        iqr_k=1.5,
    )
    out = chk.run(planted)
    v = out.violations.collect()
    assert {r["part"] for r in v if "z-score" in r["message"]} == {N_PARTS - 1}
    assert N_PARTS - 1 in {r["part"] for r in v if "IQR" in r["message"]}
    metrics = {r["metric"] for r in out.metrics.collect()}
    assert {"b.ks", "b.psi", "b.zmax", "b.iqr_breaches"} <= metrics
    for d in out.cached:
        d.unpersist()


def rolling_expected(pmat: np.ndarray, window: int):
    """Reference semantics for DriftCheck(rolling_window=W): pandas
    rolling(window=W, min_periods=1) — frame INCLUDES the current
    partition, SAMPLE std (pandas ddof default; reference
    predictive_maintenance.py:117-118) — with numpy-linear quartile
    fences on the same frame."""
    n_parts, n_buckets = pmat.shape
    zmax = np.zeros(n_parts)
    breaches = np.zeros(n_parts, dtype=int)
    for t in range(n_parts):
        frame = pmat[max(0, t - window + 1) : t + 1]
        mu = frame.mean(axis=0)
        sd = frame.std(axis=0, ddof=1) if len(frame) > 1 else np.zeros(n_buckets)
        zmax[t] = np.abs((pmat[t] - mu) / np.where(sd > 0, sd, 1.0)).max()
        q1 = np.percentile(frame, 25, axis=0)
        q3 = np.percentile(frame, 75, axis=0)
        iqr = np.where(q3 - q1 == 0, 1.0, q3 - q1)  # iqr==0→1.0 guard
        breaches[t] = int(
            ((pmat[t] < q1 - 1.5 * iqr) | (pmat[t] > q3 + 1.5 * iqr)).sum()
        )
    return zmax, breaches


def test_rolling_zscore_matches_pandas_convention(planted, pmat):
    # W=5: the fixture's parts alternate between two disjoint bucket
    # supports, so a 4-frame is bimodal with fences too wide to
    # breach; the 5-frame pins a nonzero breach at the planted part
    rows = drift_table(planted, z_threshold=2.0, iqr_k=1.5, rolling_window=5)
    zmax, breaches = rolling_expected(pmat, 5)
    for part in range(N_PARTS):
        assert rows[part]["zmax"] == pytest.approx(zmax[part], rel=1e-9)
        assert rows[part]["iqr_breaches"] == breaches[part]
    # the planted LATE drift (part 5) is scored against its trailing
    # history and is the most anomalous partition in the sequence
    assert max(range(N_PARTS), key=lambda p: rows[p]["zmax"]) == N_PARTS - 1
    assert breaches[N_PARTS - 1] > 0


def test_rolling_first_partition_never_self_flags(planted, pmat):
    rows = drift_table(planted, z_threshold=0.1, iqr_k=1.5, rolling_window=3)
    assert rows[0]["zmax"] == 0.0
    assert rows[0]["iqr_breaches"] == 0


def test_rolling_window_of_one_rejected():
    with pytest.raises(ValueError):
        DriftCheck(columns={"b": F.col("b")}, z_threshold=1.0, rolling_window=1)


def test_rolling_violation_messages_name_trailing_baseline(planted):
    chk = DriftCheck(
        columns={"b": F.col("bucket_val")},
        ks_threshold=0.99,
        z_threshold=1.2,
        iqr_k=1.5,
        rolling_window=4,
    )
    out = chk.run(planted)
    msgs = {r["message"] for r in out.violations.collect()}
    assert any("trailing 4 partitions" in m for m in msgs)
    for d in out.cached:
        d.unpersist()


def pca_fixture_counts() -> np.ndarray:
    """12 parts × 8 buckets of counts: parts 0-10 vary on a 2-plane
    spanned by two orthogonal zero-sum sign patterns (what PCA should
    learn as its principal subspace); part 11 deviates along a THIRD
    orthogonal pattern — off-plane, so reconstruction error flags it
    even though its marginal magnitude is modest. (A single gross
    outlier would be the WRONG fixture: it owns PC1 and reconstructs
    perfectly — recon error scores distance from the principal
    subspace, not marginal extremity.)"""
    s1 = np.array([1, -1, 1, -1, 1, -1, 1, -1])
    s2 = np.array([1, 1, -1, -1, 1, 1, -1, -1])
    s3 = np.array([1, -1, -1, 1, 1, -1, -1, 1])
    coeffs = [(a, b) for a in (-1, 0, 1) for b in (-1, 0, 1)] + [(2, 1), (1, 2)]
    rows = [50 + 10 * a * s1 + 6 * b * s2 for a, b in coeffs]
    rows.append(50 + 0 * s1 + 0 * s2 + 8 * s3)
    return np.array(rows)


def test_pca_drift_flags_shape_outlier(spark):
    counts = pca_fixture_counts()
    n_parts = counts.shape[0]
    data = [
        (p, float(b))
        for p in range(n_parts)
        for b in range(counts.shape[1])
        for _ in range(int(counts[p, b]))
    ]
    df = spark.createDataFrame(data, "part int, bucket_val double")
    chk = PCADriftCheck(
        "b", F.col("bucket_val"), n_components=2, contamination=1 / n_parts
    )
    out = chk.run(df)
    flagged = {r["part"] for r in out.violations.collect()}
    assert flagged == {n_parts - 1}
    # golden: recon error through numpy PCA — pop-std scaler, top-2
    # PCs, SUM of squared residuals (PCADetector's einsum form)
    pmat = counts / counts.sum(axis=1, keepdims=True)
    x = (pmat - pmat.mean(axis=0)) / np.where(
        pmat.std(axis=0) > 0, pmat.std(axis=0), 1.0
    )
    cov = np.cov(x, rowvar=False, ddof=1)
    w, v = np.linalg.eigh(cov)
    comps = v[:, np.argsort(w)[::-1][:2]]
    recon = ((x - x @ comps @ comps.T) ** 2).sum(axis=1)
    got = {
        int(r["part"]): r["value"]
        for r in out.metrics.collect()
        if r["metric"] == "b.pca_recon"
    }
    assert recon[-1] > 1.0  # the off-plane part really is unreconstructable
    for part in range(n_parts):
        assert got[part] == pytest.approx(recon[part], rel=1e-6, abs=1e-9)
    for d in out.cached:
        d.unpersist()


def test_pca_drift_bucket_cap(planted):
    chk = PCADriftCheck("b", F.col("bucket_val"), max_buckets=4)
    with pytest.raises(ValueError, match="max_buckets"):
        chk.run(planted)


def test_extended_suite_runs_end_to_end(spark):
    from anomaly_detection_toolkit_spark.plans.checks import extended_suite
    from anomaly_detection_toolkit_spark.plans.runner import run_suite
    from anomaly_detection_toolkit_spark.sources.images import generate_images

    imgs = generate_images(spark, 800, seed=7, n_parts=4)
    res = run_suite(imgs, extended_suite())
    cells = res.verdicts.collect()
    checks = {r["check"] for r in cells}
    # all four drift scorers are armed: KS/z/IQR inside 'drift',
    # reconstruction as its own 'drift_pca' check row per partition
    assert {"drift", "drift_pca"} <= checks
    assert sum(1 for r in cells if r["check"] == "drift_pca") == 4
    metrics = {r["metric"] for r in res.metrics.collect()}
    assert {"phash.zmax", "phash.iqr_breaches", "phash.pca_recon"} <= metrics
    res.unpersist()


def test_extended_suite_rolling_knob(spark):
    from anomaly_detection_toolkit_spark.plans.checks import extended_suite

    armed = [
        c
        for c in extended_suite(rolling_window=5)
        if isinstance(c, DriftCheck)
    ]
    assert armed and all(c.rolling_window == 5 for c in armed)
    assert all(
        c.rolling_window is None
        for c in extended_suite()
        if isinstance(c, DriftCheck)
    )
    with pytest.raises(ValueError):
        extended_suite(rolling_window=1)
