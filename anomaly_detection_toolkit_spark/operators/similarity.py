"""Similarity search over embedding columns (ARRAY<FLOAT>).

Two paths, mirroring production vector-search tiers:

- **brute force** (the correctness baseline): query-set × corpus
  cosine via higher-order array functions (`zip_with` + `aggregate`)
  — the dot product runs JVM-side inside whole-stage codegen; the
  corpus side is never shuffled (the query side is broadcast).
  Top-k per query = window `row_number` partitioned by query id.
  At 10^12 vectors this is one full corpus scan per batch of
  queries — correct, bandwidth-bound, embarrassingly parallel.
- **LSH-bucketed**: random-hyperplane signatures
  (signs of dot products with `n_planes` deterministic ±1
  hyperplanes — Charikar SRP-LSH) computed per-row with array
  exprs; candidates = corpus rows sharing the query's bucket, so the
  scan touches ~corpus/2^n_planes rows per query. Same exact-cosine
  rerank on the candidates. Recall<1 by construction — benchmarked,
  not hidden. Scoped to near-dup CANDIDATE GENERATION at scale
  (misses are high-angle pairs; measured recall in
  BENCH/ANN_RECALL.md).

For generic top-k RETRIEVAL at 10^6+ vectors the default is the
persisted IVF inverted file (``operators/ivf_index`` — build once,
partition-pruned probes). Its sample, k-means fit and cell
assignment are defined here (``collect_vector_sample``,
``fit_kmeans_arrays``, ``ivf_cell_udfs``): the DuckDB oracle of the
``ann_ivf_topk_embeddings`` gate pair calls the same fit and
re-derives the sample order and the assignment in SQL.

Hyperplanes are derived from the cross-engine md5 hash (same trick
as dedup.py) so DuckDB oracles reproduce buckets exactly: plane p,
dim i has sign +1 iff bit 0 of hash60(f"plane_{p}_{i}") is set.

Embedding-cosine near-duplicate detection reuses the same kernels
with a distance threshold instead of top-k.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def auto_n_planes(
    n_rows: int,
    target_bucket_rows: int = 256,
    min_planes: int = 2,
    max_planes: int = 24,
) -> int:
    """Plane count that keeps the EXPECTED SRP bucket size near
    ``target_bucket_rows``: 2^planes ≈ n_rows / target.

    Why this matters at 100 TB: with a FIXED plane count the
    within-bucket self-join does ~N²/2^planes pair evaluations —
    still quadratic in N (the round-2 scale audit's one weak plan).
    Deriving planes from N makes candidates-per-row ≈ target (a
    constant), so total pair work grows ~linearly with the corpus.
    The trade is recall: more planes → more boundary misses; recover
    recall with multiple hash tables (union of pair sets) if needed.
    """
    import math

    if n_rows <= target_bucket_rows:
        return min_planes
    return max(
        min_planes, min(max_planes, math.ceil(math.log2(n_rows / target_bucket_rows)))
    )


def plane_signs(n_planes: int, dim: int, table: int = 0) -> list[list[int]]:
    """Deterministic ±1 hyperplane matrix (n_planes × dim), derived
    from md5 so the SQL oracle can re-derive the identical planes.
    ``table`` salts the derivation for multi-table LSH (table 0 keeps
    the original ``plane_{p}_{i}`` keys, so existing oracles and
    buckets are unchanged)."""
    planes = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            key = f"plane_{p}_{i}" if table == 0 else f"plane_t{table}_{p}_{i}"
            d = hashlib.md5(key.encode()).hexdigest()
            row.append(1 if int(d[0], 16) % 2 == 0 else -1)
        planes.append(row)
    return planes


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i as a codegen'd higher-order expression."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbours per query (excluding self).

    Output: (query_id, neighbor_id, cosine_sim, rank). The query set
    is broadcast; ties broken by neighbor id for determinism.
    """
    # norms are materialized once per ROW before the join — computing
    # them inside the pair expression would re-run the interpreted
    # aggregate lambda once per (query, neighbor) pair
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine_sim", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
        )
    )
    return topk_rerank(scored, k)


def srp_bucket(vec: Column, planes: list[list[int]]) -> Column:
    """Signed-random-projection bucket id (0..2^n_planes-1) as INT.

    Each plane's dot product is Σ ±vec_i — expressed by zipping the
    vector with a literal sign array (codegen'd, no UDF).
    """
    bucket = F.lit(0)
    for p, signs in enumerate(planes):
        sign_arr = F.array(*[F.lit(float(s)) for s in signs])
        d = dot(vec, sign_arr)
        bucket = bucket + F.when(d >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def plane_dots(vec: Column, planes: list[list[int]]) -> Column:
    """ARRAY<DOUBLE> of the vector's per-plane signed dot products —
    materialize this ONCE in its own projection when both the bucket
    and the probe list are needed: Spark evaluates each projection
    column independently (no CSE across HOF lambdas — CLAUDE.md), so
    deriving bucket + margins + flips from inline dots would fold the
    vector n_planes×3 times per row."""
    cols = []
    for signs in planes:
        sign_arr = F.array(*[F.lit(float(s)) for s in signs])
        cols.append(dot(vec, sign_arr))
    return F.array(*cols)


def srp_bucket_from_dots(dots: Column, n_planes: int) -> Column:
    """Bucket id from a precomputed ``plane_dots`` array (cheap array
    indexing, no re-fold)."""
    bucket = F.lit(0)
    for p in range(n_planes):
        bucket = bucket + F.when(dots[p] >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def srp_probe_buckets_from_dots(
    dots: Column, n_planes: int, n_probes: int
) -> Column:
    """Probe-bucket list from a precomputed ``plane_dots`` array —
    see ``srp_probe_buckets`` for semantics."""
    # pow(2, p) is exact in double up to p=52 and auto_n_planes caps
    # at 24; F.shiftleft requires a literal shift so it cannot take
    # the lambda-bound plane index
    assert n_planes <= 30, "plane index must stay in int32 bit range"
    margins = F.array(*[F.abs(dots[p]) for p in range(n_planes)])
    home = srp_bucket_from_dots(dots, n_planes)
    if n_probes <= 1:
        return F.array(home)
    order = F.transform(
        F.slice(
            F.array_sort(
                F.arrays_zip(
                    margins.alias("m"),
                    F.sequence(F.lit(0), F.lit(n_planes - 1)).alias("p"),
                )
            ),
            1,
            n_probes - 1,
        ),
        lambda s: s["p"],
    )
    flips = F.transform(
        order,
        lambda p: home.bitwiseXOR(
            F.pow(F.lit(2.0), p.cast("double")).cast("int")
        ),
    )
    return F.array_union(F.array(home), flips)


def srp_probe_buckets(
    vec: Column, planes: list[list[int]], n_probes: int
) -> Column:
    """Multi-probe SRP bucket list (Lv et al., "Multi-Probe LSH",
    VLDB'07, adapted to hyperplane signatures): the home bucket plus
    the ``n_probes − 1`` buckets reached by flipping the planes with
    the SMALLEST |margin| — a vector barely on one side of a
    hyperplane most likely has its near neighbors just across it.

    Pure array exprs: per-plane dots → ``arrays_zip`` with plane
    indices → ``array_sort`` on |margin| → flip the top bits. Probing
    T buckets from ONE plane set costs one T-way explode of the
    (tiny, broadcast) query side — cheaper than T independent tables,
    which re-signature and re-join the whole corpus per table.
    Returns ARRAY<INT> of distinct bucket ids, length ≤ n_probes.

    Convenience composition — operators on data-sized inputs should
    materialize ``plane_dots`` in its own projection and use
    ``srp_probe_buckets_from_dots`` so the vector is folded once.
    """
    return srp_probe_buckets_from_dots(
        plane_dots(vec, planes), len(planes), n_probes
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket_rows: int = 256,
    n_rows_hint: int | None = None,
    n_tables: int = 4,
    n_probes: int = 1,
) -> DataFrame:
    """Approximate top-k: exact cosine rerank restricted to the
    query's SRP-LSH bucket. One bucket-equi-join (broadcast query
    side) instead of a full cross product — corpus scan cost drops by
    ~2^n_planes; recall is whatever the bucket captures.

    ``n_probes`` > 1 enables multi-probe (``srp_probe_buckets``): per
    table each query also probes the buckets across its
    lowest-|margin| hyperplanes. Candidate cost ≈ n_probes× per
    table but the corpus is signatured/joined ONCE per table — the
    cheaper recall lever than more tables (measured at 1M vectors in
    ``BENCH/ANN_RECALL.md``).

    ``n_planes=None`` (default) derives the plane count from the
    corpus size so expected bucket size ≈ ``target_bucket_rows`` —
    candidates-per-query stays ~constant as the corpus grows (see
    ``auto_n_planes``). Pass ``n_rows_hint`` to skip the sizing
    count() when the caller already knows the corpus size.

    ``n_tables`` > 1 unions candidates from that many INDEPENDENT
    plane sets before the rerank — the standard LSH recall recovery
    at high plane counts: miss probability per true neighbor drops
    from p to p^T at T× candidate cost (each table is one more
    bucket equi-join; the rerank dedups pairs first).

    Default ``n_tables=4`` (round 4): the 1M-vector depth measurement
    (``tools/ann_recall_bench.py`` → ``BENCH/ANN_RECALL.md``) put
    single-table recall@10 at 0.16 vs 0.59 for 4 tables at auto plane
    sizing — constant-bucket SRP fundamentally trades generic-kNN
    recall for scan cost as N grows. For generic top-k at 10^6+
    vectors prefer the persisted IVF index (``ivf_index.ivf_query``):
    measured recall@10 = 1.0 at ``n_probe=1`` with ~N/1000 cells on
    clustered data. SRP-LSH remains the right shape for HIGH-similarity
    retrieval (near-dup: collision probability (1−θ/π)^planes → 1 as
    θ → 0)."""
    if n_planes is None:
        n = n_rows_hint if n_rows_hint is not None else corpus.count()
        n_planes = auto_n_planes(n, target_bucket_rows)
    c0 = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
    )
    q0 = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
    )
    cand = None
    for t in range(n_tables):
        planes = plane_signs(n_planes, dim, table=t)
        c = c0.withColumn("bucket", srp_bucket(F.col("cv"), planes))
        if n_probes > 1:
            # the explode multiplies only the broadcast query side;
            # dots materialized first so the vector folds once
            q = (
                q0.withColumn("_dots", plane_dots(F.col("qv"), planes))
                .withColumn(
                    "bucket",
                    F.explode(
                        srp_probe_buckets_from_dots(
                            F.col("_dots"), n_planes, n_probes
                        )
                    ),
                )
                .drop("_dots")
            )
        else:
            q = q0.withColumn("bucket", srp_bucket(F.col("qv"), planes))
        part = (
            c.join(F.broadcast(q), "bucket")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .drop("bucket")
        )
        cand = part if cand is None else cand.unionByName(part)
    # duplicates only arise ACROSS tables: within one table a neighbor
    # has exactly one home bucket and the query's probe list is
    # distinct, so each (query, neighbor) matches at most once —
    # single-table multiprobe needs no dedup shuffle
    if n_tables > 1:
        cand = cand.dropDuplicates(["query_id", "neighbor_id"])
    scored = cand.withColumn(
        "cosine_sim", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    )
    return topk_rerank(scored, k)


def collect_vector_sample(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    max_rows: int,
    seed: int,
) -> np.ndarray:
    """Bounded driver-side vector sample in ONE scan, ordered by a
    60-bit md5 of the seed-salted ID — the same engine-stable
    priority as ``ml._collect_sample(order_col=...)``, so the sample
    (content AND order) is identical under any partitioning and
    reproducible outside Spark (integer→string casts match across
    engines; the IVF driver-gate oracle re-derives it in DuckDB).
    Catalyst plans the sort+limit as TakeOrderedAndProject."""
    prio = F.conv(
        F.substring(
            F.md5(F.concat_ws(",", F.lit(str(seed)), F.col(id_col).cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    pdf = (
        df.select(F.col(vec_col).alias("v"), prio.alias("_p"))
        .orderBy("_p")
        .limit(max_rows)
        .toPandas()
    )
    if len(pdf) == 0:
        raise ValueError(
            f"collect_vector_sample: no rows in {vec_col!r} to sample "
            "(empty or fully-filtered input)"
        )
    return np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])


def fit_kmeans_arrays(
    x: np.ndarray, n_cells: int, n_iter: int = 10
) -> np.ndarray:
    """Deterministic Lloyd k-means: init = first ``n_cells`` rows of
    the (priority-ordered) sample, fixed ``n_iter`` iterations, no
    convergence branching, ties → lowest cell index, empty cells keep
    their previous centroid. Deliberately RNG-free and replayable —
    the IVF oracle refits the identical centroids outside Spark.
    Assignment uses the dot form argmax(c·x − |c|²/2) ≡ argmin L2,
    the same form the SQL oracle evaluates."""
    if len(x) < n_cells:
        raise ValueError(
            f"fit_kmeans_arrays: sample has {len(x)} rows < n_cells="
            f"{n_cells}; lower n_cells or raise max_fit_rows"
        )
    cent = x[:n_cells].copy()
    for _ in range(n_iter):
        scores = x @ cent.T - 0.5 * (cent * cent).sum(axis=1)
        assign = np.argmax(scores, axis=1)
        for c in range(n_cells):
            members = assign == c
            if members.any():
                cent[c] = x[members].mean(axis=0)
    return cent


def ivf_cell_udfs(cent: np.ndarray, n_probe: int):
    """``(cell_of, probe_of)`` pandas UDFs with the centroid matrix in
    closure — used by the ``operators.ivf_index`` build, update and
    query paths; cell-assignment semantics stay bit-identical with
    the DuckDB oracle.

    Cell scores are rounded to 6dp before argmax/argsort (matching
    the oracle's ORDER BY round(score,6) DESC, c): BLAS summation
    order differs from any re-derivation's, and an unquantized
    near-tie between two cells would flip assignment cross-engine.
    Ties after rounding resolve to the LOWEST cell on both sides
    (np first-max / stable argsort ⇔ ORDER BY ..., c)."""
    half_norms = 0.5 * (cent * cent).sum(axis=1)

    @F.pandas_udf("int")
    def cell_of(v: pd.Series) -> pd.Series:
        xb = np.stack([np.asarray(a, dtype=np.float64) for a in v])
        s = np.round(xb @ cent.T - half_norms, 6)
        return pd.Series(np.argmax(s, axis=1).astype(np.int32))

    @F.pandas_udf("array<int>")
    def probe_of(v: pd.Series) -> pd.Series:
        xb = np.stack([np.asarray(a, dtype=np.float64) for a in v])
        s = np.round(xb @ cent.T - half_norms, 6)
        idx = np.argsort(-s, axis=1, kind="stable")[:, :n_probe]
        return pd.Series([row.astype(np.int32) for row in idx])

    return cell_of, probe_of


def topk_rerank(scored: DataFrame, k: int) -> DataFrame:
    """Exact-cosine rank/filter shared by every ANN path: rank on
    round(cos, 6) (float-summation association differs across
    engines/plans by ~1ulp; rounding makes the ranking reproducible)
    with neighbor id as the deterministic tie-break."""
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cosine_sim"), 6).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    min_cosine: float = 0.95,
    n_planes: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket_rows: int = 256,
    n_rows_hint: int | None = None,
    n_tables: int = 1,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b) with
    cosine ≥ min_cosine, candidate-limited to shared SRP buckets.

    ``max_bucket``: hot-bucket skew bound (the embedding counterpart
    of ``dedup.minhash_lsh_pairs``'s cap). Auto plane sizing keeps the
    EXPECTED bucket at ``target_bucket_rows``, but a flood of
    identical embeddings (the same image re-crawled millions of
    times) lands in ONE bucket regardless of plane count and the
    within-bucket join goes quadratic in the flood. Buckets over the
    cap skip the join in that table; their members pair through the
    linear exact-vector fallback (group-min star pairs at
    cosine_sim=1.0 over byte-identical vectors). Near-identical
    (not exact) members of a skipped bucket keep their other hash
    tables (``n_tables``) for recovery.

    SRP is sign-preserving, so truly near-identical vectors land in
    the same bucket with high probability; the miss rate is the
    standard LSH recall trade, recoverable with ``n_tables`` > 1
    (union of candidates from independent plane sets, deduped before
    scoring: per-pair miss probability p drops to p^T at T× join
    cost). Shuffle: one self-join keyed on bucket per table.

    ``n_planes=None`` (default) sizes the plane count from the input
    so the within-bucket self-join stays ~linear in N (expected
    bucket ≈ ``target_bucket_rows``; see ``auto_n_planes``) instead
    of N²/2^planes with a fixed count.
    """
    if n_planes is None:
        n = n_rows_hint if n_rows_hint is not None else df.count()
        n_planes = auto_n_planes(n, target_bucket_rows)
    v0 = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    hot_members = None
    cand = None
    for t in range(n_tables):
        planes = plane_signs(n_planes, dim, table=t)
        v = v0.withColumn("bucket", srp_bucket(F.col("vec"), planes))
        if max_bucket is not None:
            # localCheckpoint (eager): the bucketed projection (an
            # interpreted-HOF stage) is referenced by the size
            # aggregation, the hot semi/anti joins and both self-join
            # sides — Spark does not CSE self-referenced plans, so
            # unmaterialized it would recompute the SRP projection
            # ~4x per table; `hot` (tiny) likewise for its two
            # broadcast references. Checkpoint blocks are GC-released
            # with the result plan — repeated calls don't pin caches
            # for the session lifetime the way persist() did.
            v = v.localCheckpoint()
            hot = (
                v.groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") > max_bucket)
                .select("bucket")
                .localCheckpoint()
            )
            hm = v.join(F.broadcast(hot), "bucket", "left_semi").select(
                "id", "vec"
            )
            hot_members = hm if hot_members is None else hot_members.unionByName(hm)
            v = v.join(F.broadcast(hot), "bucket", "left_anti")
        a, b = v.alias("a"), v.alias("b")
        part = a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")),
        ).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.vec").alias("va"),
            F.col("b.vec").alias("vb"),
            F.col("a.nrm").alias("na"),
            F.col("b.nrm").alias("nb"),
        )
        cand = part if cand is None else cand.unionByName(part)
    if n_tables > 1:
        cand = cand.dropDuplicates(["id_a", "id_b"])
    out = (
        cand.withColumn(
            "cosine_sim", dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cosine_sim") >= min_cosine)
        .select("id_a", "id_b", "cosine_sim")
    )
    if hot_members is not None:
        # exact-vector fallback: byte-identical vectors in skipped
        # buckets pair to their group min (cosine 1.0 ≥ any threshold)
        hm = hot_members.dropDuplicates(["id"])
        m = hm.groupBy("vec").agg(F.min("id").alias("id_a"))
        fallback = (
            hm.join(m, "vec")
            .filter(F.col("id") != F.col("id_a"))
            .select(
                "id_a",
                F.col("id").alias("id_b"),
                F.lit(1.0).alias("cosine_sim"),
            )
        )
        # a pair can reach BOTH paths (exact dups whose bucket is hot
        # in one table, cold in another) with cosine values a ulp
        # apart (computed dot vs literal 1.0) — resolve by max, which
        # is deterministic, instead of dropDuplicates' arbitrary pick
        out = (
            out.unionByName(fallback)
            .groupBy("id_a", "id_b")
            .agg(F.max("cosine_sim").alias("cosine_sim"))
        )
    return out
