"""Persisted IVF (inverted-file) ANN index — build/query split.

Why this exists: IVF retrieval needs every corpus vector's cell, an
O(N·n_cells) assignment matmul. Recomputed per query batch, that pass
alone costs as much as brute force at 1M vectors (round-4
``BENCH/ANN_RECALL.md``: 32.5s vs 31.2s brute) and is the
scale-killer at 10^10 vectors. The index pays the corpus-sized cost
ONCE:

- ``build_ivf_index``: deterministic k-means fit (the replayable
  Lloyd of ``similarity.fit_kmeans_arrays``), one
  Arrow-batched assignment pass over the corpus, written as a
  CELL-PARTITIONED parquet inverted file (hive layout
  ``cells/cell=<c>/src_part=<p>/``) with per-row norms precomputed;
  centroids in ``_centroids.parquet`` + config in ``_manifest.json``
  next to the cells (the ``_`` hides them from Spark and pyarrow).
- ``ivf_query``: a query batch reads ONLY its probed cells. The probe
  set is collected from the (tiny, broadcastable-by-contract) query
  batch and pushed as a STATIC partition filter, so the parquet scan
  lists and reads files of the probed cell directories only —
  scanned files ∝ n_probe · query diversity, independent of n_cells
  and corpus size (pinned by tests/test_ivf_index.py on the scan's
  numFiles metric).
- ``update_ivf_index``: incremental freshness. The rows of changed
  source partitions (e.g. from ``sources.iceberg.changed_partitions``
  or the validation ledger) are dropped from the inverted file — a
  partition-level delete on the second hive level — and ONLY those
  rows are re-assigned and appended, centroids FIXED. Reconstruction
  invariant (incremental ∪ unchanged == full rebuild) pinned by
  tests/test_ivf_index.py.

``<index>/cells`` is published through ``versioned``: each build or
update writes a whole new version, so readers never see a mix.

Centroids are frozen at build time — the standard IVF practice; the
index is an approximation of the corpus distribution at build time.
Re-train (full ``build_ivf_index``) when drift detection on the
embedding distribution flags a shift; incremental updates under
drifted data degrade recall, not correctness (every vector still
lands in exactly one cell).

Storage notes for 10^12 rows: the inverted file is plain partitioned
parquet so it inherits object-store layout, column pruning and
predicate pushdown; ``n_cells`` should scale as ~N/target_cell_rows
(keep the centroid matrix driver-sized — 10^5 cells × 1k dims of
float64 is ~800 MB, the practical manifest ceiling; beyond that shard
the corpus and build one index per shard). The manifest's JSON holds
config only; centroids live in parquet via pyarrow (no Spark job, no
pickled-RDD round trip — CLAUDE.md).

Reference parity: the reference toolkit has no ANN index (this is
engine surface beyond it). The gate pair ``ann_ivf_topk_embeddings``
runs ``build_ivf_index`` + ``ivf_query`` itself; its DuckDB oracle
(``entry_corpus._ivf_oracle_sql``) refits the same centroids and
re-derives assignment, probes and rerank in SQL.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anomaly_detection_toolkit_spark import versioned
from anomaly_detection_toolkit_spark.operators.similarity import (
    collect_vector_sample,
    dot,
    fit_kmeans_arrays,
    ivf_cell_udfs,
    norm,
    topk_rerank,
)

MANIFEST = "_manifest.json"
CENTROIDS = "_centroids.parquet"
CELLS = "cells"


def _assign(
    df: DataFrame,
    cent: np.ndarray,
    id_col: str,
    vec_col: str,
    src_part_col: str | None,
) -> DataFrame:
    """Corpus rows with their cell id, precomputed norm and source
    partition (0 when the corpus has no partition column). One
    map-side projection — the centroid matrix ships in the Arrow UDF
    closure; nothing shuffles until the partitioned write."""
    cell_of, _ = ivf_cell_udfs(cent, n_probe=1)
    src = (
        F.col(src_part_col).try_cast("int")
        if src_part_col is not None
        else F.lit(0)
    )
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        norm(F.col(vec_col)).alias("nrm"),
        cell_of(F.col(vec_col)).alias("cell"),
        src.alias("src_part"),
    )


def build_ivf_index(
    corpus: DataFrame,
    index_path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    src_part_col: str | None = None,
    max_fit_rows: int = 100_000,
    seed: int = 42,
    n_iter: int = 10,
) -> dict:
    """Fit centroids, assign every corpus vector once, persist the
    inverted file. Returns the manifest dict.

    The write shuffles once on (cell, src_part) — ``repartition`` by
    the partition columns so each hive partition is written by one
    task (no small-files explosion at high parallelism).

    Cells, centroids and manifest are published together as one
    version, so a rebuild in place never pairs new assignments with
    old centroids. Rows with NULL or non-int ``src_part_col`` values
    land in ``src_part=__HIVE_DEFAULT_PARTITION__``, beyond any
    update's reach: finding that leaf in the written version (no Spark
    job) raises ``ValueError`` before publishing."""
    cells = os.path.join(index_path, CELLS)
    with versioned.new_version(cells) as ver:
        x = collect_vector_sample(corpus, id_col, vec_col, max_fit_rows, seed)
        cent = fit_kmeans_arrays(x, n_cells, n_iter=n_iter)
        (
            _assign(corpus, cent, id_col, vec_col, src_part_col)
            .repartition("cell", "src_part")
            .write.partitionBy("cell", "src_part")
            .parquet(ver)
        )
        import pyarrow as pa
        import pyarrow.parquet as pq

        bad = glob.glob(
            os.path.join(ver, "cell=*", "src_part=__HIVE_DEFAULT_PARTITION__", "*.parquet")
        )
        if bad:
            n_bad = sum(pq.read_metadata(f).num_rows for f in bad)
            shutil.rmtree(ver)  # never published: the old index stays served
            raise ValueError(
                f"build_ivf_index: {n_bad} rows with NULL (or non-integer) "
                f"{src_part_col!r} — source-partition lineage must be "
                "non-null and int-castable"
            )
        pq.write_table(
            pa.table(
                {
                    "cell": pa.array(range(n_cells), pa.int32()),
                    "centroid": pa.array(
                        [list(map(float, row)) for row in cent],
                        pa.list_(pa.float64()),
                    ),
                }
            ),
            os.path.join(ver, CENTROIDS),
        )
        manifest = {
            "version": 1,
            "n_cells": int(n_cells),
            "dim": int(cent.shape[1]),
            "id_col": id_col,
            "vec_col": vec_col,
            "src_part_col": src_part_col,
            "seed": int(seed),
            "n_iter": int(n_iter),
            "max_fit_rows": int(max_fit_rows),
        }
        with open(os.path.join(ver, MANIFEST), "w") as f:
            json.dump(manifest, f, indent=1)
        versioned.publish(cells, ver)
    return manifest


def _open(index_path: str) -> tuple[str, dict, np.ndarray]:
    """(version dir, manifest, centroids by cell id) of the index
    version published now: all three from one version."""
    import pyarrow.parquet as pq

    ver = versioned.resolve(os.path.join(index_path, CELLS))
    with open(os.path.join(ver, MANIFEST)) as f:
        manifest = json.load(f)
    t = pq.read_table(os.path.join(ver, CENTROIDS))
    order = np.argsort(t.column("cell").to_numpy())
    cent = np.stack(
        [np.asarray(v, dtype=np.float64) for v in t.column("centroid").to_pylist()]
    )[order]
    return ver, manifest, cent


def load_ivf_manifest(index_path: str) -> tuple[dict, np.ndarray]:
    """(manifest, centroid matrix) — centroids ordered by cell id."""
    return _open(index_path)[1:]


def read_probed_cells(
    spark: SparkSession, ver: str, cells: list[int]
) -> DataFrame:
    """Inverted-file rows of exactly the given cells of the index
    version dir ``ver`` (as ``_open`` resolved it). The ``isin`` on
    the hive partition column becomes a PartitionFilter in the scan:
    only the probed cell directories are listed/read — this is the
    partition-pruning contract the plan test pins."""
    return spark.read.parquet(ver).filter(
        F.col("cell").isin([int(c) for c in cells])
    )


def ivf_query(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str | None = None,
    vec_col: str | None = None,
) -> DataFrame:
    """Approximate top-k against a persisted index.

    Per batch: one Arrow-batched probe projection on the (tiny) query
    side, one driver collect of the distinct probe-cell set (bounded
    by n_probe × n_queries, usually ≪ n_cells), one partition-pruned
    scan of those cells, one broadcast equi-join on cell, exact
    cosine rerank. Query cost ∝ n_probe · N / n_cells — independent
    of total corpus size, which is the point of persisting the index.

    ``id_col``/``vec_col`` default to the manifest's (queries usually
    come from the same table family as the corpus).

    Manifest, centroids and cells come from one index version.

    Output: (query_id, neighbor_id, cosine_sim, rank)."""
    ver, manifest, cent = _open(index_path)
    id_col = id_col or manifest["id_col"]
    vec_col = vec_col or manifest["vec_col"]
    _, probe_of = ivf_cell_udfs(cent, n_probe)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
        F.explode(probe_of(F.col(vec_col))).alias("cell"),
    ).localCheckpoint()  # probe UDF runs once; reused by cells + join
    probe_cells = sorted(
        r["cell"] for r in q.select("cell").distinct().collect()
    )
    c = read_probed_cells(spark, ver, probe_cells).select(
        F.col(manifest["id_col"]).alias("neighbor_id"),
        F.col(manifest["vec_col"]).alias("cv"),
        F.col("nrm").alias("cn"),
        "cell",
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine_sim",
            dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
        )
    )
    return topk_rerank(scored, k)


def update_ivf_index(
    spark: SparkSession,
    index_path: str,
    changed_df: DataFrame,
    changed_parts: list[int] | None = None,
) -> list[int]:
    """Incremental refresh: drop the inverted-file rows of the changed
    source partitions, re-assign ONLY ``changed_df``'s rows under the
    frozen centroids, append. Returns the partition ids refreshed.

    ``changed_df`` must carry the manifest's ``src_part_col`` (the
    same partition ids the validation ledger / Iceberg
    ``changed_partitions`` report). ``changed_parts`` defaults to the
    distinct partitions present in ``changed_df``; pass it explicitly
    when a partition was DELETED upstream (present in the old index,
    absent from ``changed_df``) so its rows are dropped too.

    Copy-on-write: the new version hard-links the current one minus
    the changed ``src_part=<p>`` leaves, appends the re-assigned rows
    and is published whole (unchanged cells are never rewritten,
    mirroring ``dedup.incremental_lsh_pairs``). On an object
    store/catalog the equivalent is a partition-predicate DELETE +
    append committed as one snapshot."""
    cells_path = os.path.join(index_path, CELLS)
    with versioned.new_version(cells_path) as ver:
        cur, manifest, cent = _open(index_path)
        src_part_col = manifest.get("src_part_col")
        if src_part_col is None:
            raise ValueError(
                "update_ivf_index: index was built without src_part_col — "
                "incremental updates need source-partition lineage; rebuild "
                "with build_ivf_index(..., src_part_col=...)"
            )
        # NULL lineage is rejected in BOTH branches: with inferred parts a
        # null would land in __HIVE_DEFAULT_PARTITION__ and never be
        # refreshable; with an explicit list the isin filter below would
        # SILENTLY drop the row (NULL is not true) — the vector would be
        # permanently absent from the index with no error
        vals = [
            r["p"]
            for r in changed_df.select(
                F.col(src_part_col).try_cast("int").alias("p")  # match _assign's cast
            )
            .distinct()
            .collect()
        ]
        if any(v is None for v in vals):
            raise ValueError(
                f"update_ivf_index: NULL (or non-integer) values in "
                f"{src_part_col!r} — source-partition lineage must be "
                "non-null and int-castable"
            )
        if changed_parts is None:
            changed_parts = sorted(int(v) for v in vals)
        assigned = _assign(
            changed_df, cent, manifest["id_col"], manifest["vec_col"], src_part_col
        )
        # with an EXPLICIT changed_parts list, rows of other partitions
        # must not append — their old index rows were never dropped, so
        # appending them again would duplicate
        assigned = assigned.filter(
            F.col("src_part").isin([int(p) for p in changed_parts])
        )
        # the Spark write below rewrites _SUCCESS: never share its inode
        stale = [f"src_part={int(p)}" for p in changed_parts]
        shutil.copytree(
            cur, ver, copy_function=os.link,
            ignore=shutil.ignore_patterns("*_SUCCESS*", *stale),
        )
        (
            assigned.repartition("cell", "src_part")
            .write.mode("append")
            .partitionBy("cell", "src_part")
            .parquet(ver)
        )
        versioned.publish(cells_path, ver)
    return list(changed_parts)
