"""Iceberg table-source seam: snapshot pinning + incremental planning.

The north-star job reads an Iceberg table of image+caption pairs,
pins each run to a snapshot id for read consistency, and plans
incremental re-validation from the snapshot log instead of re-listing
1e12 rows of files. The Iceberg Spark runtime jar is NOT present in
this environment (SURVEY §7.0), so this module is an
availability-gated seam:

- On a cluster with the jar (``iceberg_available()``): reads go
  through ``spark.read.format("iceberg")`` with the documented
  ``snapshot-id`` read option, and planning reads the standard
  ``<table>.snapshots`` / ``<table>.entries`` metadata tables.
- Locally: ``plans.runner`` keeps its manifest fallback
  (``snapshot_id()`` file-listing hash + per-partition fingerprints),
  and ``read_table`` raises a clear error instead of guessing.

The job itself is ``plans.runner.run_job``, the same one the parquet
source runs; this module only pins the read and answers which
partitions changed since the ledger's snapshot (``changed_since``).
That decision — the snapshot ancestry walk, the changed-partition
computation — is pure code over metadata-SHAPED inputs (tiny
driver-side snapshot log; a DataFrame with Iceberg's documented
``entries`` columns), so the exact logic the cluster path runs is
unit-tested against synthetic metadata in ``tests/test_iceberg.py``
without the jar.

Scale notes (10^12-row table):
- the ``snapshots`` metadata table is tiny (one row per commit —
  thousands, not millions) → collected and walked driver-side;
- the ``entries`` metadata table has one row per data file per
  snapshot (can be millions) → the changed-partition computation
  stays distributed: filter on the ancestry snapshot-id set (a
  broadcastable ``isin``), project ONLY ``data_file.partition``,
  distinct — never collect file paths.

Reference parity: the reference validates whatever pandas DataFrame
it is handed (``base.py:50-52``); snapshot consistency is engine
scope (SURVEY §3.4, §7.0 non-goal lifted to a seam here).
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anomaly_detection_toolkit_spark.plans.runner import run_job

# iceberg entries.status codes (Iceberg spec, manifest entry status)
STATUS_EXISTING, STATUS_ADDED, STATUS_DELETED = 0, 1, 2


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath.

    ``session.get_spark`` probes this once at session start and stamps
    the result into ``spark.adt.iceberg.available`` — the seam
    self-reports instead of every caller re-probing the JVM."""
    stamped = spark.conf.get("spark.adt.iceberg.available", None)
    if stamped in ("true", "false"):
        return stamped == "true"
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.catalog.Catalog"
        )
        return True
    except Exception:
        return False


def jar_status(spark: SparkSession) -> str:
    """Human-readable availability line for error messages/logs."""
    if iceberg_available(spark):
        return "Iceberg Spark runtime: PRESENT on this session's classpath"
    return (
        "Iceberg Spark runtime: ABSENT from this session's classpath "
        "(probed at session start; add --packages org.apache.iceberg:"
        "iceberg-spark-runtime-<spark_ver>_<scala_ver>:<version> or put "
        "the jar on spark.jars)"
    )


def read_table(
    spark: SparkSession, table: str, snapshot_id: int | None = None
) -> DataFrame:
    """Read an Iceberg table, pinned to ``snapshot_id`` when given.

    Pinning is what makes a resumable multi-hour validation run
    consistent: every retry/resume reads the SAME table state even
    while ingest keeps committing new snapshots.
    """
    if not iceberg_available(spark):
        raise RuntimeError(
            f"{jar_status(spark)}; use the parquet "
            "manifest fallback (plans.runner.run_validation_job) locally"
        )
    reader = spark.read.format("iceberg")
    if snapshot_id is not None:
        reader = reader.option("snapshot-id", str(int(snapshot_id)))
    return reader.load(table)


def load_metadata(spark: SparkSession, table: str) -> tuple[DataFrame, DataFrame]:
    """(snapshots, entries) metadata tables for ``table`` (jar-gated)."""
    if not iceberg_available(spark):
        raise RuntimeError(
            f"metadata tables unavailable — {jar_status(spark)}"
        )
    return spark.table(f"{table}.snapshots"), spark.table(f"{table}.entries")


# ---------------------------------------------------------------------------
# Pure planning logic (unit-tested without the jar)
# ---------------------------------------------------------------------------


def current_snapshot_id(snapshots_df: DataFrame) -> int | None:
    """Latest snapshot id by commit time (None for an empty table).

    The snapshots metadata table is one row per commit — small enough
    that a driver-side max is a single tiny job.
    """
    row = snapshots_df.orderBy(
        F.col("committed_at").desc(), F.col("snapshot_id").desc()
    ).head(1)
    return int(row[0]["snapshot_id"]) if row else None


def _parent_map(snapshots_df: DataFrame) -> dict[int, int | None]:
    return {
        int(r["snapshot_id"]): (None if r["parent_id"] is None else int(r["parent_id"]))
        for r in snapshots_df.select("snapshot_id", "parent_id").collect()
    }


def snapshot_ancestry(snapshots_df: DataFrame, to_id: int) -> list[int]:
    """RETAINED snapshot ids from the oldest ancestor to ``to_id`` via
    ``parent_id`` links.

    Collected driver-side: the snapshot log is O(commits), not O(data).
    Raises KeyError if ``to_id`` is not in the log (expired/unknown).

    Expiry (``expireSnapshots``) removes old ancestors from the log
    but leaves the oldest retained snapshot's ``parent_id`` pointing
    at the expired parent — the walk TRUNCATES at that horizon and
    returns only snapshots that actually exist (a phantom id in the
    ancestry would be unreadable and has no entries rows).
    """
    parents = _parent_map(snapshots_df)
    if int(to_id) not in parents:
        raise KeyError(f"snapshot {to_id} not in the snapshot log")
    chain: list[int] = []
    cur: int | None = int(to_id)
    seen: set[int] = set()
    while cur is not None and cur in parents:
        if cur in seen:  # corrupt log — refuse to loop forever
            raise ValueError(f"snapshot ancestry cycle at {cur}")
        seen.add(cur)
        chain.append(cur)
        cur = parents[cur]  # None at the true root; an absent id at
        # the expiry horizon ends the walk on the next loop test
    return list(reversed(chain))


def snapshots_between(
    snapshots_df: DataFrame, from_id: int | None, to_id: int
) -> list[int] | None:
    """Snapshot ids strictly after ``from_id`` up to ``to_id``.

    Returns None when the delta cannot be derived — ``from_id`` is not
    an ancestor of ``to_id`` (branch switch, rolled back table, or
    expired DEEPER than the retention horizon, where intermediate
    snapshots' changes are unknowable). None tells the planner "fall
    back to a full re-run"; guessing here would silently skip
    validating rewritten data.

    One expiry case IS derivable and handled: when ``from_id`` is the
    direct (expired) parent of the oldest retained ancestor, the
    ``parent_id`` link itself proves every retained ancestor comes
    strictly after ``from_id``, so the delta is the whole retained
    chain — a ledger that validated just before an expiry run does
    not force a 10^12-row full re-validation.
    """
    chain = snapshot_ancestry(snapshots_df, to_id)
    if from_id is None:
        return chain
    if int(from_id) in chain:
        return chain[chain.index(int(from_id)) + 1 :]
    if chain:
        root_parent = _parent_map(snapshots_df).get(chain[0])
        if root_parent is not None and int(from_id) == root_parent:
            return chain
    return None


def changed_partitions(
    entries_df: DataFrame,
    snapshot_ids: Iterable[int],
    part_col: str = "part",
) -> list[int]:
    """Distinct partition values touched by ``snapshot_ids``.

    ``entries_df`` has Iceberg's documented entries schema: one row
    per data-file manifest entry with ``status`` (0 existing / 1 added
    / 2 deleted), ``snapshot_id``, and ``data_file.partition.<col>``.
    EXISTING entries are carry-overs from earlier snapshots — only
    ADDED and DELETED rows mean the partition's data changed.

    Stays distributed (filter → project one int column → distinct):
    at 10^12 rows the entries table is millions of rows per snapshot,
    but the distinct partition list is small by construction.
    """
    ids = [int(s) for s in snapshot_ids]
    if not ids:
        return []
    touched = (
        entries_df.filter(
            F.col("snapshot_id").isin(ids)
            & F.col("status").isin([STATUS_ADDED, STATUS_DELETED])
        )
        .select(F.col(f"data_file.partition.{part_col}").alias("part"))
        .distinct()
    )
    return sorted(int(r["part"]) for r in touched.collect() if r["part"] is not None)


def changed_since(
    snapshots_df: DataFrame,
    entries_df: DataFrame,
    last_validated,
    current: int,
    part_col: str = "part",
) -> set[int] | None:
    """Partitions whose data changed moving ``last_validated → current``.

    None when that is unknown and every partition must re-run: the
    ancestry is unknown (rollback/branch/deep expiry — the same policy
    as the parquet fingerprint mismatch), or ``last_validated`` is not
    an Iceberg snapshot id (no ledger yet, or a parquet ledger's hex
    file-listing hash in the same output dir).

    Snapshots with ``operation = 'replace'`` — ``rewrite_data_files``
    compaction — rewrite files WITHOUT changing logical rows, and
    validation depends only on logical content, so their file churn
    does not mark partitions changed. Routine maintenance compaction of
    a 10^12-row table must not trigger mass re-validation."""
    if not isinstance(last_validated, int):
        return None
    delta = snapshots_between(snapshots_df, last_validated, current)
    if delta is None:
        return None
    if delta:
        ops = {
            int(r["snapshot_id"]): r["operation"]
            for r in snapshots_df.select("snapshot_id", "operation").collect()
        }
        delta = [s for s in delta if ops.get(int(s)) != "replace"]
    return set(changed_partitions(entries_df, delta, part_col))


# ---------------------------------------------------------------------------
# The resumable job: plans.runner.run_job, planned from the snapshot log
# ---------------------------------------------------------------------------


def run_validation_job_iceberg(
    spark: SparkSession,
    table: str,
    output_dir: str,
    checks=None,
    part_col: str = "part",
    snapshot_id: int | None = None,
    violations_cap: int | None = None,
):
    """``runner.run_job`` over an Iceberg table: the read is pinned to
    ``snapshot_id`` (default: current), the ledger and the sinks'
    lineage record that REAL snapshot id, and the partitions changed
    since the ledger's snapshot come from the snapshot log
    (``changed_since``). Requires the runtime jar
    (``iceberg_available``)."""
    snapshots_df, entries_df = load_metadata(spark, table)
    snap = snapshot_id if snapshot_id is not None else current_snapshot_id(snapshots_df)
    if snap is None:
        return None  # empty table, nothing to validate
    snap = int(snap)
    return run_job(
        spark,
        read_table(spark, table, snapshot_id=snap),
        snap,
        output_dir,
        lambda state: changed_since(
            snapshots_df, entries_df, state["snapshot_id"], snap, part_col
        ),
        checks,
        part_col,
        violations_cap,
    )
