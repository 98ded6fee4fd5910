"""SparkSession builders tuned for this engine.

Local mode here is a correctness/bench proxy; every config is chosen
to also be the right default on a multi-executor cluster (AQE on,
skew-join on, Arrow on, UTC session TZ for cross-engine parity).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """~45% of machine RAM, capped at 24g.

    The cap is EMPIRICAL, not arbitrary: raising it to 56g (to make
    the 500k-image bench cache fully heap-resident) measured 1.9x
    SLOWER on the local[8] validation suite on this box (215s vs
    115s, same code, same input, A/B'd in one session) — a large G1
    heap's page-commit/GC behavior costs more than re-reading
    OS-page-cached parquet ever did. Small machines scale down so the
    JVM stays under the OOM-killer line."""
    try:
        total_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    except (ValueError, OSError, AttributeError):
        total_gb = 16.0
    return f"{max(4, min(24, int(total_gb * 0.45)))}g"


def get_spark(
    app_name: str = "adt-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cpus: local parallelism (defaults to $SPARK_GRAFT_CPUS or all cores).
    shuffle_partitions: defaults to max(cpus, 32) locally. On a real
    cluster this should be ~2-3x total executor cores; AQE coalesces
    small post-shuffle partitions either way.
    master: ``None`` → ``local[cpus]``; ``"inherit"`` → leave unset so
    ``spark-submit --master ...`` (cluster mode) controls it.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)
    builder = SparkSession.builder
    if master != "inherit":
        builder = builder.master(master or f"local[{cpus}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Image payload batches can be MBs per row group; keep Arrow
        # batches bounded so the Python decode workers stay small.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Same bound for the SQL in-memory cache: the 10k-row default
        # batch over ~35KB binary payloads builds ~350MB byte arrays
        # per concurrently-caching task — G1 humongous allocations
        # that intermittently OOM'd a 24g heap while persisting the
        # 100k-image bench table. 2048-row batches keep cache-build
        # memory per task in the tens of MB for payload tables.
        .config("spark.sql.inMemoryColumnarStorage.batchSize", "2048")
        # A default-suite validation run generates ~200 distinct
        # whole-stage-codegen classes; the JVM-wide codegen cache is an
        # LRU of 100 by default, so a repeat run cycles through it with
        # 0 hits and recompiles ~199 classes with Janino every time.
        # 1000 entries hold several suite runs, so a long-lived
        # session compiles each class once.
        # Static conf: it must be set before the session starts.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Spark 4.1 keeps a persisted post-shuffle plan at all
        # shuffle.partitions (AQE may not coalesce under a cache), so
        # every tiny check table (stats, dup keys, drift histogram)
        # cached as 8-36 partitions, and every task of a union over
        # them deserializes the lineage of every check. Letting AQE
        # size cached shuffles from their bytes makes a tiny cache 1
        # partition; a large one keeps what its bytes need. Measured
        # on the 1,600-image validate benchmark (4 cores): tasks per
        # run 344 -> 149 with the threaded runner.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # see _default_driver_mem for the measured 24g cap rationale;
        # submit conf / the env var overrides either way.
        .config(
            "spark.driver.memory",
            os.environ.get("ADT_SPARK_DRIVER_MEM", _default_driver_mem()),
        )
        # Split scans finer than the 128MB default: payload rows are
        # ~35KB so a 128MB split holds ~4k images ≈ seconds of Python
        # decode — with GB-scale local tables that caps scan
        # parallelism below the core count. 16MB keeps ≥2 tasks/core
        # at bench sizes; on a real cluster file counts make this moot
        # but finer splits only add negligible scheduling overhead.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        # This host's JDK17 AVX-512 arraycopy stubs are unstable under
        # heavy BINARY-column Arrow traffic (observed SIGSEGV in
        # jlong_disjoint_arraycopy_avx3 + progressive slowdown);
        # capping at AVX2 is the documented JVM workaround.
        # GCLockerRetryAllocationCount: under concurrent JNI/Arrow
        # critical sections G1's default of 2 retries let a transient
        # GCLocker stall surface as a spurious allocation failure
        # ("Retried waiting for GCLocker too often") that killed a
        # bench run mid-stage; retrying longer is the documented
        # mitigation (JDK-8192647) and costs nothing when unneeded.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "ADT_SPARK_JVM_OPTS",
                "-XX:UseAVX=2 -XX:+UnlockDiagnosticVMOptions"
                " -XX:GCLockerRetryAllocationCount=32",
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # probe the Iceberg runtime ONCE at session start and stamp the
    # result so the iceberg seam (sources/iceberg.py) self-reports
    # availability in its error messages instead of re-probing the JVM
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.catalog.Catalog"
        )
        spark.conf.set("spark.adt.iceberg.available", "true")
    except Exception:
        spark.conf.set("spark.adt.iceberg.available", "false")
    return spark
