"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the same config block is what we would ship
to a 1000-executor cluster (AQE, skew-join handling, broadcast thresholds),
so plans exercised in tests are the plans we'd run at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "kektordb-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    # One BLAS thread per Python worker: each task's numpy kernel runs on
    # its own core already; letting OpenBLAS/OMP spawn nproc threads per
    # worker process oversubscribes the box by ~32x and serializes the
    # pandas-UDF stages. Set in the driver env (inherited by the JVM →
    # python daemon → workers) plus executorEnv for cluster mode.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # The glibc malloc tunables are exported at package import
    # (kektordb_spark/__init__.py), so a JVM launched by any caller
    # after that import inherits them.
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Deterministic timestamps: all epoch math is done in UTC so the
        # DuckDB oracle (naive timestamps) agrees with Spark.
        .config("spark.sql.session.timeZone", "UTC")
        # AQE re-plans shuffles at runtime: coalesces small partitions,
        # converts sort-merge to broadcast joins, splits skewed partitions.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Session-creation default only: tables.load_tables replaces
        # this with the DATA-derived count the moment it knows the
        # input directory (data_sized_shuffle_partitions — bytes /
        # per-lane target, env-parameterised; guide §2.1 "partitions
        # track data volume, never core count"). The static fallback
        # covers sessions that never load fixture tables (unit tests
        # over tiny literals), where 16 kilobyte-scale lanes are
        # harmless.
        .config("spark.sql.shuffle.partitions", "16")
        # Arrow for every pandas UDF / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Robustness for nanos-encoded event files: TIMESTAMP(NANOS)
        # parquet (which Spark has no native type for) loads as long and
        # tables.ts_from_long rebuilds it per the footer's actual unit.
        # Current fixtures are TIMESTAMP(MICROS) and load natively.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Experiment hook for JVM flags; empty by default. (-Xms pinned
        # to the max heap was A/B'd for the mmap_lock issue and measured
        # consistently SLOWER at 8 reps x 3 queries — the default
        # adaptive ~2 GiB heap beats a committed 8 GiB one here.)
        .config("spark.driver.extraJavaOptions",
                os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", ""))
        # Read local storage/shuffle blocks >= 2 MiB with plain I/O into
        # pooled buffers instead of mmap+munmap per block (the third
        # mmap_lock source; kernel stacks during bursts showed task
        # threads in vm_mmap_pgoff/__vm_munmap on block reads).
        .config("spark.storage.memoryMapThreshold", "512m")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # Same malloc behaviour on cluster executors (local mode
        # inherits the driver env set above).
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", str(1 << 30))
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "-1")
        .config("spark.executorEnv.MALLOC_ARENA_MAX", "4")
        .config("spark.ui.enabled", "false")
        # The status listeners track jobs/stages/SQL executions even
        # with the UI off; a 75-query bench session accumulates
        # thousands of entries on the listener bus. Cap retention so
        # late queries in a long session don't pay for early ones.
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "10000")
        .config("spark.sql.ui.retainedExecutions", "30")
    )
    return builder.getOrCreate()
