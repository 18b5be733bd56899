"""SparkSession factory tuned for the spark-graft environment.

Local mode is `local[$SPARK_GRAFT_CPUS]` (default: the CPUs this process
may run on, ``os.sched_getaffinity``; single JVM).
All knobs here are chosen for 100 TB-scale semantics even though tests run
locally: AQE on (runtime re-planning, skew-join handling, partition
coalescing), shuffle partitions sized to the local core count (a real
cluster deployment would raise this or rely on AQE's initial partition
number), UTC session timezone for deterministic timestamp semantics, and
Arrow-accelerated Python interchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # size-driven coalescing (docs-recommended for busy clusters): target
    # the advisory partition size instead of max parallelism — fewer,
    # fuller reduce tasks both locally and at 100 TB
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    "spark.ui.enabled": "false",
    "spark.sql.files.maxPartitionBytes": "128MB",
    # Testdata events.parquet uses TIMESTAMP(NANOS); Spark reads it as a
    # long (ns since epoch) with this flag, and tables.py converts back to
    # TimestampType at µs precision (same truncation DuckDB applies).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # One BLAS thread per Python worker: Spark already runs one task per
    # core, so an unpinned OpenBLAS would spawn a full thread pool PER
    # concurrent numpy kernel (32 tasks x 32 threads locally) and thrash
    # the cores the tasks own. Standard practice for numpy-under-Spark;
    # measured on the semdedup chunk-pair kernels: best-of-3 57.3 s ->
    # 45.9 s at the PIPESCALE 64x skew point. On a real cluster the same
    # reasoning holds per-executor (task slots == cores). This is a
    # session-wide default, so it also caps BLAS parallelism for USER
    # numpy/pandas UDFs; a workload with few concurrent tasks and large
    # matmuls can restore multithreaded BLAS by passing e.g.
    # {"spark.executorEnv.OPENBLAS_NUM_THREADS": "8"} as an override to
    # get_spark (overrides win over these defaults) — documented in
    # README "Session defaults".
    "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
    "spark.executorEnv.OMP_NUM_THREADS": "1",
    "spark.executorEnv.MKL_NUM_THREADS": "1",
    # PySpark 4 captures the Python call site on EVERY Column operation
    # (inspect-based, ~50-100ms and JVM-retained per node) for error
    # enrichment. Expression-heavy workloads build thousands of columns;
    # the capture dominates build time and leaks JVM heap — off.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


# PID that created the current JVM gateway. A multiprocessing fork child
# inherits PySpark's module-level singletons (py4j gateway, SparkContext,
# SparkSession) whose sockets belong to the PARENT; any call through them
# deadlocks or corrupts the parent's connection. Exercised by the
# reference's test_pickle_multiprocessing.py: pool workers unpickle an
# expression and evaluate it, which needs a context in the child.
_CREATOR_PID: int | None = None


def _reset_inherited_jvm_state() -> None:
    """Drop PySpark globals inherited across fork so this process launches
    its own JVM. References only — the parent's JVM is not touched."""
    try:
        from pyspark import SparkContext

        SparkContext._gateway = None
        SparkContext._jvm = None
        try:
            with SparkContext._lock:
                SparkContext._active_spark_context = None
        except Exception:
            SparkContext._active_spark_context = None
    except Exception:
        pass
    for attr in ("_instantiatedSession", "_activeSession"):
        try:
            setattr(SparkSession, attr, None)
        except Exception:
            pass
    # stale worker-env leftovers would point the new gateway at the parent
    os.environ.pop("PYSPARK_GATEWAY_PORT", None)
    os.environ.pop("PYSPARK_GATEWAY_SECRET", None)


def get_spark(app_name: str = "datafusion_python_spark", **overrides: str) -> SparkSession:
    """Return the shared SparkSession (creates it on first call).

    Fork-safe: a process whose session globals were inherited from a
    parent (multiprocessing fork start method) gets a fresh JVM instead
    of the parent's dead sockets."""
    global _CREATOR_PID
    if _CREATOR_PID is not None and _CREATOR_PID != os.getpid():
        _reset_inherited_jvm_state()
        _CREATOR_PID = None
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    conf = dict(_DEFAULTS)
    conf.update({k: str(v) for k, v in overrides.items()})
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if _CREATOR_PID is None:
        _CREATOR_PID = os.getpid()
    spark.sparkContext.setLogLevel("WARN")
    return spark
