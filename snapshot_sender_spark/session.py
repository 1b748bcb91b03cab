"""SparkSession factory.

Defaults are chosen for correctness-vs-oracle (UTC session timezone, ANSI off to
match the reference's permissive parsing) and for scale (AQE on, shuffle
partitions sized to cores locally — on a real cluster this is set to 2-3× total
executor cores; AQE coalescing then right-sizes each stage at runtime).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _export_worker_boot_path() -> None:
    """Prepend the ``_workerboot`` sitecustomize dir to PYTHONPATH so every
    Python process the Spark JVM launches (task-worker daemon, data-source
    planner workers) installs the zipimport invalidate guard at interpreter
    start — see ``pyboundary.py`` for the measured ~0.2 s/task cost it
    removes. Must run before the JVM gateway launches (the daemon inherits
    the JVM's environment); a later call is harmless but ineffective for an
    already-running JVM, where the guard still arrives via package import."""
    boot = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_workerboot")
    current = os.environ.get("PYTHONPATH", "")
    if boot not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = boot + (os.pathsep + current if current else "")


def get_spark(
    app_name: str = "snapshot_sender_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    _export_worker_boot_path()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Match shuffle width to cores locally; AQE coalesces small stages.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Oracle comparison: DuckDB timestamps are UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for all pandas-UDF / toPandas crossings.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch caps (r13): rows-per-batch back at the Spark default —
        # the inherited 1024-row cap (an OOM guard for binary-heavy rows:
        # 10k × 1 MB payloads = 10 GB per in-flight batch in the decrypt UDF)
        # cost narrow-row UDF paths ~10× the Python crossings. Spark 4's
        # maxBytesPerBatch is the direct memory-safety knob: a batch closes
        # when EITHER cap is hit, so wide binary rows are byte-bounded
        # (32 MB × workers in flight) while narrow rows fill 10k-row batches.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "32m")
        # Split sizing stays at the Spark defaults (128 MB / 4 MB); other
        # deployments override it through ``extra_conf``. Round 13
        # measurement: the previous local tuning (1 MB splits / 64 KB open
        # cost) gave NO parallelism on the single-row-group testdata parquet
        # (a task only reads row groups whose midpoint lands in its split →
        # 1 real + ~30 empty tasks per scan); at the defaults a lineitem
        # scan-agg dropped 0.34s → 0.17s (min-of-4, local[32]).
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.files.openCostInBytes", "4m")
        # Generated-class cache sized to the declared query surface (static
        # conf; the Spark default is 100 entries). One pass over the 18
        # bench.HEADLINE queries compiles ~184 classes at sf0.001 and sf0.1,
        # so at 100 it evicts itself in a cycle: every warm pass recompiled
        # 154-157 classes with Janino, each restarting in the JVM
        # interpreter. At 8192 a warm pass compiles 0, and a steady sf0.1
        # pass fell from 7.1-8.0 s to 5.3-5.7 s (4 cores). All 358 declared
        # queries in one session compile 4,047 classes (Metaspace 265 MB at
        # sf0.01); the 2x headroom is there because Guava's segmented LRU
        # evicts before its nominal size. Pinned by tests/test_session.py.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def compiled_classes(spark: SparkSession) -> int:
    """Generated classes compiled in this JVM so far: Spark's ``CodegenMetrics``
    records one compile time per codegen cache miss, so the difference over a
    pass counts the classes that pass compiled rather than reused."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
