"""SparkSession factory tuned for the local[N] test/bench environment.

The settings mirror what we would set on a real cluster: AQE for
runtime re-planning (skew joins, partition coalescing), shuffle
partitions sized to the parallelism rather than the 200 default,
UTC session timezone (required for DuckDB-oracle comparability —
DuckDB timestamps are UTC-naive), and Arrow for any Pandas-UDF path.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

#: AQE coalescing floor tune_session pins on externally created
#: sessions: Spark's own default. An r15 x10-corpus A/B showed a global
#: 1k floor is the wrong altitude — it un-serializes CPU-expanding
#: joins (minhash verify 27 -> 17.8 s) but taxes byte-proportional
#: stages (similarity_cosine_topk 4.9 -> 6.2 s). The byte-coalescing
#: that narrows dedup_minhash_verified's verify stage at x10 is still
#: open; the fix belongs in the plan (pair-count-derived stage width),
#: not in a global floor. Experiments can change it at runtime with
#: ``spark.conf.set``.
_AQE_MIN_PARTITION_SIZE = "1m"


def _session_defaults() -> tuple[int, str]:
    """``(cores, driver memory)`` for a session: ``SPARK_GRAFT_CPUS`` and
    ``SPARK_DRIVER_MEMORY`` when set, else the machine's — the cores
    this process may run on, and half of physical RAM (at least 1g) for
    the local-mode driver, whose heap also holds the executors."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    memory = os.environ.get("SPARK_DRIVER_MEMORY")
    if not memory:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        memory = f"{max(1, ram // 2 // 2**30)}g"
    return (int(cpus) if cpus else len(os.sched_getaffinity(0))), memory


def get_spark(app_name: str = "argodb_mapreduce_spark", cpus: int | None = None) -> SparkSession:
    default_cpus, driver_memory = _session_defaults()
    if cpus is None:
        cpus = default_cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # INT96 (the legacy default) carries NO parquet footer min/max,
        # which defeats both row-group skipping and the versioned store's
        # manifest stats; µs is the modern lake-format standard.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        # static conf: bucketed tables (sources/bucketing.py) live here
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "argodb_mapreduce_spark", "warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an externally created session.

    The driver harness creates its own SparkSession; queries must be
    robust to arbitrary configs, but settings that are runtime-mutable
    (timezone, AQE) are applied here for oracle comparability.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # events fixture stores TIMESTAMP(NANOS) which Spark's reader rejects;
    # catalog.load_table converts the resulting long to a µs timestamp.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Timestamp sinks must emit stats-bearing µs, not stats-less INT96
    # (data skipping + row-group pruning depend on footer min/max).
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    # Size shuffles to the machine, not the 200 default (runtime-mutable;
    # results are partitioning-independent by the exact-arithmetic design).
    try:
        cores = spark.sparkContext.defaultParallelism
        spark.conf.set("spark.sql.shuffle.partitions", str(max(8, cores)))
    except Exception:
        pass
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            _AQE_MIN_PARTITION_SIZE,
        )
    except Exception:
        pass  # immutable in some deployments; AQE default-on in Spark 3.2+
    return spark
