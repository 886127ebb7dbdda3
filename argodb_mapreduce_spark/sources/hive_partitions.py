"""Sinks and alternate sources (SURVEY.md §2.B7 + §1.2 sentinels).

The reference is read-only (no OutputFormat exists; read-mode flag at
MetaUtils.java:34-38) but its data model *is* Hive-layout partitioned
storage, including the default-partition sentinels that its reader maps
back to NULL / empty string (ArgodbMapreduceRecordReader.java:189-192,
Configs.java:29-30). The write side here produces exactly that layout
(Spark writes ``__HIVE_DEFAULT_PARTITION__`` directories for NULL
partition values natively), and the round-trip queries prove the
sentinel semantics end-to-end. CSV and JSON sources demonstrate the
non-parquet ingest paths with explicit schemas (never inferSchema).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from argodb_mapreduce_spark.catalog import (
    HIVE_DEFAULT_PARTITION,
    fixture_stale,
    load_table,
    read_parquet,
    scan,
    table_path,
)
from argodb_mapreduce_spark.registry import register


def _scratch(sf_dir: str, name: str) -> str:
    tag = sf_dir.strip("/").replace("/", "_")
    return os.path.join(tempfile.gettempdir(), "argodb_mapreduce_spark", tag, name)


def _customer_with_null_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULLIF injects NULL partition values → __HIVE_DEFAULT_PARTITION__ dirs.
    return load_table(spark, sf_dir, "customer").withColumn(
        "seg", F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    )


@register(
    "sink_partitioned_roundtrip",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal,
           NULLIF(c_mktsegment, 'BUILDING') AS seg
    FROM customer
    """,
    tags=("sink", "partition", "sentinel"),
    doc=(
        "Write→read round-trip through a Hive-layout partitioned sink: "
        "NULL partition values land in __HIVE_DEFAULT_PARTITION__ "
        "directories and read back as NULL "
        "(ArgodbMapreduceRecordReader.java:189-192 semantics)."
    ),
)
def sink_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _scratch(sf_dir, "customer_by_seg")
    (
        _customer_with_null_segment(spark, sf_dir)
        .select("c_custkey", "c_name", "c_acctbal", "seg")
        .write.mode("overwrite")
        .partitionBy("seg")
        .parquet(out)
    )
    assert any(
        d.startswith(f"seg={HIVE_DEFAULT_PARTITION}") for d in os.listdir(out) if os.path.isdir(os.path.join(out, d))
    ), "expected a __HIVE_DEFAULT_PARTITION__ directory"
    df = read_parquet(spark, out)
    return df.select("c_custkey", "c_name", "c_acctbal", F.col("seg").cast("string").alias("seg"))


@register(
    "sink_partition_scan_null",
    oracle="""
    SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg FROM customer
    WHERE c_mktsegment = 'BUILDING'
    """,
    tags=("sink", "partition", "sentinel"),
    doc=(
        "Scan the NULL partition by its sentinel name: the reference's "
        "filter string addressed at __HIVE_DEFAULT_PARTITION__ selects "
        "exactly the rows whose partition value was NULL."
    ),
)
def sink_partition_scan_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _scratch(sf_dir, "customer_by_seg")
    marker = os.path.join(out, "_SUCCESS")
    if fixture_stale(table_path(sf_dir, "customer"), marker):
        sink_partitioned_roundtrip(spark, sf_dir)
    df = scan(spark, out, filter=f"seg={HIVE_DEFAULT_PARTITION}")
    return df.select("c_custkey", F.col("seg").cast("string").alias("seg"))


@register(
    "source_csv_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    tags=("source", "csv"),
    doc="CSV sink+source with an explicit schema (no inferSchema — SURVEY.md §2.B7).",
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _scratch(sf_dir, "nation_csv")
    n = load_table(spark, sf_dir, "nation")
    n.write.mode("overwrite").option("header", True).csv(out)
    return spark.read.schema("n_nationkey int, n_name string, n_regionkey int").option("header", True).csv(out)


@register(
    "source_json_roundtrip",
    oracle="SELECT event_id, event_type, value FROM events",
    tags=("source", "json"),
    doc="JSON-lines sink+source with an explicit schema.",
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _scratch(sf_dir, "events_json")
    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    e.write.mode("overwrite").json(out)
    return spark.read.schema("event_id long, event_type string, value double").json(out)


@register(
    "source_orc_roundtrip",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    tags=("source", "orc"),
    doc=(
        "ORC sink+source round-trip — the native columnar format of the "
        "reference's Hive/Inceptor ecosystem (the JDBC bridge at "
        "Configs.java:5 talks to a Hive-compatible catalog). Spark's ORC "
        "path has the same vectorized-read + predicate-pushdown "
        "machinery as parquet, so the engine is format-portable."
    ),
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _scratch(sf_dir, "supplier_orc")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    s.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@register(
    "sink_partitioned_multilevel",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CAST(YEAR(o_orderdate) AS INT) AS o_year, o_orderstatus
    FROM orders
    WHERE YEAR(o_orderdate) = 1995 AND o_orderstatus = 'F'
    """,
    tags=("sink", "partition"),
    doc=(
        "Multi-level Hive layout (o_year=.../o_orderstatus=.../): write "
        "partitioned by two columns, read back with equality filters on "
        "both levels — Catalyst prunes the directory tree before file "
        "listing (PartitionFilters asserted in tests/test_plans.py), so "
        "a two-level point read on a 100 TB table lists one leaf "
        "directory. Partition values come back as trailing columns, the "
        "reference's partition-value-append convention "
        "(ArgodbMapreduceRecordReader.java:189-192)."
    ),
)
def sink_partitioned_multilevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _scratch(sf_dir, "orders_2level")
    marker = os.path.join(out, "_SUCCESS")
    if fixture_stale(table_path(sf_dir, "orders"), marker):
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_totalprice",
            F.year("o_orderdate").alias("o_year"),
            "o_orderstatus",
        )
        o.write.mode("overwrite").partitionBy("o_year", "o_orderstatus").parquet(out)
    df = read_parquet(spark, out)
    return df.filter((F.col("o_year") == 1995) & (F.col("o_orderstatus") == "F")).select(
        "o_orderkey", "o_totalprice", "o_year", "o_orderstatus"
    )


@register(
    "scan_partition_dynamic",
    oracle="""
    WITH dim AS (
      SELECT y, CASE WHEN y < 1998 THEN 'early' ELSE 'late' END AS era
      FROM (SELECT DISTINCT CAST(YEAR(o_orderdate) AS INT) AS y FROM orders)
    )
    SELECT f.o_year, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(f.o_orderkey) AS BIGINT) AS sum_key
    FROM (SELECT o_orderkey, CAST(YEAR(o_orderdate) AS INT) AS o_year FROM orders) f
    JOIN dim ON dim.y = f.o_year
    WHERE dim.era = 'early'
    GROUP BY f.o_year
    """,
    tags=("scan", "partition", "dpp"),
    doc=(
        "DYNAMIC partition pruning: the partitioned fact (orders_2level, "
        "Hive layout by o_year/o_orderstatus) joined to a selectively "
        "filtered year dimension. The reference can prune only on a "
        "static single-key filter string "
        "(ArgodbMapreduceInputFormat.java:208-255); Spark turns the dim "
        "filter into a runtime subquery on the fact's PartitionFilters "
        "(dynamicpruningexpression, asserted in tests/test_plans.py), so "
        "at 100 TB a dim-side predicate eliminates whole fact partitions "
        "at plan time — SURVEY §4's built-in upgrade, witnessed. The dim "
        "broadcasts (a handful of years), so the pruning subquery reuses "
        "the broadcast exchange: zero extra scans of the fact."
    ),
)
def scan_partition_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _scratch(sf_dir, "orders_2level")
    marker = os.path.join(out, "_SUCCESS")
    if fixture_stale(table_path(sf_dir, "orders"), marker):
        sink_partitioned_multilevel(spark, sf_dir)
    fact = read_parquet(spark, out)
    dim = (
        load_table(spark, sf_dir, "orders")
        .select(F.year("o_orderdate").alias("y"))
        .distinct()
        .withColumn("era", F.when(F.col("y") < 1998, F.lit("early")).otherwise(F.lit("late")))
    )
    return (
        fact.join(dim, fact.o_year == dim.y)
        .filter(F.col("era") == "early")
        .groupBy("o_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
    )
