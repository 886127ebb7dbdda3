"""Range-partitioned table layout (SURVEY.md §2.A2 range branch).

The reference distinguishes three partition layouts in its scan setup
(ArgodbMapreduceInputFormat.java:219-238): single-value partitions
(filterable), range partitions (scannable but **not** filterable — the
``"col=value"`` filter raises "Filter is not supported for
range-partition table"), and multi-column single-value partitions (also
not filterable). Parquet has no native range-partition directory
convention, so the layout is declared here: rows are bucketed by a
sorted bound list into ``range_id=N`` directories plus a sidecar
``_RANGE_PARTITIONED`` marker holding the column + bounds as JSON (the
same sidecar pattern as _SUCCESS / _delta_log).

``catalog.scan`` honors the marker by raising the reference's exact
error for a ``"col=value"`` filter. ``range_scan`` is the Spark-first
upgrade the reference lacks: because the bounds are recorded, a value
or interval predicate on the range column can be translated at planning
time into a ``range_id`` predicate — Catalyst prunes the non-matching
directories before listing files, so at 100 TB a point lookup reads one
range section instead of the whole table, while the row-level predicate
still filters inside the section.
"""

from __future__ import annotations

import bisect
import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from argodb_mapreduce_spark.catalog import (
    RANGE_PARTITION_MARKER,
    fixture_stale,
    load_table,
    read_parquet,
    table_path,
)
from argodb_mapreduce_spark.registry import register
from argodb_mapreduce_spark.sources.hive_partitions import _scratch

#: o_totalprice range bounds for the fixture demo (right-exclusive upper
#: bounds; the last bucket is unbounded above — reference range sections).
ORDERS_PRICE_BOUNDS = (100000.0, 200000.0, 300000.0)


def _bucket_expr(col: Column, bounds: tuple[float, ...]) -> Column:
    """range_id for a value: number of bounds <= value (codegen'd whens)."""
    expr = F.lit(0)
    for b in bounds:
        expr = expr + F.when(col >= F.lit(b), 1).otherwise(0)
    return expr


def write_range_partitioned(
    df: DataFrame, out: str, col: str, bounds: tuple[float, ...]
) -> None:
    """Write ``df`` range-partitioned on ``col`` by ``bounds``.

    One shuffle-free pass: the bucket id is a scalar expression, and the
    partitioned write routes rows to ``range_id=N`` directories. At
    cluster scale the write parallelism is the input parallelism; no
    global sort is needed because range membership is per-row computable.
    """
    (
        df.withColumn("range_id", _bucket_expr(F.col(col), bounds))
        .write.mode("overwrite")
        .partitionBy("range_id")
        .parquet(out)
    )
    with open(os.path.join(out, RANGE_PARTITION_MARKER), "w") as f:
        json.dump({"column": col, "bounds": list(bounds)}, f)


def range_scan(
    spark: SparkSession,
    path: str,
    *,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Scan a range-partitioned table with bounds-aware pruning.

    ``[lo, hi)`` interval on the range column is translated into a
    ``range_id`` membership predicate using the recorded bounds, so
    Catalyst prunes whole range sections (directory-level, before file
    listing), then the exact row predicate runs inside the surviving
    sections. This is the capability the reference's error message
    (`ArgodbMapreduceInputFormat.java:233-235`) declines to provide.
    """
    with open(os.path.join(path, RANGE_PARTITION_MARKER)) as f:
        meta = json.load(f)
    col, bounds = meta["column"], meta["bounds"]
    df = read_parquet(spark, path)
    lo_bucket = bisect.bisect_right(bounds, lo) if lo is not None else 0
    hi_bucket = bisect.bisect_right(bounds, hi) if hi is not None else len(bounds)
    df = df.filter(F.col("range_id").between(lo_bucket, hi_bucket))
    if lo is not None:
        df = df.filter(F.col(col) >= lo)
    if hi is not None:
        df = df.filter(F.col(col) < hi)
    return df


def _orders_range_path(spark: SparkSession, sf_dir: str) -> str:
    out = _scratch(sf_dir, "orders_by_price_range")
    if fixture_stale(table_path(sf_dir, "orders"), os.path.join(out, RANGE_PARTITION_MARKER)):
        write_range_partitioned(
            load_table(spark, sf_dir, "orders"), out, "o_totalprice", ORDERS_PRICE_BOUNDS
        )
    return out


@register(
    "sink_range_roundtrip",
    oracle="""
    SELECT (CASE WHEN o_totalprice >= 100000 THEN 1 ELSE 0 END
          + CASE WHEN o_totalprice >= 200000 THEN 1 ELSE 0 END
          + CASE WHEN o_totalprice >= 300000 THEN 1 ELSE 0 END) AS range_id,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key
    FROM orders
    GROUP BY 1
    """,
    tags=("sink", "partition", "range"),
    doc=(
        "Write→read round-trip through the range-partitioned layout: "
        "orders bucketed by o_totalprice bounds into range_id=N "
        "directories + _RANGE_PARTITIONED sidecar; per-section counts "
        "prove no row moved buckets. The reference's range sections, "
        "ArgodbMapreduceInputFormat.java:219-238."
    ),
)
def sink_range_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _orders_range_path(spark, sf_dir)
    df = read_parquet(spark, out)
    return df.groupBy(F.col("range_id").cast("long").alias("range_id")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_orderkey").cast("long").alias("min_key"),
    )


@register(
    "sink_range_pruned_lookup",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_price
    FROM orders
    WHERE o_totalprice >= 150000 AND o_totalprice < 250000
    """,
    tags=("source", "partition", "range", "pruning"),
    doc=(
        "Bounds-aware interval lookup on the range-partitioned table: "
        "the [150k, 250k) predicate is translated to range_id ∈ {1, 2} "
        "so only those directories are listed (plan shows PartitionFilters "
        "on range_id — tests/test_range_partitions.py asserts it); the "
        "exact predicate filters inside. The Spark-first upgrade over the "
        "reference's 'Filter is not supported for range-partition table'."
    ),
)
def sink_range_pruned_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _orders_range_path(spark, sf_dir)
    df = range_scan(spark, out, lo=150000.0, hi=250000.0)
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
    )
