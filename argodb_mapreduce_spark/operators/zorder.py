"""Z-order (Morton-curve) data layout — multi-dimensional file pruning.

The reference's range partitioning (§2.A5/B7) clusters ONE column;
queries filtering a second column scan everything. Interleaving the
bits of two columns into a Morton code and range-partitioning + sorting
by it gives every file a tight bounding box in BOTH dimensions, so
parquet min/max stats prune files for predicates on either column —
the Delta/Iceberg ``OPTIMIZE ZORDER BY`` technique, expressed here as
plain Catalyst expressions (shifts/masks in whole-stage codegen, no
UDF) plus ``repartitionByRange`` on the z-value.

Scale: the z-value is a per-row scalar (map-side); the only shuffle is
the range partitioner's sampling + exchange that any sorted write pays.
At 100 TB the same expression feeds ``sortWithinPartitions`` per file
group, and pruning effectiveness is what
``tests/test_zorder.py::test_zorder_prunes_second_dimension`` measures
from real parquet footers: a second-dimension range predicate overlaps
a strict subset of z-ordered files but EVERY linearly-sorted file.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from argodb_mapreduce_spark.catalog import fixture_stale, load_table, read_parquet, table_path
from argodb_mapreduce_spark.registry import register

Z_BITS = 8  # bits per dimension -> 16-bit Morton code, 256x256 grid
N_ZFILES = 16


def scale_to_grid(col: Column, mn: Column, mx: Column, bits: int = Z_BITS) -> Column:
    """Scale a numeric column onto the [0, 2^bits) integer grid using the
    table's (min, max) frame — same normalization as the histogram
    sketch, exact given identical operands."""
    cells = 1 << bits
    # Degenerate frame (constant column): mx == mn would divide by zero
    # and yield NULL cells -> NULL morton codes -> a silently useless
    # layout. A constant column carries no ordering information, so cell
    # 0 is the correct (and pruning-neutral) assignment.
    raw = F.when(mx == mn, F.lit(0)).otherwise(
        F.floor((col.cast("double") - mn) / (mx - mn) * cells).cast("int")
    )
    return F.least(F.greatest(raw, F.lit(0)), F.lit(cells - 1))


def morton_code(x: Column, y: Column, bits: int = Z_BITS) -> Column:
    """Interleave the low ``bits`` of x and y: x bit i -> z bit 2i,
    y bit i -> z bit 2i+1. Pure shift/mask expression chain — stays in
    whole-stage codegen."""
    z = F.lit(0)
    for i in range(bits):
        z = z + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z


def _orders_with_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    frame = o.agg(
        F.min("o_custkey").alias("ck_mn"),
        F.max("o_custkey").alias("ck_mx"),
        F.min("o_totalprice").alias("tp_mn"),
        F.max("o_totalprice").alias("tp_mx"),
    )
    withf = o.crossJoin(F.broadcast(frame))
    return withf.withColumn(
        "zval",
        morton_code(
            scale_to_grid(F.col("o_custkey"), F.col("ck_mn"), F.col("ck_mx")),
            scale_to_grid(F.col("o_totalprice"), F.col("tp_mn"), F.col("tp_mx")),
        ),
    ).drop("ck_mn", "ck_mx", "tp_mn", "tp_mx")


def _layout_dir(sf_dir: str, name: str) -> str:
    tag = sf_dir.strip("/").replace("/", "_")
    return os.path.join(tempfile.gettempdir(), "argodb_mapreduce_spark", tag, name)


def zorder_layout(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per fixture generation) the z-ordered orders copy."""
    out = _layout_dir(sf_dir, "orders_zorder")
    marker = os.path.join(out, "_SUCCESS")
    if fixture_stale(table_path(sf_dir, "orders"), marker):
        (
            _orders_with_z(spark, sf_dir)
            .repartitionByRange(N_ZFILES, "zval")
            .sortWithinPartitions("zval")
            .write.mode("overwrite")
            .parquet(out)
        )
    return out


def linear_layout(spark: SparkSession, sf_dir: str) -> str:
    """The contrast: same data clustered by o_custkey only."""
    out = _layout_dir(sf_dir, "orders_custkey_sorted")
    marker = os.path.join(out, "_SUCCESS")
    if fixture_stale(table_path(sf_dir, "orders"), marker):
        (
            load_table(spark, sf_dir, "orders")
            .repartitionByRange(N_ZFILES, "o_custkey")
            .sortWithinPartitions("o_custkey")
            .write.mode("overwrite")
            .parquet(out)
        )
    return out


@register(
    "sink_zorder_roundtrip",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_price
    FROM orders
    WHERE o_totalprice >= 150000 AND o_totalprice < 250000
    """,
    tags=("sink", "layout", "zorder"),
    doc=(
        "Z-order layout round-trip: orders rewritten clustered by the "
        f"{Z_BITS}-bit-per-dim Morton code of (o_custkey, o_totalprice), "
        "then a second-dimension range query runs against the copy — "
        "values must be exactly the plain-table oracle (layout changes "
        "the file map, never the data). The pruning advantage itself is "
        "measured from parquet footers in tests/test_zorder.py."
    ),
)
def sink_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = zorder_layout(spark, sf_dir)
    df = read_parquet(spark, path)
    return (
        df.filter((F.col("o_totalprice") >= 150000) & (F.col("o_totalprice") < 250000))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_orderkey").cast("long").alias("min_key"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
        )
    )
