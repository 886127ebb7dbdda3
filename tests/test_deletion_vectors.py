"""Deletion vectors read on the driver.

A read through a deletion vector (DV) of at most
``versioned._DV_MASK_ROWS`` rows applies it as a literal row mask in the
scan's own filter; a larger DV is broadcast and anti-joined. The two
paths must give identical rows for every verb that reads through a DV,
on every layout whose file paths the mask has to match: flat, Hive-
partitioned under a path that needs URI encoding and SQL escaping, a
shallow clone's absolute segments, and a keyed encrypted table."""

from __future__ import annotations

import base64

import pytest
from pyspark.sql import functions as F

from argodb_mapreduce_spark.plans.checks import explain_str
from argodb_mapreduce_spark.sources import versioned as V
from tests.conftest import jobs_of

KEY = base64.b64encode(bytes(range(32))).decode()


def _write(spark, p, lo, hi, layout):
    df = spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.concat(F.lit("g "), (F.col("id") % 3).cast("string")).alias("g"),
        (F.col("id") * 10).alias("v"),
    )
    if layout == "encrypted":
        from argodb_mapreduce_spark.sources.python_datasource import (
            FORMAT_NAME,
            register_datasource,
        )

        register_datasource(spark)
        df.write.format(FORMAT_NAME).option("encryptionKey", KEY).mode(
            "append"
        ).save(p)
    else:
        V.versioned_write(
            df, p, mode="append",
            partition_by=["g"] if layout == "partitioned" else (),
        )


def _table(spark, root, layout):
    """Two segments (k 0..59, 100..129) under ``root`` in ``layout``."""
    if layout == "clone":
        src = str(root / "src")
        _write(spark, src, 0, 60, "flat")
        _write(spark, src, 100, 130, "flat")
        p = str(root / "clone")
        V.clone_table(src, p)
        return p
    # A path Spark percent-encodes (space, '%') and SQL text must escape.
    p = str(root / ("it's a 50% table" if layout == "partitioned" else "t"))
    _write(spark, p, 0, 60, layout)
    _write(spark, p, 100, 130, layout)
    return p


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _history(spark, p, key):
    """Every verb that reads through a pending DV, and what it saw."""
    kw = {"encryption_key": key} if key else {}

    def keys(*ks):
        return spark.createDataFrame([(k,) for k in ks], "k long")

    def read():
        return _rows(V.snapshot_read(spark, p, **kw).select("k", "g", "v"))

    base = V._read_manifest(p)[-1]["version"]
    V.delete_keys(spark, p, keys(3, 7, 40, 101), "k", **kw)
    v = V.rollback(p, base)  # revives the four tombstones
    revived = V.change_feed(spark, p, base, v, **kw).select("_change_type", "k")
    seen = [_rows(revived)]
    V.delete_keys(spark, p, keys(3, 11, 41, 120), "k", **kw)
    seen.append(read())
    seen.append(_rows(V.snapshot_read(spark, p, predicates=[("k", "=", 11)], **kw)))
    res = V.update_where(spark, p, [("k", ">=", 10), ("k", "<", 20)], {"v": F.col("v") + 1}, **kw)
    seen += [res["rows_updated"], read()]
    src = spark.createDataFrame(
        [(k, "g 0", -k) for k in (5, 41, 42, 120, 121, 200)], "k long, g string, v long"
    )
    res = V.merge_upsert(spark, p, src, "k", **kw)
    seen += [sorted(res.items()), read()]
    head = V._read_manifest(p)[-1]["version"]
    feed = V.change_feed(spark, p, base, head, **kw)
    seen.append(_rows(feed.select("_change_type", "k", "g", "v")))
    V.compact(spark, p, **kw)
    seen.append(read())
    return seen


@pytest.mark.parametrize("layout", ["flat", "partitioned", "clone", "encrypted"])
def test_mask_and_broadcast_read_the_same_rows(spark, tmp_path, layout, monkeypatch):
    key = KEY if layout == "encrypted" else None
    masked = _history(spark, _table(spark, tmp_path / "mask", layout), key)
    monkeypatch.setattr(V, "_DV_MASK_ROWS", 0)  # force the broadcast path
    broadcast = _history(spark, _table(spark, tmp_path / "bc", layout), key)
    assert masked == broadcast
    # The rollback past the DELETE revives its four rows.
    deleted = [("delete", k) for k in (3, 7, 40, 101)]
    assert masked[0] == sorted(deleted + [("insert", k) for _, k in deleted], key=repr)


def test_small_dv_plans_no_join(spark, tmp_path):
    """Sibling of test_round9b_ops' broadcast test: a DV at or below the
    mask size is a filter in the scan's stage, and costs no job."""
    p = _table(spark, tmp_path, "flat")
    V.delete_keys(spark, p, spark.createDataFrame([(3,), (101,)], "k long"), "k")
    df = V.snapshot_read(spark, p)
    plan = explain_str(df, "simple")
    assert "BroadcastExchange" not in plan and "SortMergeJoin" not in plan
    assert "Filter" in plan
    rows, jobs = jobs_of(spark, lambda: df.collect())
    assert len(rows) == 88 and jobs == 1


def test_mask_escapes_quotes_and_backslashes(spark, tmp_path):
    """File paths reach the mask as SQL string literals: a quote in the
    table path must not change what is masked, and every literal reads
    back as the string it was made from. (Hadoop's path globbing
    rejects a table path holding a backslash, so a backslash is checked
    on the literal alone.)"""
    p = str(tmp_path / "a'b c")
    _write(spark, p, 0, 20, "flat")
    V.delete_keys(spark, p, spark.createDataFrame([(4,), (9,)], "k long"), "k")
    got = sorted(r.k for r in V.snapshot_read(spark, p).collect())
    assert got == [k for k in range(20) if k not in (4, 9)]
    for s in ("file:/t/it's", "a\\b", "\\'", "x\\%y\\n'"):
        assert spark.sql(f"SELECT {V._sql_str(s)} AS s").first().s == s


def test_delete_where_drop_count_on_an_encoded_path(spark, tmp_path):
    """The rows a metadata-only drop erases are counted from the DV on
    the driver: a table path with a space, '%' and '+' (percent-encoded
    in the sidecar, '+' left as is) subtracts exactly the dropped
    segment's tombstones. The drop scans nothing, so it runs no job."""
    p = str(tmp_path / "a b%2+c")
    _write(spark, p, 0, 60, "flat")
    _write(spark, p, 100, 130, "flat")
    # Tombstones in both segments; only the first segment is dropped.
    V.delete_keys(spark, p, spark.createDataFrame([(2,), (5,), (110,)], "k long"), "k")
    (v, n), jobs = jobs_of(spark, lambda: V.delete_where(spark, p, [("k", "<", 100)]))
    assert n == 60 - 2 and jobs == 0
    head = V._read_manifest(p)[-1]
    assert head["version"] == v and head["dropped_segments"]
    assert sorted(r.k for r in V.snapshot_read(spark, p).collect()) == [
        k for k in range(100, 130) if k != 110
    ]
