"""Round-14 optimization equivalence tests.

Each optimization must be result-identical to the path it replaced:
- multiset_equal == exceptAll-both-ways (duplicates, NULLs, inequality)
- build_grouped_blooms == per-segment build_segment_bloom, bit-identical
- delete_keys(_precomputed_segs=...) == delete_keys discovering itself
- versioned_write(_prestaged=...) commits the same manifest shape
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from argodb_mapreduce_spark.functions.oracle_safe import multiset_equal


def _exceptall_equal(a, b):
    return (
        a.exceptAll(b).limit(1).count() == 0
        and b.exceptAll(a).limit(1).count() == 0
    )


@pytest.mark.parametrize(
    "rows_a, rows_b, want",
    [
        ([(1, "x"), (1, "x"), (2, None)], [(2, None), (1, "x"), (1, "x")], True),
        ([(1, "x"), (1, "x")], [(1, "x")], False),  # multiplicity differs
        ([(1, "x")], [(1, "y")], False),
        ([(None, None)], [(None, None)], True),  # NULL == NULL group keys
        ([], [], True),
        ([(1, "x")], [], False),
    ],
)
def test_multiset_equal_matches_exceptall(spark, rows_a, rows_b, want):
    schema = "k int, v string"
    a = spark.createDataFrame(rows_a, schema)
    b = spark.createDataFrame(rows_b, schema)
    assert multiset_equal(a, b) is want
    assert _exceptall_equal(a, b) is want


def test_grouped_blooms_bit_identical_to_per_segment(spark, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import (
        build_grouped_blooms,
        build_segment_bloom,
    )

    df = spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") % 4).cast("int").alias("__q")
    )
    staged = str(tmp_path / "staged")
    df.write.partitionBy("__q").parquet(staged)
    grouped = build_grouped_blooms(spark, staged, "k", "__q", range(4))
    for q in range(4):
        per_seg = build_segment_bloom(spark, os.path.join(staged, f"__q={q}"), ["k"])
        assert grouped[q]["m"] == per_seg["k"]["m"], q
        assert grouped[q]["k"] == per_seg["k"]["k"], q
        assert grouped[q]["b64"] == per_seg["k"]["b64"], q


def test_grouped_blooms_empty_group_is_conservative(spark, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import build_grouped_blooms

    df = spark.range(0, 100).select(
        F.col("id").alias("k"), F.lit(0).cast("int").alias("__q")
    )
    staged = str(tmp_path / "staged")
    df.write.partitionBy("__q").parquet(staged)
    grouped = build_grouped_blooms(spark, staged, "k", "__q", range(2))
    # group 1 never staged: an all-zeros bloom (matches nothing) is
    # correct — the quarter holds no rows, so pruning it is sound.
    import base64

    assert set(base64.b64decode(grouped[1]["b64"])) == {0}


def test_delete_keys_precomputed_segs_identical(spark, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import (
        _read_manifest,
        _segments_possibly_holding_keys_distributed,
        delete_keys,
        snapshot_read,
        versioned_write,
    )

    def build(path):
        for lo in (0, 1000, 2000, 3000):
            versioned_write(
                spark.range(lo, lo + 1000).select(
                    F.col("id").alias("k"), (F.col("id") * 2).alias("v")
                ),
                path,
                mode="append",
                bloom_columns=["k"],
            )

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    build(a)
    build(b)
    keys = spark.range(0, 500).select(F.col("id").alias("k"))
    latest = _read_manifest(a)[-1]
    kept = _segments_possibly_holding_keys_distributed(spark, latest, keys, "k")
    va, na = delete_keys(spark, a, keys, "k", prune_cap=10, _precomputed_segs=kept)
    vb, nb = delete_keys(spark, b, keys, "k", prune_cap=10)
    assert (va, na) == (vb, nb)
    ra = snapshot_read(spark, a).orderBy("k").collect()
    rb = snapshot_read(spark, b).orderBy("k").collect()
    assert ra == rb


def test_range_split_fixture_shape(spark):
    """The cached base keeps the build contract (4 versions, 4
    range-disjoint segments, per-segment key blooms and min/max stats)
    and each caller's CLONE carries the full head — segments, stats,
    blooms — while mutations stay local to the clone."""
    from argodb_mapreduce_spark.sources.versioned import (
        _build_range_split_table,
        _read_manifest,
        _scratch,
        _stat_decode,
        delete_keys,
        snapshot_read,
        versions,
    )
    from argodb_mapreduce_spark.catalog import load_table

    sf_dir = "/root/testdata/sf0.001"
    out, w = _build_range_split_table(spark, sf_dir, "_r14test")
    base = _scratch(sf_dir) + "_rsplit_base"
    try:
        assert versions(base) == [0, 1, 2, 3]
        entries = _read_manifest(out)
        assert [e["version"] for e in entries] == [0]  # clone pins the head
        latest = entries[-1]
        assert len(latest["segments"]) == 4
        for i, seg in enumerate(latest["segments"]):
            st = latest["stats"][seg]["o_orderkey"]
            mn, mx = _stat_decode(st[0]), _stat_decode(st[1])
            assert i * w <= mn <= mx < (i + 1) * w, (i, mn, mx, w)
            assert "o_orderkey" in latest["bloom"][seg]
        n = snapshot_read(spark, out).count()
        expect = load_table(spark, sf_dir, "orders").count()
        assert n == expect
        # A mutation on the clone must not touch the base: erase some
        # keys, then re-clone and see the pristine row count again.
        keys = snapshot_read(spark, out).select("o_orderkey").limit(50)
        _v, n_erased = delete_keys(spark, out, keys, "o_orderkey")
        assert n_erased == 50
        assert snapshot_read(spark, out).count() == expect - 50
        out2, _w2 = _build_range_split_table(spark, sf_dir, "_r14test")
        assert snapshot_read(spark, out2).count() == expect
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_footer_schema_matches_inference_all_tables(spark):
    """_footer_spark_schema must agree with Spark's own inference for
    every fixture table (else base-table scans would change shape)."""
    import os

    from argodb_mapreduce_spark.catalog import _footer_spark_schema

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for sf in ("sf0.001", "sf0.01"):
        d = f"/root/testdata/{sf}"
        for fn in sorted(os.listdir(d)):
            if not fn.endswith(".parquet"):
                continue
            p = os.path.join(d, fn)
            built = _footer_spark_schema(p)
            assert built is not None, p
            inferred = spark.read.parquet(p).schema
            assert built == inferred, (p, built, inferred)


def test_footer_reader_matches_inference_on_partitioned_layouts(spark, sf_dir):
    """catalog.read_parquet on a Hive-layout directory: data columns
    from the leaf footers, partition columns (and their types) from the
    directory names — the same schema, names, types and order, and the
    same rows as Spark's inference, with no job."""
    from argodb_mapreduce_spark.catalog import _footer_spark_schema, read_parquet
    from argodb_mapreduce_spark.operators.scans import partitioned_lineitem
    from argodb_mapreduce_spark.sources.hive_partitions import _scratch, sink_partitioned_multilevel
    from argodb_mapreduce_spark.sources.range_partitions import _orders_range_path
    from tests.conftest import jobs_of

    sink_partitioned_multilevel(spark, sf_dir)
    layouts = [
        partitioned_lineitem(spark, sf_dir),
        _scratch(sf_dir, "orders_2level"),
        _orders_range_path(spark, sf_dir),
    ]
    for path in layouts:
        assert _footer_spark_schema(path) is not None, path
        ours, jobs = jobs_of(spark, lambda: read_parquet(spark, path))
        inferred = spark.read.parquet(path)
        assert jobs == 0, path
        assert ours.schema == inferred.schema, (path, ours.schema, inferred.schema)
        assert sorted(map(repr, ours.collect())) == sorted(map(repr, inferred.collect())), path


def test_footer_reader_falls_back_to_inference(spark, tmp_path):
    """Divergent leaf footers, a data column named like a partition
    column, or more leaves than the sweep bound: no footer schema, and
    catalog.read_parquet reads through Spark's inference."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from argodb_mapreduce_spark.catalog import _FOOTER_SWEEP_MAX, _footer_spark_schema, read_parquet

    def write(path, **cols):
        path.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.table(cols), str(path))

    write(tmp_path / "div" / "k=1" / "a.parquet", x=[1])
    write(tmp_path / "div" / "k=2" / "b.parquet", x=[2], y=["b"])
    write(tmp_path / "dup" / "k=1" / "a.parquet", x=[1], k=[1])
    for i in range(_FOOTER_SWEEP_MAX + 1):
        write(tmp_path / "many" / f"p{i:02d}.parquet", x=[i])
    for name in ("div", "dup", "many"):
        path = str(tmp_path / name)
        assert _footer_spark_schema(path) is None, name
        assert read_parquet(spark, path).schema == spark.read.parquet(path).schema, name


def test_delete_keys_literal_path_matches_broadcast(spark, tmp_path):
    """The under-cap literal IN-list discovery (r14) must produce the
    identical DV and survivors as the over-cap broadcast semi-join,
    including NULL keys in the key frame (which match no row in either
    formulation)."""
    from argodb_mapreduce_spark.sources.versioned import (
        delete_keys,
        snapshot_read,
        versioned_write,
    )

    def build(path):
        versioned_write(
            spark.range(0, 2000).select(
                F.col("id").alias("k"), (F.col("id") % 7).alias("v")
            ),
            path,
        )

    a, b = str(tmp_path / "lit"), str(tmp_path / "bc")
    build(a)
    build(b)
    keys = spark.range(0, 300).select(
        F.when(F.col("id") % 50 == 0, F.lit(None)).otherwise(F.col("id")).alias("k")
    )
    va, na = delete_keys(spark, a, keys, "k")  # under cap -> literal path
    vb, nb = delete_keys(spark, b, keys, "k", prune_cap=10)  # forced broadcast
    assert (va, na) == (vb, nb)
    ra = snapshot_read(spark, a).orderBy("k").collect()
    rb = snapshot_read(spark, b).orderBy("k").collect()
    assert ra == rb and len(ra) == 2000 - 294  # 300 minus 6 NULLed slots


def test_delete_keys_all_null_keys_noop(spark, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import (
        delete_keys,
        versioned_write,
    )

    p = str(tmp_path / "nulls")
    versioned_write(spark.range(100).select(F.col("id").alias("k")), p)
    keys = spark.range(5).select(F.lit(None).cast("bigint").alias("k"))
    v, n = delete_keys(spark, p, keys, "k")
    assert (v, n) == (0, 0)  # no commit, nothing deleted


def test_merge_literal_path_matches_broadcast(spark, tmp_path):
    """Small-key literal MERGE (r14) must commit the identical table
    state and CDC sidecar as the broadcast-join path, including NULL
    source keys (pure inserts) and never-matched keys."""
    from argodb_mapreduce_spark.sources import versioned as V

    def build(path, cdf):
        V.versioned_write(
            spark.range(0, 1000).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            ),
            path,
        )
        if cdf:
            V.enable_change_data_feed(path)

    src_rows = spark.range(500, 1600).select(
        F.when(F.col("id") % 400 == 0, F.lit(None)).otherwise(F.col("id")).alias("k"),
        (F.col("id") * 100).alias("v"),
    )
    for cdf in (False, True):
        a = str(tmp_path / f"lit{cdf}")
        b = str(tmp_path / f"bc{cdf}")
        build(a, cdf)
        build(b, cdf)
        sa = V.merge_upsert(spark, a, src_rows, "k")
        cap = V._DELETE_KEYS_PRUNE_CAP
        try:
            V._DELETE_KEYS_PRUNE_CAP = 0  # force the broadcast path
            sb = V.merge_upsert(spark, b, src_rows, "k")
        finally:
            V._DELETE_KEYS_PRUNE_CAP = cap
        assert sa == sb
        ra = sorted(map(tuple, V.snapshot_read(spark, a).collect()), key=repr)
        rb = sorted(map(tuple, V.snapshot_read(spark, b).collect()), key=repr)
        assert ra == rb
        if cdf:
            fa = V.change_feed(spark, a, 0, 1).drop("_commit_version", "_commit_timestamp")
            fb = V.change_feed(spark, b, 0, 1).drop("_commit_version", "_commit_timestamp")
            assert sorted(map(tuple, fa.collect()), key=repr) == sorted(
                map(tuple, fb.collect()), key=repr
            )


def test_update_where_cdf_count_from_sidecar(spark, tmp_path):
    """rows_updated on the CDF path now derives from the sidecar's
    footers — it must equal the true matched count, and a stats-admitted
    but row-empty UPDATE must stay a no-op commit."""
    from argodb_mapreduce_spark.sources import versioned as V

    p = str(tmp_path / "updcdf")
    V.versioned_write(
        spark.range(0, 500).select(F.col("id").alias("k"), F.lit("x").alias("s")),
        p,
    )
    V.enable_change_data_feed(p)
    res = V.update_where(spark, p, [("k", "<", 40)], {"s": F.lit("y")})
    assert res["rows_updated"] == 40 and res["version"] == 1
    # stats admit (range covers 123) but no row matches the conjunction
    res2 = V.update_where(
        spark, p, [("k", ">=", 123), ("k", "<", 123)], {"s": F.lit("z")}
    )
    assert res2["rows_updated"] == 0 and res2["version"] == 1
    assert len(V.versions(p)) == 2  # the no-op committed nothing


def test_scoped_conf_restores_session_settings(spark):
    """tuning.scoped_conf must restore every setting it touched — set
    keys back to their prior values, previously-unset keys back to
    unset — even when the body raises (the bounded-loop scopes in
    graph_pagerank / embedding_pca_top_component rely on this so the
    surrounding query keeps the session's planning behavior)."""
    from argodb_mapreduce_spark.tuning import bounded_loop_conf, scoped_conf

    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    with scoped_conf(spark, bounded_loop_conf(width=1)):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    assert spark.conf.get("spark.sql.adaptive.enabled") == prev_aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_sp
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, bounded_loop_conf(width=3)):
            raise RuntimeError("body failure must not leak the scope")
    assert spark.conf.get("spark.sql.adaptive.enabled") == prev_aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_sp


def test_pagerank_width_independent_of_session_partitions(spark):
    """The bounded-loop scope pins the iteration width to the provable
    state bound, so the ranks must be bit-identical under wildly
    different session shuffle widths (the gsum-grid design contract)."""
    from argodb_mapreduce_spark.operators.graph import graph_pagerank

    sf = "/root/testdata/sf0.001"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        a = sorted(map(tuple, graph_pagerank(spark, sf).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "64")
        b = sorted(map(tuple, graph_pagerank(spark, sf).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b


# ---------------------------------------------------------------------------
# Session 3: latest-image CDC apply == per-version replay
# ---------------------------------------------------------------------------


def _cdc_history(spark, path):
    """CDF-enabled history exercising every collapse hazard: v0/v1
    inserts, v2 UPDATE that rewrites a grouping column, v3 DV DELETE of
    half the keys, v4 RESTORE that resurrects them (same-version
    delete+insert legs for the same keys), v5 append; then v6 DELETE
    of keys that are NEVER resurrected (final-image-is-delete)."""
    from argodb_mapreduce_spark.sources.versioned import (
        delete_where,
        enable_change_data_feed,
        rollback,
        update_where,
        versioned_write,
    )

    def rows(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("int").alias("g"),
            (F.col("id") * 10).cast("long").alias("v"),
        )

    versioned_write(rows(0, 40), path)  # v0
    enable_change_data_feed(path)
    versioned_write(rows(100, 140), path, mode="append")  # v1
    update_where(spark, path, [("g", "=", 0)], {"g": F.lit(7)})  # v2 sidecar
    delete_where(spark, path, [("k", "<", 20)])  # v3: DV
    rollback(path, 2)  # v4: RESTORE resurrects k<20 (delete+insert legs)
    versioned_write(rows(200, 220), path, mode="append")  # v5
    delete_where(spark, path, [("k", ">=", 210)])  # v6: final delete, no revive


def _full_feed(spark, path):
    """The legs a fresh streaming subscriber drains in one micro-batch:
    v0's rows as insert legs + each later version's change_feed span
    tagged with its _commit_version (exactly the streaming source's
    per-leg version column, which the batch change_feed omits)."""
    from argodb_mapreduce_spark.sources.versioned import (
        _read_manifest,
        change_feed,
        snapshot_read,
    )

    head = _read_manifest(path)[-1]["version"]
    feed = snapshot_read(spark, path, 0).select(
        "*",
        F.lit("insert").alias("_change_type"),
        F.lit(0).cast("long").alias("_commit_version"),
    )
    for v in range(1, head + 1):
        feed = feed.unionByName(
            change_feed(spark, path, v - 1, v).select(
                "*", F.lit(v).cast("long").alias("_commit_version")
            )
        )
    return feed, head


def _per_version_replay(spark, replica, batch_df):
    """The pre-collapse algorithm, verbatim: one DML per (version, leg
    type) in commit order, deletes first within a version."""
    from argodb_mapreduce_spark.sources.versioned import (
        delete_keys,
        merge_upsert,
        versioned_write,
    )

    present = {
        (r["_commit_version"], r["_change_type"])
        for r in batch_df.groupBy("_commit_version", "_change_type").count().collect()
    }
    for ver in sorted({v for v, _ in present}):
        legs = batch_df.filter(F.col("_commit_version") == ver)
        tags = ("_change_type", "_commit_version")
        if (ver, "delete") in present:
            delete_keys(
                spark, replica, legs.filter(F.col("_change_type") == "delete").select("k"), "k"
            )
        if (ver, "insert") in present:
            ins = legs.filter(F.col("_change_type") == "insert").drop(*tags)
            if os.path.exists(os.path.join(replica, "_snapshots.json")):
                merge_upsert(spark, replica, ins, "k")
            else:
                versioned_write(ins, replica)
        if (ver, "update_postimage") in present:
            merge_upsert(
                spark,
                replica,
                legs.filter(F.col("_change_type") == "update_postimage").drop(*tags),
                "k",
            )


def test_latest_image_apply_matches_per_version_replay(spark, tmp_path):
    from argodb_mapreduce_spark.sources.python_datasource import (
        cdc_latest_image_apply,
    )
    from argodb_mapreduce_spark.sources.versioned import snapshot_read

    src = str(tmp_path / "src")
    _cdc_history(spark, src)
    feed, _head = _full_feed(spark, src)
    feed = feed.persist()
    try:
        rep_new = str(tmp_path / "rep_new")
        cdc_latest_image_apply(spark, rep_new, feed, "k")
        rep_old = str(tmp_path / "rep_old")
        _per_version_replay(spark, rep_old, feed)
    finally:
        feed.unpersist()
    head_df = snapshot_read(spark, src)
    new_df = snapshot_read(spark, rep_new)
    assert multiset_equal(new_df, head_df.select(*new_df.columns))
    assert multiset_equal(new_df, snapshot_read(spark, rep_old).select(*new_df.columns))
    # final-image-is-delete keys must be ABSENT, resurrected keys present
    assert new_df.filter("k >= 210").count() == 0
    assert new_df.filter("k < 20").count() == 20


def test_latest_image_apply_split_batches(spark, tmp_path):
    """A mid-history batch split (the general micro-batch case) must
    converge to the same head: collapse within each version-contiguous
    batch, merge across batches."""
    from argodb_mapreduce_spark.sources.python_datasource import (
        cdc_latest_image_apply,
    )
    from argodb_mapreduce_spark.sources.versioned import (
        change_feed,
        snapshot_read,
    )

    src = str(tmp_path / "src")
    _cdc_history(spark, src)
    feed, head = _full_feed(spark, src)
    rep = str(tmp_path / "rep")
    # batch 1: v0..v3 (through the DV delete); batch 2: v4..head
    cdc_latest_image_apply(
        spark, rep, feed.filter(F.col("_commit_version") <= 3), "k"
    )
    mid = snapshot_read(spark, rep)
    assert mid.filter("k < 20").count() == 0  # deletes applied, not yet revived
    cdc_latest_image_apply(
        spark, rep, feed.filter(F.col("_commit_version") > 3), "k"
    )
    final = snapshot_read(spark, rep)
    head_df = snapshot_read(spark, src)
    assert multiset_equal(final, head_df.select(*final.columns))
