"""Round 13: CDF across RESTORE/overwrite (batch + streaming),
distributed over-cap delete_keys pruning, pyds writer column mapping.

Contract under test (Delta RESTORE's CDF granularity): an overwrite or
rollback commit synthesizes FILE-LEVEL legs from the manifest's segment
diff — removed segments' live rows as delete legs, re-added segments'
live rows as insert legs, shared-segment DV deltas as positional
delete/resurrection legs — instead of killing the feed. A plain
(non-CDF) stream tail keeps failing loud on non-append history.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from argodb_mapreduce_spark.sources.versioned import (
    _read_manifest,
    change_feed,
    delete_keys,
    delete_where,
    merge_upsert,
    rollback,
    snapshot_read,
    update_where,
    versioned_write,
)


def _base(spark, tmp_path, n=60):
    p = str(tmp_path / "t")
    df = spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("g"),
        (F.col("id") * 10).cast("long").alias("v"),
    )
    versioned_write(df, p, mode="append")
    return p


def _legs(feed, key="k"):
    return {
        r["_change_type"]: (r["n"], r["sk"])
        for r in feed.groupBy("_change_type")
        .agg(F.count("*").alias("n"), F.sum(key).alias("sk"))
        .collect()
    }


# ----------------------------------------------------- batch feed synthesis


def test_restore_past_delete_resurrects_as_insert_legs(spark, tmp_path):
    """Same segment list, DV retracted: positions the restore
    un-tombstones come back as insert legs, position-joined against
    only the touched files."""
    p = _base(spark, tmp_path)
    delete_keys(
        spark, p, spark.range(0, 60, 10).select(F.col("id").alias("k")), "k"
    )  # v1: keys 0,10,..,50
    rollback(p, 0)  # v2
    legs = _legs(change_feed(spark, p, 1, 2))
    assert legs == {"insert": (6, 150)}


def test_restore_to_deleted_state_reapplies_tombstones(spark, tmp_path):
    """Rolling FORWARD onto a DV-carrying target (v0 -> delete -> restore
    v0 -> restore the delete again): the second restore's shared-segment
    DV delta emits the tombstoned rows as delete legs."""
    p = _base(spark, tmp_path)
    delete_keys(
        spark, p, spark.range(0, 60, 10).select(F.col("id").alias("k")), "k"
    )  # v1
    rollback(p, 0)  # v2: resurrect
    rollback(p, 1)  # v3: re-delete (restores v1's DV)
    legs = _legs(change_feed(spark, p, 2, 3))
    assert legs == {"delete": (6, 150)}
    # And the whole span nets out to the same live set as the head.
    head = snapshot_read(spark, p)
    assert head.count() == 54


def test_restore_past_overwrite_round_trips(spark, tmp_path):
    """Overwrite then restore: the two synthesized transitions are exact
    inverses, and replaying the feed converges to the head snapshot."""
    p = _base(spark, tmp_path)  # v0: k 0..59
    versioned_write(
        spark.range(100, 110).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).alias("g"),
            (F.col("id") * 10).cast("long").alias("v"),
        ),
        p,
        mode="overwrite",
    )  # v1
    rollback(p, 0)  # v2
    over = _legs(change_feed(spark, p, 0, 1))
    back = _legs(change_feed(spark, p, 1, 2))
    assert over == {"delete": (60, sum(range(60))), "insert": (10, 1045)}
    assert back == {"delete": (10, 1045), "insert": (60, sum(range(60)))}


def test_update_merge_without_cdf_synthesize(spark, tmp_path):
    """r14: un-CDC UPDATE/MERGE transitions synthesize file-level legs
    (rewritten-segment diff) instead of raising — the last
    feed-killing transition class is gone. The over-report nets to the
    row-level delta under signed aggregation."""
    p = _base(spark, tmp_path)
    update_where(spark, p, [("k", "<", 10)], {"v": F.col("v") + 1})
    legs = _legs(change_feed(spark, p, 0, 1))
    assert legs["delete"] == (60, sum(range(60)))
    assert legs["insert"] == (60, sum(range(60)))  # same keys, v changed
    p2 = _base(spark, tmp_path / "m")
    src = spark.range(55, 65).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("g"),
        F.lit(-1).cast("long").alias("v"),
    )
    merge_upsert(spark, p2, src, "k")
    legs2 = _legs(change_feed(spark, p2, 0, 1))
    # 60 pre rows deleted at file level; 65 post rows inserted (5
    # matched updates + 5 new keys + 55 carried)
    assert legs2["delete"] == (60, sum(range(60)))
    assert legs2["insert"] == (65, sum(range(65)))
    # signed net == the MERGE's true delta: +5 rows, keys 60..64
    assert legs2["insert"][0] - legs2["delete"][0] == 5
    assert legs2["insert"][1] - legs2["delete"][1] == sum(range(60, 65))


def test_restore_feed_on_partitioned_segments(spark, tmp_path):
    """Removed partitioned segments read back with their partition
    columns recovered (basePath per segment), so delete legs carry g."""
    p = str(tmp_path / "pt")
    df = spark.range(0, 60).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 10).cast("long").alias("v"),
    )
    versioned_write(df, p, partition_by=("g",))  # v0
    versioned_write(
        spark.range(100, 105).select(
            F.col("id").alias("k"),
            F.lit("9").alias("g"),
            (F.col("id") * 10).cast("long").alias("v"),
        ),
        p,
        mode="overwrite",
    )  # v1
    feed = change_feed(spark, p, 0, 1)
    by_g = {
        (r["_change_type"], r["g"]): r["n"]
        for r in feed.groupBy("_change_type", "g").count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert by_g[("delete", "0")] == 20
    assert by_g[("delete", "1")] == 20
    assert by_g[("delete", "2")] == 20
    assert by_g[("insert", "9")] == 5


# ----------------------------------------------------- streaming discipline


def _stream_feed(spark, path, **opts):
    from argodb_mapreduce_spark.sources.python_datasource import (
        FORMAT_NAME,
        register_datasource,
    )

    register_datasource(spark)
    r = spark.readStream.format(FORMAT_NAME)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load(path)


def _drain(spark, df, sink):
    q = (
        df.groupBy("_change_type", "_commit_version")
        .agg(F.count("*").alias("n"), F.sum("k").alias("sk"))
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {
        (r["_change_type"], r["_commit_version"]): (r["n"], r["sk"])
        for r in spark.table(sink).collect()
    }


def test_plain_tail_still_fails_loud_on_restore(spark, tmp_path):
    """The append-only discipline is unchanged without readChangeFeed:
    a restore kills a plain tail (and ignoreDeletes does NOT skip it)."""
    from pyspark.sql.streaming import StreamingQueryException

    p = _base(spark, tmp_path)
    versioned_write(
        spark.range(60, 70).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).alias("g"),
            (F.col("id") * 10).cast("long").alias("v"),
        ),
        p,
        mode="append",
    )
    rollback(p, 0)
    for opts in ({}, {"ignoreDeletes": "true"}):
        s = _stream_feed(spark, p, **opts)
        q = (
            s.writeStream.format("memory")
            .queryName(f"t13_plain_{len(opts)}")
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(StreamingQueryException, match="non-append change"):
            q.awaitTermination()


def test_streaming_cdf_synthesizes_restore_legs(spark, tmp_path):
    p = _base(spark, tmp_path)  # v0
    delete_keys(
        spark, p, spark.range(0, 60, 10).select(F.col("id").alias("k")), "k"
    )  # v1
    rollback(p, 0)  # v2: resurrection only (same segments, DV retracted)
    versioned_write(
        spark.range(100, 103).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).alias("g"),
            (F.col("id") * 10).cast("long").alias("v"),
        ),
        p,
        mode="overwrite",
    )  # v3: removes the segment
    cells = _drain(
        spark,
        _stream_feed(spark, p, readChangeFeed="true"),
        "t13_cdf_restore",
    )
    assert cells[("insert", 0)] == (60, sum(range(60)))
    assert cells[("delete", 1)] == (6, 150)
    assert cells[("insert", 2)] == (6, 150)  # revive legs
    assert cells[("delete", 3)] == (60, sum(range(60)))  # dropped segment
    assert cells[("insert", 3)] == (3, 303)  # re-added fresh segment


def test_plain_tail_still_rejects_noncdc_update(spark, tmp_path):
    """r14 made un-CDC UPDATE/MERGE streamable under readChangeFeed
    (file-level synthesized legs — see test_round14_ops); a PLAIN
    append tail still fails loud on the rewrite, since delete legs are
    inexpressible without _change_type."""
    from pyspark.sql.streaming import StreamingQueryException

    p = _base(spark, tmp_path)
    update_where(spark, p, [("k", "<", 10)], {"v": F.col("v") + 1})
    s = _stream_feed(spark, p)
    q = (
        s.writeStream.format("memory")
        .queryName("t13_noncdc")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="non-append change"):
        q.awaitTermination()


# ------------------------------------------- over-cap distributed pruning


def _range_segments(spark, tmp_path, name="big", with_bloom=True):
    p = str(tmp_path / name)
    for i in range(4):
        versioned_write(
            spark.range(i * 100, (i + 1) * 100).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            ),
            p,
            mode="append",
            bloom_columns=["k"] if with_bloom else (),
        )
    return p


def test_delete_keys_over_cap_prunes_distributed(spark, tmp_path):
    """A key set beyond prune_cap no longer falls back to a full scan:
    the distributed min/max range join keeps only the one segment whose
    bounds cover the keys (bounds are disjoint here)."""
    from argodb_mapreduce_spark.sources.versioned import (
        _segments_possibly_holding_keys_distributed,
    )

    p = _range_segments(spark, tmp_path)
    latest = _read_manifest(p)[-1]
    keys = spark.range(0, 100).select(F.col("id").alias("k"))
    kept = _segments_possibly_holding_keys_distributed(spark, latest, keys, "k")
    assert kept == [latest["segments"][0]]
    _v, n = delete_keys(spark, p, keys, "k", prune_cap=10)
    assert n == 100
    assert snapshot_read(spark, p).count() == 300


def test_distributed_prune_blooms_reject_in_range_absent_keys(spark, tmp_path):
    """Two segments with IDENTICAL key ranges but disjoint parities:
    min/max cannot prune, the executor-side bloom probe must (the
    probe is deterministic for fixed data — sha256 positions)."""
    from argodb_mapreduce_spark.sources.versioned import (
        _segments_possibly_holding_keys_distributed,
    )

    p = str(tmp_path / "bl")
    for start in (0, 1):  # evens then odds over the same [0,200) range
        versioned_write(
            spark.range(start, 200, 2).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            ),
            p,
            mode="append",
            bloom_columns=["k"],
        )
    latest = _read_manifest(p)[-1]
    keys = spark.range(0, 24, 2).select(F.col("id").alias("k"))  # 12 even keys
    kept = _segments_possibly_holding_keys_distributed(spark, latest, keys, "k")
    assert kept == [latest["segments"][0]]


def test_distributed_prune_keeps_segments_without_stats(spark, tmp_path):
    """Conservatism: a segment whose manifest lacks key stats can never
    be proven key-free and must stay in the scan list."""
    from argodb_mapreduce_spark.sources.versioned import (
        _segments_possibly_holding_keys_distributed,
    )

    p = _range_segments(spark, tmp_path, name="nost")
    entries = _read_manifest(p)
    latest = entries[-1]
    # Simulate a stats-less segment (e.g. written by a foreign engine).
    seg1 = latest["segments"][1]
    latest["stats"][seg1].pop("k")
    keys = spark.range(300, 400).select(F.col("id").alias("k"))
    kept = _segments_possibly_holding_keys_distributed(spark, latest, keys, "k")
    assert kept == [seg1, latest["segments"][3]]


# --------------------------------------------- parquet modular encryption


def _enc_key(seed=0):
    import base64

    return base64.b64encode(bytes((seed + i) % 256 for i in range(32))).decode()


def _write_enc(spark, path, lo, hi, key, mode="append", partition_by=None):
    from argodb_mapreduce_spark.sources.python_datasource import (
        FORMAT_NAME,
        register_datasource,
    )

    register_datasource(spark)
    df = spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 10).cast("long").alias("v"),
    )
    w = df.write.format(FORMAT_NAME).option("encryptionKey", key).mode(mode)
    if partition_by:
        w = w.option("partitionBy", partition_by)
    w.save(path)


def test_encrypted_roundtrip_flat_and_partitioned(spark, tmp_path):
    from argodb_mapreduce_spark.sources.python_datasource import read_versioned

    key = _enc_key()
    p1 = str(tmp_path / "flat")
    _write_enc(spark, p1, 0, 50, key)
    got = read_versioned(spark, p1, encryption_key=key)
    assert got.count() == 50
    assert got.agg(F.sum("v")).collect()[0][0] == sum(i * 10 for i in range(50))
    # Hive-partitioned encrypted segment: branch decode + decryption
    p2 = str(tmp_path / "part")
    _write_enc(spark, p2, 0, 30, key, partition_by="g")
    got2 = read_versioned(spark, p2, encryption_key=key)
    assert got2.filter(F.col("g") == "1").count() == 10


def test_encrypted_append_requires_key_and_appends(spark, tmp_path):
    from argodb_mapreduce_spark.sources.python_datasource import read_versioned

    key = _enc_key()
    p = str(tmp_path / "t")
    _write_enc(spark, p, 0, 20, key)
    _write_enc(spark, p, 20, 30, key)  # keyed append works
    assert read_versioned(spark, p, encryption_key=key).count() == 30
    # keyless pyds append refused
    from argodb_mapreduce_spark.sources.python_datasource import (
        FORMAT_NAME,
    )

    df = spark.range(30, 35).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 10).cast("long").alias("v"),
    )
    with pytest.raises(Exception, match="encryptionKey"):
        df.write.format(FORMAT_NAME).mode("append").save(p)
    # native append refused too
    with pytest.raises(ValueError, match="encrypted"):
        versioned_write(df, p, mode="append")


def test_encrypted_table_gates_native_and_streaming_reads(spark, tmp_path):
    key = _enc_key()
    p = str(tmp_path / "t")
    _write_enc(spark, p, 0, 20, key)
    with pytest.raises(ValueError, match="encrypted"):
        snapshot_read(spark, p).collect()
    from argodb_mapreduce_spark.sources.python_datasource import (
        FORMAT_NAME,
        read_versioned,
    )

    # keyless pyds read demands the key at plan time
    with pytest.raises(Exception, match="encryptionKey"):
        read_versioned(spark, p).count()
    # streaming over encrypted tables fails loud when the query starts
    from pyspark.sql.streaming import StreamingQueryException

    q = (
        spark.readStream.format(FORMAT_NAME)
        .load(p)
        .writeStream.format("memory")
        .queryName("t13_enc_stream")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="streaming over a parquet"):
        q.awaitTermination()


def test_encrypted_append_onto_plaintext_head_refused(spark, tmp_path):
    from argodb_mapreduce_spark.sources.python_datasource import FORMAT_NAME

    p = _base(spark, tmp_path)  # plaintext v0
    df = spark.range(100, 105).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("g"),
        (F.col("id") * 10).cast("long").alias("v"),
    )
    with pytest.raises(Exception, match="plaintext head"):
        (
            df.write.format(FORMAT_NAME)
            .option("encryptionKey", _enc_key())
            .mode("append")
            .save(p)
        )


def test_restore_preserves_encryption_marker(spark, tmp_path):
    """A RESTORE of an encrypted version republished WITHOUT the
    'encrypted' flag would disarm every keyless-read gate (code-review
    r13 finding): the rollback entry must carry it, keyed pyds reads
    must keep working, and native reads must keep refusing."""
    from argodb_mapreduce_spark.sources.python_datasource import read_versioned

    key = _enc_key()
    p = str(tmp_path / "t")
    _write_enc(spark, p, 0, 20, key)  # v0 (encrypted)
    _write_enc(spark, p, 20, 30, key)  # v1
    rollback(p, 0)  # v2: restore the encrypted v0
    assert _read_manifest(p)[-1].get("encrypted") is True
    with pytest.raises(ValueError, match="encrypted"):
        snapshot_read(spark, p).collect()
    got = read_versioned(spark, p, encryption_key=key)
    assert got.count() == 20


def test_restore_synthesis_plan_broadcasts_dv_delta(spark, tmp_path, monkeypatch):
    """Plan gate: the resurrection leg position-joins the touched files
    against a BROADCAST DV delta (left-semi) — never a shuffle of the
    fact side; and the feed plan scans only the touched files, not the
    unchanged segments. A DV this small is a literal mask with no join
    at all, so the broadcast is forced by setting the mask size to 0."""
    from argodb_mapreduce_spark.plans.checks import explain_str, has_broadcast_join
    from argodb_mapreduce_spark.sources import versioned as V

    p = _base(spark, tmp_path)  # v0: one segment
    versioned_write(
        spark.range(60, 120).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).alias("g"),
            (F.col("id") * 10).cast("long").alias("v"),
        ),
        p,
        mode="append",
    )  # v1: second segment
    delete_keys(
        spark, p, spark.range(0, 10).select(F.col("id").alias("k")), "k"
    )  # v2: DV touching segment 0 only
    rollback(p, 1)  # v3: resurrection (shared segments, DV retracted)
    plan = explain_str(change_feed(spark, p, 2, 3))
    assert "Join" not in plan and "Exchange" not in plan
    assert "data-1" not in plan
    monkeypatch.setattr(V, "_DV_MASK_ROWS", 0)
    feed = change_feed(spark, p, 2, 3)
    assert has_broadcast_join(feed)
    plan = explain_str(feed)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # Touched-file boundedness: the DV referenced only data-0 files, so
    # data-1 must not appear in the synthesized plan's scans.
    assert "data-1" not in plan


# ------------------------------------------------------- MV refresh seams


def test_mv_refresh_vacuumed_base_falls_back_to_full(spark, tmp_path):
    """Code-review r13: a VACUUM past the MV's recorded base version
    leaves no feed span — the refresh must take the sound full
    recompute (it crashed 'unknown versions' / silently mis-scoped an
    incremental merge before the guard)."""
    from argodb_mapreduce_spark.operators.materialized_view import (
        mv_create,
        mv_refresh,
    )
    from argodb_mapreduce_spark.sources.versioned import vacuum

    base = str(tmp_path / "b")
    mv = str(tmp_path / "mv")
    df = spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("g")
    )
    versioned_write(df.filter(F.col("k") < 20), base)  # v0
    mv_create(spark, base, mv, ["g"], ["k"])
    versioned_write(df.filter(F.col("k") >= 20), base, mode="append")  # v1
    delete_where(spark, base, [("k", "<", 5)])  # v2
    vacuum(base, keep_versions=1)  # only v2 remains: the span is gone
    versioned_write(
        spark.range(100, 105).select(
            F.col("id").alias("k"), F.lit(9).cast("long").alias("g")
        ),
        base,
        mode="append",
    )  # v3
    summary = mv_refresh(spark, mv)
    assert summary["mode"] == "full"
    got = {
        r["g"]: (r["n_rows"], r["sum_k"])
        for r in snapshot_read(spark, mv).collect()
    }
    want = {
        r["g"]: (r["n"], r["s"])
        for r in snapshot_read(spark, base)
        .groupBy("g")
        .agg(F.count("*").alias("n"), F.sum("k").cast("long").alias("s"))
        .collect()
    }
    assert got == want


def test_mv_refresh_merges_null_group_keys(spark, tmp_path):
    """Code-review r13: the signed-partial merge must join group keys
    NULL-SAFELY — a delete touching the NULL group has to subtract from
    the stored NULL row, not sit beside it as a negative twin."""
    from argodb_mapreduce_spark.operators.materialized_view import (
        mv_create,
        mv_refresh,
    )

    base = str(tmp_path / "b")
    mv = str(tmp_path / "mv")
    df = spark.range(0, 30).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 0, None)
        .otherwise(F.col("id") % 3)
        .cast("long")
        .alias("g"),
    )
    versioned_write(df, base)  # v0: 10 NULL-group rows
    mv_create(spark, base, mv, ["g"], ["k"])
    delete_where(spark, base, [("k", "<", 15)])  # v1: hits NULL group too
    summary = mv_refresh(spark, mv)
    assert summary["mode"] == "incremental-cdf"
    got = sorted(
        ((r["g"], r["n_rows"], r["sum_k"]) for r in snapshot_read(spark, mv).collect()),
        key=repr,
    )
    want = sorted(
        (
            (r["g"], r["n"], r["s"])
            for r in snapshot_read(spark, base)
            .groupBy("g")
            .agg(F.count("*").alias("n"), F.sum("k").cast("long").alias("s"))
            .collect()
        ),
        key=repr,
    )
    assert got == want
    assert len(got) == 3  # NULL, 1, 2 — no duplicate NULL rows


def test_encrypted_stream_rejects_malformed_key_at_plan(spark, tmp_path):
    key = _enc_key()
    p = str(tmp_path / "t")
    _write_enc(spark, p, 0, 10, key)
    from argodb_mapreduce_spark.sources.python_datasource import FORMAT_NAME

    from pyspark.sql.streaming import StreamingQueryException

    q = (
        spark.readStream.format(FORMAT_NAME)
        .option("encryptionKey", "not-base64!!")
        .load(p)
        .writeStream.format("memory")
        .queryName("t13_badkey")
        .trigger(availableNow=True)
        .start()
    )
    # The clear plan-time validation fires when the stream reader is
    # built (query start) — never an opaque executor-side unwrap error.
    with pytest.raises(StreamingQueryException, match="base64|encryptionKey"):
        q.awaitTermination()


def test_change_feed_between_ts_across_restore(spark, tmp_path):
    """Timestamp-window CDF spans a restore for free now: the window
    resolves to versions, whose pairwise transitions synthesize."""
    from argodb_mapreduce_spark.sources.versioned import (
        change_feed_between_timestamps,
    )

    p = _base(spark, tmp_path)  # v0
    delete_keys(
        spark, p, spark.range(0, 60, 10).select(F.col("id").alias("k")), "k"
    )  # v1
    rollback(p, 0)  # v2: resurrection
    entries = _read_manifest(p)
    if entries[1]["ts"] > entries[0]["ts"]:
        # Window opens strictly BETWEEN v0 and v1 (a fixed offset under
        # v1 can swallow v0 when commits land close together).
        feed = change_feed_between_timestamps(
            spark,
            p,
            (entries[0]["ts"] + entries[1]["ts"]) / 2,
            entries[-1]["ts"] + 0.5,
        )
    else:  # degenerate clock: same stamp — pin the version form instead
        feed = change_feed(spark, p, 0, 2)
    legs = _legs(feed)
    assert legs == {"delete": (6, 150), "insert": (6, 150)}


def test_clone_preserves_encryption_marker(spark, tmp_path):
    """Same class as the rollback finding: a shallow clone of an
    encrypted version must fork the 'encrypted' marker, or the clone's
    head disarms every keyless-read gate."""
    from argodb_mapreduce_spark.sources.python_datasource import read_versioned
    from argodb_mapreduce_spark.sources.versioned import clone_table

    key = _enc_key()
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    _write_enc(spark, src, 0, 20, key)
    clone_table(src, dst)
    assert _read_manifest(dst)[-1].get("encrypted") is True
    with pytest.raises(ValueError, match="encrypted"):
        snapshot_read(spark, dst).collect()
    assert read_versioned(spark, dst, encryption_key=key).count() == 20


def test_describe_detail_on_encrypted_table_is_keyless_safe(spark, tmp_path):
    """DESCRIBE DETAIL is pure metadata and must work WITHOUT the key —
    via the keyless-safe footer fields only (the full metrics pass
    touches encrypted column-chunk metadata, which parquet-cpp
    hard-aborts on)."""
    from argodb_mapreduce_spark.sources.versioned import describe_detail

    key = _enc_key()
    p = str(tmp_path / "t")
    _write_enc(spark, p, 0, 25, key)
    row = describe_detail(spark, p).collect()[0]
    assert row["num_raw_rows"] == 25
    assert row["num_live_rows"] == 25
    assert row["num_files"] >= 1 and row["size_bytes"] > 0
