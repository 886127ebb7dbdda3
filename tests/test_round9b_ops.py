"""Round-9 storage-layer additions: deletion vectors (merge-on-read
DELETE WHERE) and their interaction with every existing lifecycle op —
time travel, compaction, rollback, VACUUM, history classification."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from argodb_mapreduce_spark.catalog import load_table
from argodb_mapreduce_spark.sources.versioned import (
    MANIFEST,
    _read_manifest,
    compact,
    delete_where,
    rollback,
    snapshot_read,
    vacuum,
    versioned_write,
    versions,
)


@pytest.fixture()
def dv_store(spark, sf_dir, tmp_path):
    """v0 append (keys %3==0), v1 append (%3==1), v2 DELETE status='F'."""
    out = str(tmp_path / "dv_store")
    o = load_table(spark, sf_dir, "orders")
    versioned_write(o.filter(F.col("o_orderkey") % 3 == 0), out, mode="append")
    versioned_write(o.filter(F.col("o_orderkey") % 3 == 1), out, mode="append")
    v, n = delete_where(spark, out, [("o_orderstatus", "=", "F")])
    assert v == 2 and n > 0
    return out


def test_delete_is_merge_on_read(spark, dv_store):
    entries = _read_manifest(dv_store)
    # Segment list unchanged; only a DV sidecar + manifest entry appeared.
    assert entries[2]["segments"] == entries[1]["segments"]
    assert entries[2]["dv"] == "deletes-2"
    assert os.path.isdir(os.path.join(dv_store, "deletes-2"))
    live = snapshot_read(spark, dv_store)
    assert live.filter(F.col("o_orderstatus") == "F").count() == 0
    # Deleted rows are exactly the 'F' rows: counts reconcile.
    v1 = snapshot_read(spark, dv_store, 1)
    assert v1.count() == live.count() + v1.filter(F.col("o_orderstatus") == "F").count()


def test_time_travel_resurrects_deleted_rows(spark, dv_store):
    v1 = snapshot_read(spark, dv_store, 1)
    assert v1.filter(F.col("o_orderstatus") == "F").count() > 0


def test_second_delete_is_cumulative_and_idempotent(spark, dv_store):
    before = snapshot_read(spark, dv_store).count()
    v, n = delete_where(spark, dv_store, [("o_totalprice", ">=", 150000.0)])
    assert v == 3 and n > 0
    after = snapshot_read(spark, dv_store)
    assert after.count() == before - n
    assert after.filter(F.col("o_orderstatus") == "F").count() == 0
    assert after.filter(F.col("o_totalprice") >= 150000.0).count() == 0
    # Re-deleting already-deleted rows is a 0-row no-op commit.
    v2, n2 = delete_where(spark, dv_store, [("o_orderstatus", "=", "F")])
    assert n2 == 0
    assert snapshot_read(spark, dv_store).count() == after.count()


def test_append_after_delete_carries_dv_forward(spark, sf_dir, dv_store):
    o = load_table(spark, sf_dir, "orders")
    v = versioned_write(o.filter(F.col("o_orderkey") % 3 == 2), dv_store, mode="append")
    entries = _read_manifest(dv_store)
    assert entries[-1]["dv"] == "deletes-2"
    live = snapshot_read(spark, dv_store, v)
    # Old segments stay deleted; the new segment's 'F' rows are live.
    assert (
        live.filter((F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 3 != 2)).count() == 0
    )
    assert live.filter((F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 3 == 2)).count() > 0


def test_compaction_materializes_deletion_vector(spark, dv_store):
    expect = snapshot_read(spark, dv_store).agg(
        F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").alias("s")
    ).first()
    v = compact(spark, dv_store)
    entries = _read_manifest(dv_store)
    assert entries[-1]["segments"] == [f"data-{v}"]
    assert "dv" not in entries[-1]
    got = snapshot_read(spark, dv_store, v).agg(
        F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").alias("s")
    ).first()
    assert (got.n, got.s) == (expect.n, expect.s)
    # The compacted segment physically excludes deleted rows.
    raw = spark.read.parquet(os.path.join(dv_store, f"data-{v}"))
    assert raw.filter(F.col("o_orderstatus") == "F").count() == 0


def test_rollback_across_delete(spark, dv_store):
    n_deleted_state = snapshot_read(spark, dv_store).count()
    v_restore = rollback(dv_store, 1)  # past the delete: rows resurrect
    assert snapshot_read(spark, dv_store, v_restore).filter(
        F.col("o_orderstatus") == "F"
    ).count() > 0
    v_redo = rollback(dv_store, 2)  # back TO the deleted state: DV restored
    entries = _read_manifest(dv_store)
    assert entries[-1]["dv"] == "deletes-2"
    assert snapshot_read(spark, dv_store, v_redo).count() == n_deleted_state


def test_vacuum_reclaims_unreferenced_dv(spark, dv_store):
    # A second delete supersedes deletes-2; vacuum to the newest version
    # must reclaim the old sidecar and keep the live one.
    delete_where(spark, dv_store, [("o_totalprice", ">=", 150000.0)])
    expect = snapshot_read(spark, dv_store).count()
    summary = vacuum(dv_store, keep_versions=1)
    assert "deletes-2" in summary["segments_deleted"]
    assert not os.path.isdir(os.path.join(dv_store, "deletes-2"))
    assert os.path.isdir(os.path.join(dv_store, "deletes-3"))
    assert snapshot_read(spark, dv_store).count() == expect


def test_history_classifies_delete(spark, dv_store):
    from argodb_mapreduce_spark.sources import versioned as V

    entries = _read_manifest(dv_store)
    assert "deleted_where" in entries[-1]
    # The history op-classifier sees a delete, not a rollback, even
    # though the segment list repeats the previous version's.
    segs = entries[-1]["segments"]
    assert segs == entries[-2]["segments"]


def test_delete_prunes_segments_with_stats(spark, sf_dir, tmp_path):
    """A delete whose predicate provably misses a segment never scans it:
    the DV references files only from min/max-surviving segments."""
    out = str(tmp_path / "dv_pruned")
    o = load_table(spark, sf_dir, "orders")
    versioned_write(o.filter(F.col("o_orderkey") < 500), out, mode="append")
    versioned_write(o.filter(F.col("o_orderkey") >= 500), out, mode="append")
    _, n = delete_where(spark, out, [("o_orderkey", "<", 100)])
    assert n > 0
    dv = spark.read.parquet(os.path.join(out, "deletes-2"))
    files = [r.file_path for r in dv.select("file_path").distinct().collect()]
    assert files and all("data-0" in f for f in files)
    live = snapshot_read(spark, out)
    assert live.filter(F.col("o_orderkey") < 100).count() == 0
    assert live.count() == o.count() - n


# ---------------------------------------------------------------------------
# Bloom-filter segment skipping
# ---------------------------------------------------------------------------


@pytest.fixture()
def bloom_store(spark, sf_dir, tmp_path):
    """4 segments hash-split by o_custkey, bloom-indexed on that column."""
    out = str(tmp_path / "bloom_store")
    o = load_table(spark, sf_dir, "orders")
    bucket = F.pmod(F.xxhash64("o_custkey"), 4)
    for i in range(4):
        versioned_write(
            o.filter(bucket == i), out, mode="append", bloom_columns=("o_custkey",)
        )
    return out


def test_bloom_never_false_negative(spark, sf_dir, bloom_store):
    """Every present key keeps its true segment: a point lookup through
    the pruned scan equals the unpruned filter, key by key."""
    from argodb_mapreduce_spark.sources.versioned import prune_segments

    o = load_table(spark, sf_dir, "orders")
    keys = [r.o_custkey for r in o.select("o_custkey").distinct().limit(30).collect()]
    for k in keys:
        preds = [("o_custkey", "=", int(k))]
        got = snapshot_read(spark, bloom_store, predicates=preds).count()
        want = o.filter(F.col("o_custkey") == int(k)).count()
        assert got == want, f"custkey {k}: pruned={got} full={want}"
        kept, _all = prune_segments(bloom_store, predicates=preds)
        assert 1 <= len(kept) <= len(_all)


def test_bloom_prunes_absent_key_to_empty(spark, bloom_store):
    from argodb_mapreduce_spark.sources.versioned import prune_segments

    preds = [("o_custkey", "=", 10**12)]  # absent from every segment
    kept, _all = prune_segments(bloom_store, predicates=preds)
    # min/max already excludes a key above the domain; use one inside the
    # domain gap instead if stats caught it — probe the bloom directly.
    df = snapshot_read(spark, bloom_store, predicates=preds)
    assert df.count() == 0
    assert len(df.columns) > 0  # schema preserved on the fully-pruned path


def test_bloom_survives_compaction_and_append(spark, sf_dir, bloom_store):
    entries = _read_manifest(bloom_store)
    assert "bloom" in entries[-1] and len(entries[-1]["bloom"]) == 4
    compact(spark, bloom_store)
    entries = _read_manifest(bloom_store)
    seg = entries[-1]["segments"][0]
    assert "o_custkey" in entries[-1]["bloom"][seg]
    # Bloom-only append (no bloom_columns): reused segment keeps its bloom.
    o = load_table(spark, sf_dir, "orders")
    versioned_write(o.limit(10), bloom_store, mode="append")
    entries = _read_manifest(bloom_store)
    assert seg in entries[-1]["bloom"]


def test_bloom_probe_matches_spark_hash(spark, sf_dir):
    """Driver-side sha256 slicing equals the JVM-side build expressions."""
    from argodb_mapreduce_spark.sources.versioned import (
        _bloom_position_exprs,
        _bloom_probe_positions,
    )

    o = load_table(spark, sf_dir, "orders").limit(20)
    rows = o.select("o_custkey", F.array(*_bloom_position_exprs("o_custkey", 4096)).alias("p")).collect()
    for r in rows:
        assert list(r.p) == _bloom_probe_positions(int(r.o_custkey), 4096)


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance
# ---------------------------------------------------------------------------


def _mv_state(spark, mv_path):
    rows = snapshot_read(spark, mv_path).orderBy("o_orderpriority").collect()
    return [(r.o_orderpriority, r.n_rows, r.sum_o_orderkey) for r in rows]


@pytest.fixture()
def mv_pair(spark, sf_dir, tmp_path):
    from argodb_mapreduce_spark.operators.materialized_view import mv_create

    base = str(tmp_path / "mv_base")
    mv = str(tmp_path / "mv")
    o = load_table(spark, sf_dir, "orders")
    versioned_write(o.filter(F.col("o_orderkey") % 5 <= 2), base, mode="append")
    mv_create(spark, base, mv, ["o_orderpriority"], ["o_orderkey"])
    return base, mv


def test_mv_incremental_equals_full_recompute(spark, sf_dir, mv_pair):
    from argodb_mapreduce_spark.operators.materialized_view import mv_refresh

    base, mv = mv_pair
    o = load_table(spark, sf_dir, "orders")
    versioned_write(o.filter(F.col("o_orderkey") % 5 == 3), base, mode="append")
    versioned_write(o.filter(F.col("o_orderkey") % 5 == 4), base, mode="append")
    summary = mv_refresh(spark, mv)
    assert summary["mode"] == "incremental" and summary["delta_segments"] == 2
    want = [
        (r.o_orderpriority, r.n, r.s)
        for r in o.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").cast("long").alias("s"))
        .orderBy("o_orderpriority")
        .collect()
    ]
    assert _mv_state(spark, mv) == want
    # Refresh with nothing new is a noop: no MV version is published.
    n_versions = len(versions(mv))
    assert mv_refresh(spark, mv)["mode"] == "noop"
    assert len(versions(mv)) == n_versions


def test_mv_refresh_reads_only_delta(spark, sf_dir, mv_pair):
    """The incremental path's scan lists only appended segments."""
    from argodb_mapreduce_spark.operators.materialized_view import (
        _appended_segments_since,
    )

    base, mv = mv_pair
    o = load_table(spark, sf_dir, "orders")
    versioned_write(o.filter(F.col("o_orderkey") % 5 == 3), base, mode="append")
    new = _appended_segments_since(base, 0)
    assert new == ["data-1"]
    delta = spark.read.parquet(os.path.join(base, "data-1"))
    assert all("data-1" in f for f in delta.inputFiles())


def test_mv_overwrite_refreshes_via_synthesized_feed(spark, sf_dir, mv_pair):
    """r13 (was ..._forces_full_refresh): an overwrite on the base no
    longer forces the O(base) full recompute — the feed's synthesized
    delete+insert legs net to the overwritten state via signed
    partials, and the result still equals a from-scratch aggregate."""
    from argodb_mapreduce_spark.operators.materialized_view import mv_refresh

    base, mv = mv_pair
    o = load_table(spark, sf_dir, "orders")
    versioned_write(o.filter(F.col("o_orderkey") % 2 == 0), base, mode="overwrite")
    summary = mv_refresh(spark, mv)
    assert summary["mode"] == "incremental-cdf"
    want = [
        (r.o_orderpriority, r.n, r.s)
        for r in o.filter(F.col("o_orderkey") % 2 == 0)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").cast("long").alias("s"))
        .orderBy("o_orderpriority")
        .collect()
    ]
    assert _mv_state(spark, mv) == want


def test_mv_delete_refreshes_incrementally_via_cdf(spark, sf_dir, mv_pair):
    """r11: a DV delete no longer forces the O(base) full recompute —
    the refresh consumes the change feed with signed partials."""
    from argodb_mapreduce_spark.operators.materialized_view import mv_refresh

    base, mv = mv_pair
    delete_where(spark, base, [("o_orderstatus", "=", "F")])
    summary = mv_refresh(spark, mv)
    assert summary["mode"] == "incremental-cdf"
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderkey") % 5 <= 2) & (F.col("o_orderstatus") != "F")
    )
    want = [
        (r.o_orderpriority, r.n, r.s)
        for r in o.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").cast("long").alias("s"))
        .orderBy("o_orderpriority")
        .collect()
    ]
    assert _mv_state(spark, mv) == want


# ---------------------------------------------------------------------------
# Exactly-once transactional writes (the streaming-sink commit protocol)
# ---------------------------------------------------------------------------


def test_txn_write_is_idempotent(spark, sf_dir, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import versioned_write_txn

    out = str(tmp_path / "txn_store")
    o = load_table(spark, sf_dir, "orders").limit(100)
    v0, c0 = versioned_write_txn(o, out, "app", 0)
    assert (v0, c0) == (0, True)
    # Replay of batch 0 and any stale batch id: refused, no new version.
    assert versioned_write_txn(o, out, "app", 0) == (0, False)
    v1, c1 = versioned_write_txn(o, out, "app", 1)
    assert (v1, c1) == (1, True)
    assert versioned_write_txn(o, out, "app", 0) == (1, False)
    assert len(versions(out)) == 2
    # A DIFFERENT app id is an independent ledger.
    v2, c2 = versioned_write_txn(o, out, "other", 0)
    assert (v2, c2) == (2, True)


def test_txn_write_recovers_orphaned_segment(spark, sf_dir, tmp_path):
    """Crash between segment write and manifest commit: the orphaned
    data dir must not break the retry (errorifexists would)."""
    from argodb_mapreduce_spark.sources.versioned import versioned_write_txn

    out = str(tmp_path / "txn_orphan")
    o = load_table(spark, sf_dir, "orders").limit(100)
    versioned_write_txn(o, out, "app", 0)
    # Simulate the crash: segment data-1 exists, no manifest entry.
    o.write.parquet(os.path.join(out, "data-1"))
    v, committed = versioned_write_txn(o, out, "app", 1)
    assert (v, committed) == (1, True)
    assert snapshot_read(spark, out).count() == 200


# ---------------------------------------------------------------------------
# Change data feed (O(changes) version-to-version deltas)
# ---------------------------------------------------------------------------


def test_change_feed_appends_and_deletes(spark, sf_dir, dv_store):
    from argodb_mapreduce_spark.sources.versioned import change_feed

    feed = change_feed(spark, dv_store, 0, 2)
    ins = feed.filter(F.col("_change_type") == "insert")
    dels = feed.filter(F.col("_change_type") == "delete")
    o = load_table(spark, sf_dir, "orders")
    assert ins.count() == o.filter(F.col("o_orderkey") % 3 == 1).count()
    # Deletes = the 'F' rows across BOTH base segments.
    assert (
        dels.count()
        == o.filter(
            (F.col("o_orderkey") % 3 <= 1) & (F.col("o_orderstatus") == "F")
        ).count()
    )
    # Feed rows carry full table columns + the tag.
    assert "_change_type" in feed.columns and "o_orderkey" in feed.columns


def test_change_feed_delete_delta_only(spark, dv_store):
    """A second delete's feed contains only the NEWLY deleted rows."""
    from argodb_mapreduce_spark.sources.versioned import change_feed

    _, n = delete_where(spark, dv_store, [("o_totalprice", ">=", 150000.0)])
    feed = change_feed(spark, dv_store, 2, 3)
    assert feed.count() == n
    assert feed.filter(F.col("_change_type") != "delete").count() == 0


def test_change_feed_synthesizes_overwrite(spark, sf_dir, dv_store):
    """r13 (was test_change_feed_refuses_overwrite): an overwrite
    transition synthesizes file-level legs — the previous version's
    LIVE rows (through its DV) as deletes, the fresh segment as
    inserts — instead of raising."""
    from argodb_mapreduce_spark.sources.versioned import (
        change_feed,
        snapshot_read,
    )

    o = load_table(spark, sf_dir, "orders")
    head_before = len(versions(dv_store)) - 1
    live_before = snapshot_read(spark, dv_store, head_before).count()
    versioned_write(o.limit(10), dv_store, mode="overwrite")
    feed = change_feed(spark, dv_store, head_before, head_before + 1)
    legs = {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    assert legs == {"delete": live_before, "insert": 10}


# ---------------------------------------------------------------------------
# Schema enforcement + evolution
# ---------------------------------------------------------------------------


def test_schema_enforcement_rejects_type_change(spark, sf_dir, tmp_path):
    out = str(tmp_path / "schema_store")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    versioned_write(o.limit(50), out, mode="append")
    bad = o.limit(10).withColumn("o_totalprice", F.col("o_totalprice").cast("string"))
    with pytest.raises(ValueError, match="schema enforcement"):
        versioned_write(bad, out, mode="append")
    # Refusal happened BEFORE any bytes landed: no orphaned segment, and
    # the table is still appendable.
    assert not os.path.exists(os.path.join(out, "data-1"))
    assert versioned_write(o.limit(10), out, mode="append") == 1


def test_schema_evolution_null_backfills(spark, sf_dir, tmp_path):
    out = str(tmp_path / "schema_evolve")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    versioned_write(o.filter(F.col("o_orderkey") % 2 == 0), out, mode="append")
    evolved = o.filter(F.col("o_orderkey") % 2 == 1).withColumn("o_note", F.lit("new"))
    versioned_write(evolved, out, mode="append")
    live = snapshot_read(spark, out)
    assert "o_note" in live.columns
    assert live.filter(F.col("o_note").isNull()).count() == o.filter(
        F.col("o_orderkey") % 2 == 0
    ).count()
    # Time travel to v0 keeps the ORIGINAL schema (no phantom column).
    assert "o_note" not in snapshot_read(spark, out, 0).columns
    # Overwrite resets the ledger: a type change is then legal.
    retyped = o.limit(5).withColumn("o_orderstatus", F.lit(1).cast("long"))
    versioned_write(retyped, out, mode="overwrite")
    assert dict(snapshot_read(spark, out).dtypes)["o_orderstatus"] == "bigint"


# ---------------------------------------------------------------------------
# Copy-on-write MERGE with segment pruning
# ---------------------------------------------------------------------------


def test_merge_rewrites_only_touched_segments(spark, sf_dir, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import merge_upsert

    out = str(tmp_path / "merge_store")
    o = load_table(spark, sf_dir, "orders")
    versioned_write(o.filter(F.col("o_orderkey") < 500), out, mode="append")
    versioned_write(o.filter(F.col("o_orderkey") >= 500), out, mode="append")
    source = o.filter(F.col("o_orderkey") < 50).withColumn(
        "o_totalprice", F.lit(1.0)
    )
    before = snapshot_read(spark, out).count()
    summary = merge_upsert(spark, out, source, "o_orderkey")
    assert summary["segments_rewritten"] == 1 and summary["segments_total"] == 2
    entries = _read_manifest(out)
    # The untouched high-key segment carries forward byte-identical.
    assert "data-1" in entries[-1]["segments"]
    assert "data-0" not in entries[-1]["segments"]
    live = snapshot_read(spark, out)
    assert live.count() == before  # pure update, no inserts
    assert live.filter((F.col("o_orderkey") < 50) & (F.col("o_totalprice") != 1.0)).count() == 0
    # Pre-merge version still time-travels with original prices.
    old = snapshot_read(spark, out, 1)
    assert old.filter((F.col("o_orderkey") < 50) & (F.col("o_totalprice") == 1.0)).count() == 0


def test_merge_pure_insert_touches_nothing(spark, sf_dir, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import merge_upsert

    out = str(tmp_path / "merge_insert")
    o = load_table(spark, sf_dir, "orders")
    versioned_write(o, out, mode="append")
    fresh = o.limit(20).withColumn("o_orderkey", F.col("o_orderkey") + 10**9)
    summary = merge_upsert(spark, out, fresh, "o_orderkey")
    assert summary["segments_rewritten"] == 0
    assert snapshot_read(spark, out).count() == o.count() + 20


def test_merge_composes_with_pending_dv_directly(spark, sf_dir, tmp_path):
    """r11: MERGE no longer refuses a pending DV — it reads through it
    (deleted rows stay gone unless the SOURCE legitimately re-upserts
    them) with no compact() required; compaction afterwards still
    composes."""
    from argodb_mapreduce_spark.sources.versioned import merge_upsert

    out = str(tmp_path / "merge_dv")
    o = load_table(spark, sf_dir, "orders")
    versioned_write(o, out, mode="append")
    delete_where(spark, out, [("o_orderstatus", "=", "F")])
    n_live = snapshot_read(spark, out).count()
    src = o.filter(F.col("o_orderstatus") != "F").limit(5)
    summary = merge_upsert(spark, out, src, "o_orderkey")
    assert summary["version"] == len(versions(out)) - 1
    got = snapshot_read(spark, out)
    assert got.count() == n_live  # updates only; tombstones intact
    assert got.filter(F.col("o_orderstatus") == "F").count() == 0
    # compaction after the DV-composed merge still materializes cleanly
    compact(spark, out)
    assert snapshot_read(spark, out).count() == n_live


# ---------------------------------------------------------------------------
# Optimistic concurrency control
# ---------------------------------------------------------------------------


def test_occ_expected_version_conflict(spark, sf_dir, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import ConcurrentWriteError

    out = str(tmp_path / "occ_store")
    o = load_table(spark, sf_dir, "orders").limit(100)
    versioned_write(o, out, mode="append")
    versioned_write(o, out, mode="append")  # head moves to v1
    with pytest.raises(ConcurrentWriteError, match="advanced past v0"):
        versioned_write(o, out, mode="append", expected_version=0)
    # No staged directory or orphan segment survived the refusal.
    leftovers = [d for d in os.listdir(out) if d.startswith("_staged-")]
    assert leftovers == []
    assert len(versions(out)) == 2
    # With the CORRECT expectation the same write commits.
    assert versioned_write(o, out, mode="append", expected_version=1) == 2


def test_occ_read_dependent_commit_conflicts(spark, sf_dir, tmp_path):
    """A DELETE whose base moved must refuse to commit and clean up its
    sidecar — simulated by racing an append between read and commit via
    the commit hook itself."""
    from argodb_mapreduce_spark.sources import versioned as V

    out = str(tmp_path / "occ_delete")
    o = load_table(spark, sf_dir, "orders").limit(200)
    versioned_write(o, out, mode="append")

    real_commit = V._commit_entry
    raced = {}

    def racing_commit(path, base_version, entry, cleanup_dirs=(), renames=None):
        if not raced:
            raced["done"] = True
            versioned_write(o.limit(10), path, mode="append")  # concurrent writer
        return real_commit(path, base_version, entry, cleanup_dirs, renames=renames)

    V._commit_entry = racing_commit
    try:
        with pytest.raises(V.ConcurrentWriteError):
            delete_where(spark, out, [("o_orderstatus", "=", "F")])
    finally:
        V._commit_entry = real_commit
    # The refused DV sidecar was cleaned up; the concurrent append won.
    assert not any(d.startswith("deletes-") for d in os.listdir(out))
    assert len(versions(out)) == 2
    # A retry against the new head succeeds.
    v, n = delete_where(spark, out, [("o_orderstatus", "=", "F")])
    assert n > 0 and v == 2


# ---------------------------------------------------------------------------
# Streaming source vs deletion vectors (ignoreDeletes contract)
# ---------------------------------------------------------------------------


def _drain_versioned_stream(spark, path, sink_name, ignore_deletes=None):
    from argodb_mapreduce_spark.sources.python_datasource import (
        FORMAT_NAME,
        register_datasource,
    )

    register_datasource(spark)
    r = spark.readStream.format(FORMAT_NAME)
    if ignore_deletes is not None:
        r = r.option("ignoreDeletes", ignore_deletes)
    s = r.load(path)
    q = (
        s.groupBy().count().writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink_name)


def test_stream_fails_on_delete_by_default(spark, sf_dir, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    out = str(tmp_path / "stream_dv")
    o = load_table(spark, sf_dir, "orders")
    versioned_write(o.filter(F.col("o_orderkey") % 2 == 0), out, mode="append")
    versioned_write(o.filter(F.col("o_orderkey") % 2 == 1), out, mode="append")
    delete_where(spark, out, [("o_orderstatus", "=", "F")])
    with pytest.raises(StreamingQueryException, match="ignoreDeletes"):
        _drain_versioned_stream(spark, out, "sink_dv_fail")


def test_stream_ignore_deletes_tails_appends(spark, sf_dir, tmp_path):
    out = str(tmp_path / "stream_dv_ok")
    o = load_table(spark, sf_dir, "orders")
    versioned_write(o.filter(F.col("o_orderkey") % 2 == 0), out, mode="append")
    delete_where(spark, out, [("o_orderstatus", "=", "F")])
    versioned_write(o.filter(F.col("o_orderkey") % 2 == 1), out, mode="append")
    got = _drain_versioned_stream(spark, out, "sink_dv_ok", ignore_deletes="true")
    # The subscriber sees every APPENDED row (deletes deliberately
    # skipped — that is what the option opts into).
    assert got.collect()[0]["count"] == o.count()


def test_history_classifies_merge(spark, sf_dir, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import merge_upsert

    out = str(tmp_path / "hist_merge")
    o = load_table(spark, sf_dir, "orders")
    versioned_write(o, out, mode="append")
    merge_upsert(spark, out, o.limit(5), "o_orderkey")
    entries = _read_manifest(out)
    assert entries[-1]["merged_from"] == 0
    # Mirror the DESCRIBE HISTORY classifier's precedence on this entry.
    assert "deleted_where" not in entries[-1] and "compacted_from" not in entries[-1]


# ---------------------------------------------------------------------------
# OPTIMIZE ZORDER
# ---------------------------------------------------------------------------


def test_zorder_rewrite_preserves_content_and_prunes(spark, sf_dir, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import prune_segments, zorder_rewrite

    out = str(tmp_path / "zorder_store")
    o = load_table(spark, sf_dir, "orders")
    bucket = F.pmod(F.xxhash64("o_orderkey"), 2)
    for i in range(2):
        versioned_write(o.filter(bucket == i), out, mode="append")
    v = zorder_rewrite(spark, out, "o_custkey", "o_totalprice", n_segments=4)
    live = snapshot_read(spark, out, v)
    assert live.count() == o.count()
    assert live.agg(F.sum("o_orderkey")).first()[0] == o.agg(F.sum("o_orderkey")).first()[0]
    entries = _read_manifest(out)
    assert entries[-1]["zordered_from"] == 1
    assert len(entries[-1]["segments"]) >= 2
    # Both clustered columns prune after the rewrite.
    b = o.agg(
        (F.min("o_custkey") + (F.max("o_custkey") - F.min("o_custkey")) / 8.0).alias("ck"),
        (F.min("o_totalprice") + (F.max("o_totalprice") - F.min("o_totalprice")) / 8.0).alias("tp"),
    ).first()
    for col, bound in (("o_custkey", float(b.ck)), ("o_totalprice", float(b.tp))):
        kept, everything = prune_segments(out, v, [(col, "<=", bound)])
        assert len(kept) < len(everything), f"{col} did not prune after zorder"
    # The pre-rewrite random layout prunes neither.
    kept, everything = prune_segments(out, 1, [("o_custkey", "<=", float(b.ck))])
    assert len(kept) == len(everything)
    # Time travel to the pre-rewrite version still works.
    assert snapshot_read(spark, out, 1).count() == o.count()


def test_zorder_materializes_dv(spark, sf_dir, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import zorder_rewrite

    out = str(tmp_path / "zorder_dv")
    o = load_table(spark, sf_dir, "orders")
    versioned_write(o, out, mode="append")
    _, n = delete_where(spark, out, [("o_orderstatus", "=", "F")])
    v = zorder_rewrite(spark, out, "o_custkey", "o_totalprice", n_segments=4)
    entries = _read_manifest(out)
    assert "dv" not in entries[-1]
    assert snapshot_read(spark, out, v).count() == o.count() - n


def test_dv_scan_broadcasts_tombstones(spark, dv_store):
    """The merge-on-read anti-join must broadcast the DV side — no
    fact-table shuffle for a delete scan (the 100 TB property)."""
    from argodb_mapreduce_spark.plans.checks import explain_str

    plan = explain_str(snapshot_read(spark, dv_store), "simple")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_small_dv_scan_plans_no_join(spark, dv_store):
    """A DV at or below ``_DV_MASK_ROWS`` rows is a literal row mask in
    the scan's own filter: no broadcast exchange, no sort-merge join.
    The fixture's own DV is above that size, the broadcast test's case."""
    from argodb_mapreduce_spark.plans.checks import explain_str
    from argodb_mapreduce_spark.sources.versioned import (
        _DV_MASK_ROWS,
        _dir_num_rows,
        delete_keys,
    )

    def dv_rows():
        return _dir_num_rows(os.path.join(dv_store, _read_manifest(dv_store)[-1]["dv"]))

    assert dv_rows() > _DV_MASK_ROWS
    compact(spark, dv_store)  # absorbs the DV
    live = snapshot_read(spark, dv_store).select("o_orderkey").limit(5).collect()
    keys = spark.createDataFrame([(r[0],) for r in live], "o_orderkey long")
    delete_keys(spark, dv_store, keys, "o_orderkey")
    assert dv_rows() == 5
    plan = explain_str(snapshot_read(spark, dv_store), "simple")
    assert "BroadcastExchange" not in plan and "SortMergeJoin" not in plan


def test_bloom_build_is_executor_side_and_bit_exact(spark, sf_dir, tmp_path):
    """Round-10 rebuild (VERDICT r9 #1): the bitmap is assembled by a
    distributed bit_or word aggregation — the driver receives packed
    words (~m/8 bytes), never per-position rows — and the result is
    byte-identical to the per-position reference algorithm at the same
    m, so probe semantics are untouched."""
    import base64

    import numpy as np

    from argodb_mapreduce_spark.sources.versioned import (
        _bloom_might_contain,
        _bloom_position_exprs,
        build_segment_bloom,
    )

    seg = str(tmp_path / "bloom_seg")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    o.write.parquet(seg)
    blooms = build_segment_bloom(spark, seg, ("o_custkey",))
    b = blooms["o_custkey"]
    m = b["m"]
    # Reference algorithm: distinct positions set one by one.
    vals = spark.read.parquet(seg).select("o_custkey").filter(F.col("o_custkey").isNotNull())
    ref = np.zeros(m // 8, dtype=np.uint8)
    for r in vals.select(
        F.explode(F.array(*_bloom_position_exprs("o_custkey", m))).alias("p")
    ).distinct().collect():
        ref[r.p >> 3] |= 1 << (r.p & 7)
    got = np.frombuffer(base64.b64decode(b["b64"]), dtype=np.uint8)
    assert (ref == got).all()
    # Never-false-negative stands on the rebuilt path.
    for r in vals.distinct().limit(50).collect():
        assert _bloom_might_contain(b, int(r.o_custkey))


def test_bloom_build_reads_the_segment_with_its_footer_schema(spark, tmp_path):
    """A just-written segment's schema comes from its footers, so a
    one-column build is its two aggregations (HLL sizing, word OR), two
    jobs each under AQE, with no schema-inference job before them."""
    from argodb_mapreduce_spark.sources.versioned import build_segment_bloom
    from tests.conftest import jobs_of

    seg = str(tmp_path / "seg")
    spark.range(1000).select(F.col("id").alias("k")).write.parquet(seg)
    _, jobs = jobs_of(spark, lambda: build_segment_bloom(spark, seg, ["k"]))
    assert jobs == 4


def test_mv_cdf_refresh_eliminates_zero_count_groups(spark, tmp_path):
    """A group whose rows are ALL deleted must vanish from the MV after
    a CDF refresh, exactly like a from-scratch recompute."""
    from argodb_mapreduce_spark.operators.materialized_view import (
        mv_create,
        mv_refresh,
    )
    from argodb_mapreduce_spark.sources.versioned import snapshot_read as sread

    base = str(tmp_path / "mv_zero_base")
    mv = str(tmp_path / "mv_zero_mv")
    df = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("g")
    )
    versioned_write(df, base)
    mv_create(spark, base, mv, ["g"], ["k"])
    delete_where(spark, base, [("g", "=", 1)])  # wipe group 1 entirely
    versioned_write(
        spark.range(100, 105).select(F.col("id").alias("k"), F.lit(0).cast("int").alias("g")),
        base,
        mode="append",
    )
    summary = mv_refresh(spark, mv)
    assert summary["mode"] == "incremental-cdf"
    rows = {r.g: (r.n_rows, r.sum_k) for r in sread(spark, mv).collect()}
    assert set(rows) == {0}  # group 1 eliminated
    assert rows[0] == (15, sum(range(0, 20, 2)) + sum(range(100, 105)))
