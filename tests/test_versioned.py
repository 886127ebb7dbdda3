"""Versioned-table snapshot semantics (§2.A6 mutable-table seam)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from argodb_mapreduce_spark.catalog import ScanError, snapshot, table_path
from argodb_mapreduce_spark.sources.versioned import (
    snapshot_read,
    versioned_write,
    versions,
)


@pytest.fixture()
def vt(spark, tmp_path):
    path = str(tmp_path / "vt")
    base = spark.range(10).withColumnRenamed("id", "k")
    versioned_write(base, path, mode="append")  # v0: 0..9
    versioned_write(spark.range(10, 15).withColumnRenamed("id", "k"), path, mode="append")  # v1: 0..14
    versioned_write(spark.range(100, 103).withColumnRenamed("id", "k"), path, mode="overwrite")  # v2: 100..102
    return path


def test_versions_recorded(vt):
    assert versions(vt) == [0, 1, 2]


def test_append_accumulates_overwrite_replaces(spark, vt):
    assert snapshot_read(spark, vt, 0).count() == 10
    assert snapshot_read(spark, vt, 1).count() == 15
    assert sorted(r["k"] for r in snapshot_read(spark, vt, 2).collect()) == [100, 101, 102]


def test_old_snapshot_immune_to_later_writes(spark, vt):
    df_v0 = snapshot_read(spark, vt, 0)  # plan pinned at version 0
    versioned_write(spark.range(500, 600).withColumnRenamed("id", "k"), vt, mode="append")
    assert df_v0.count() == 10  # unchanged by the concurrent append
    assert snapshot_read(spark, vt).count() == 103  # latest sees it


def test_latest_is_default(spark, vt):
    assert snapshot_read(spark, vt).count() == snapshot_read(spark, vt, 2).count()


def test_unknown_version_raises(spark, vt):
    with pytest.raises(ValueError, match="unknown version"):
        snapshot_read(spark, vt, 99)


def test_catalog_snapshot_dispatch(spark, vt, sf_dir):
    assert snapshot(spark, vt, 1).count() == 15
    # plain parquet path: identity scan works, version request errors
    plain = table_path(sf_dir, "nation")
    assert snapshot(spark, plain).count() == 25
    with pytest.raises(ScanError, match="not versioned"):
        snapshot(spark, plain, 1)


def test_append_reuses_segments_no_rewrite(spark, vt):
    # v1's manifest references v0's segment rather than copying it: one
    # data dir per version exists, no rewrites.
    from argodb_mapreduce_spark.sources.versioned import _read_manifest

    segs = [d for d in os.listdir(vt) if d.startswith("data-")]
    assert sorted(segs) == ["data-0", "data-1", "data-2"]
    assert _read_manifest(vt)[1]["segments"] == ["data-0", "data-1"]


def test_registered_query_parity(spark, sf_dir):
    from argodb_mapreduce_spark import registry
    from tests.compare import assert_matches

    q = registry.all_queries()["snapshot_time_travel"]
    assert_matches(q.fn(spark, sf_dir), q.oracle, sf_dir, "snapshot_time_travel")


def test_compaction_preserves_data_and_time_travel(spark, vt):
    from argodb_mapreduce_spark.sources.versioned import (
        _read_manifest,
        compact,
        snapshot_read,
        versions,
    )

    before = sorted(r["k"] for r in snapshot_read(spark, vt).collect())
    v = compact(spark, vt)
    assert versions(vt)[-1] == v
    # Compacted read is identical to the pre-compaction latest version.
    assert sorted(r["k"] for r in snapshot_read(spark, vt).collect()) == before
    # Single segment now; provenance recorded.
    entry = _read_manifest(vt)[-1]
    assert len(entry["segments"]) == 1 and entry["compacted_from"] == v - 1
    # Older versions still time-travel to their original contents.
    assert sorted(r["k"] for r in snapshot_read(spark, vt, 0).collect()) == list(range(10))
    assert sorted(r["k"] for r in snapshot_read(spark, vt, 1).collect()) == list(range(15))


def test_rollback_is_manifest_only_and_preserves_history(spark, sf_dir):
    """RESTORE must not rewrite data: no new segment directory appears,
    v3 reads v1's content, and the rolled-over v2 stays readable."""
    import os

    from argodb_mapreduce_spark.sources.versioned import (
        _build_rollback_fixture,
        snapshot_read,
        versions,
    )

    out = _build_rollback_fixture(spark, sf_dir)
    assert versions(out) == [0, 1, 2, 3]
    # manifest-only: the rollback version owns no data-3 segment dir
    assert not os.path.exists(os.path.join(out, "data-3"))
    v1 = snapshot_read(spark, out, 1)
    v3 = snapshot_read(spark, out, 3)
    assert v3.count() == v1.count()
    assert v3.exceptAll(v1).count() == 0
    # the destructive overwrite remains time-travelable after rollback
    v2 = snapshot_read(spark, out, 2)
    assert v2.count() > 0
    assert v2.count() != v1.count()


# ---------------------------------------------------------------------------
# Manifest min/max data skipping (round 9)
# ---------------------------------------------------------------------------


def test_manifest_records_segment_stats(spark, vt):
    from argodb_mapreduce_spark.sources.versioned import _read_manifest

    entry = _read_manifest(vt)[1]  # v1 = two append segments
    assert set(entry["stats"]) == {"data-0", "data-1"}
    assert entry["stats"]["data-0"]["k"] == [0, 9]
    assert entry["stats"]["data-1"]["k"] == [10, 14]


def test_prune_drops_provably_excluded_segments(spark, vt):
    from argodb_mapreduce_spark.sources.versioned import prune_segments

    kept, everything = prune_segments(vt, version=1, predicates=[("k", ">=", 12)])
    assert everything == ["data-0", "data-1"]
    assert kept == ["data-1"]
    # equality inside a segment's range keeps only that segment
    kept, _ = prune_segments(vt, version=1, predicates=[("k", "=", 3)])
    assert kept == ["data-0"]
    # predicate satisfiable by both keeps both (conservative AND)
    kept, _ = prune_segments(vt, version=1, predicates=[("k", ">", -1)])
    assert kept == ["data-0", "data-1"]


def test_pruned_read_equals_full_filtered_read(spark, vt):
    preds = [("k", ">=", 5), ("k", "<", 12)]
    pruned = snapshot_read(spark, vt, 1, predicates=preds)
    full = snapshot_read(spark, vt, 1).filter((F.col("k") >= 5) & (F.col("k") < 12))
    assert sorted(r["k"] for r in pruned.collect()) == sorted(r["k"] for r in full.collect())


def test_fully_pruned_read_keeps_schema(spark, vt):
    empty = snapshot_read(spark, vt, 1, predicates=[("k", ">=", 10_000)])
    assert empty.count() == 0
    assert empty.columns == snapshot_read(spark, vt, 1).columns


def test_pruning_scans_fewer_files(spark, vt):
    """The actual plan-level guarantee: the pruned frame's file set is a
    strict subset of the full snapshot's."""
    pruned = snapshot_read(spark, vt, 1, predicates=[("k", ">=", 12)])
    full = snapshot_read(spark, vt, 1)
    n_pruned = len(pruned.inputFiles())
    n_full = len(full.inputFiles())
    assert 0 < n_pruned < n_full


def test_stats_missing_column_disables_pruning_not_correctness(spark, vt):
    from argodb_mapreduce_spark.sources.versioned import prune_segments

    kept, everything = prune_segments(vt, version=1, predicates=[("nonexistent", ">=", 1)])
    assert kept == everything


def test_old_manifest_without_stats_still_reads_and_never_prunes(spark, tmp_path):
    """Manifests written before stats existed must stay readable; pruning
    degrades to scan-everything, never to wrong answers."""
    from argodb_mapreduce_spark.sources.versioned import (
        _read_manifest,
        _write_manifest,
        prune_segments,
    )

    path = str(tmp_path / "legacy")
    versioned_write(spark.range(5).withColumnRenamed("id", "k"), path, mode="append")
    entries = _read_manifest(path)
    for e in entries:
        e.pop("stats", None)
    _write_manifest(path, entries)
    kept, everything = prune_segments(path, predicates=[("k", ">=", 10_000)])
    assert kept == everything  # no stats -> conservative keep
    assert snapshot_read(spark, path, predicates=[("k", ">=", 3)]).count() == 2


def test_timestamp_stats_prune_date_ranges(spark, sf_dir):
    """The registered fixture: 4 time-ordered ingest segments; a 18-month
    window predicate must plan exactly one of them."""
    import datetime as dt

    from argodb_mapreduce_spark.sources.versioned import (
        _PRUNE_HI,
        _PRUNE_LO,
        _build_pruned_fixture,
        prune_segments,
    )

    out = _build_pruned_fixture(spark, sf_dir)
    preds = [
        ("o_orderdate", ">=", dt.datetime.fromisoformat(_PRUNE_LO)),
        ("o_orderdate", "<", dt.datetime.fromisoformat(_PRUNE_HI)),
    ]
    kept, everything = prune_segments(out, predicates=preds)
    assert len(everything) == 4
    assert kept == ["data-2"]
    # ISO-string literals coerce to the stored timestamp stats
    kept2, _ = prune_segments(out, predicates=[("o_orderdate", ">=", _PRUNE_LO), ("o_orderdate", "<", _PRUNE_HI)])
    assert kept2 == ["data-2"]


# ---------------------------------------------------------------------------
# Concurrent-writer serialization (commit lock; VERDICT r9 #3, ADVICE r9)
# ---------------------------------------------------------------------------
#
# The reference serializes table mutation with a catalog lock around its
# split/commit metadata section (ArgodbMapreduceInputFormat.java:257-279);
# versioned_write's analogue is the per-table _commit.lock taken for the
# metadata-only commit window. These tests drive REAL races: concurrent
# threads staging actual parquet and contending for the same head.


def _append(spark, path, lo, hi, **kw):
    return versioned_write(
        spark.range(lo, hi).withColumnRenamed("id", "k"), path, mode="append", **kw
    )


def test_concurrent_blind_appends_all_serialize(spark, tmp_path):
    """N racing blind appends all commit, with distinct consecutive
    versions, no lost manifest entry, and every segment present."""
    from concurrent.futures import ThreadPoolExecutor

    from argodb_mapreduce_spark.sources.versioned import _read_manifest

    path = str(tmp_path / "race_blind")
    versioned_write(spark.range(0, 10).withColumnRenamed("id", "k"), path)
    n = 6
    with ThreadPoolExecutor(max_workers=n) as ex:
        got = list(
            ex.map(lambda i: _append(spark, path, 100 * (i + 1), 100 * (i + 1) + 10), range(n))
        )
    assert sorted(got) == list(range(1, n + 1))  # unique, consecutive
    entries = _read_manifest(path)
    assert [e["version"] for e in entries] == list(range(n + 1))  # no lost entry
    for e in entries:  # every referenced segment really exists
        for seg in e["segments"]:
            assert os.path.isdir(os.path.join(path, seg)), seg
    # every row from every writer landed exactly once
    assert snapshot_read(spark, path).count() == 10 * (n + 1)
    assert snapshot_read(spark, path).select("k").distinct().count() == 10 * (n + 1)


def test_concurrent_expected_version_one_wins_one_fails_loud(spark, tmp_path):
    """Two read-dependent writers race the same base: exactly one
    commits, the loser gets ConcurrentWriteError, and the loser's
    staged bytes never reach the table."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from argodb_mapreduce_spark.sources.versioned import (
        ConcurrentWriteError,
        _read_manifest,
    )

    path = str(tmp_path / "race_occ")
    versioned_write(spark.range(0, 10).withColumnRenamed("id", "k"), path)
    barrier = threading.Barrier(2)

    def writer(i):
        barrier.wait()  # maximize overlap of the two commit windows
        try:
            return ("ok", _append(spark, path, 1000 + i, 1010 + i, expected_version=0))
        except ConcurrentWriteError:
            return ("conflict", None)

    with ThreadPoolExecutor(max_workers=2) as ex:
        results = sorted(r[0] for r in ex.map(writer, range(2)))
    assert results == ["conflict", "ok"]
    entries = _read_manifest(path)
    assert [e["version"] for e in entries] == [0, 1]
    assert snapshot_read(spark, path).count() == 20
    # no orphaned staged/segment dirs from the loser
    leftovers = [
        d for d in os.listdir(path)
        if d.startswith("_staged") or (d.startswith("data-") and d[5:].isdigit() and int(d[5:]) > 1)
    ]
    assert leftovers == []


def test_concurrent_txn_same_batch_commits_exactly_once(spark, tmp_path):
    """Two replays of the SAME (app_id, batch_id) racing: exactly one
    append lands (exactly-once), both calls return, one with
    committed=False."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from argodb_mapreduce_spark.sources.versioned import versioned_write_txn

    path = str(tmp_path / "race_txn")
    versioned_write(spark.range(0, 5).withColumnRenamed("id", "k"), path)
    barrier = threading.Barrier(2)

    def writer(i):
        barrier.wait()
        df = spark.range(50, 60).withColumnRenamed("id", "k")
        return versioned_write_txn(df, path, app_id="job", batch_id=7)

    with ThreadPoolExecutor(max_workers=2) as ex:
        results = list(ex.map(writer, range(2)))
    assert sorted(committed for _v, committed in results) == [False, True]
    assert snapshot_read(spark, path).count() == 15  # batch landed ONCE


def test_commit_lock_stale_holder_is_broken(spark, tmp_path):
    """A crash-orphaned lock (mtime past the stale horizon) does not
    wedge the table: the next writer breaks it and commits."""
    from argodb_mapreduce_spark.sources.versioned import _LOCK_NAME, _LOCK_STALE_S

    path = str(tmp_path / "stale_lock")
    versioned_write(spark.range(0, 5).withColumnRenamed("id", "k"), path)
    lock = os.path.join(path, _LOCK_NAME)
    with open(lock, "w") as f:
        f.write("99999")
    old = os.path.getmtime(lock) - _LOCK_STALE_S - 60
    os.utime(lock, (old, old))
    assert _append(spark, path, 10, 15) == 1  # breaks the stale lock
    assert not os.path.exists(lock)


# ---------------------------------------------------------------------------
# Hive-partitioned segments (VERDICT r9 #5): partition pruning stacks
# with manifest min/max + bloom skipping
# ---------------------------------------------------------------------------


@pytest.fixture()
def part_table(spark, tmp_path):
    """Two appends partitioned by k (ints 0..3), split by v at 100."""
    path = str(tmp_path / "hive_part")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("v"), (F.col("id") % 4).cast("int").alias("k")
    )
    versioned_write(mk(0, 100), path, partition_by=("k",))
    versioned_write(mk(100, 200), path, partition_by=("k",))
    return path


def test_partitioned_roundtrip_and_layout(spark, part_table):
    import glob

    back = snapshot_read(spark, part_table)
    assert back.count() == 200
    assert sorted(back.columns) == ["k", "v"]
    assert back.groupBy("k").count().count() == 4
    # real Hive layout on disk
    dirs = sorted(
        os.path.basename(d)
        for d in glob.glob(os.path.join(part_table, "data-0", "k=*"))
    )
    assert dirs == ["k=0", "k=1", "k=2", "k=3"]


def test_partitioned_scan_prunes_directories_in_plan(spark, part_table):
    """Spark's own PartitionFilters fire inside the surviving segments —
    only the k=2 directories are planned."""
    import glob

    from argodb_mapreduce_spark.plans.checks import scan_metrics

    df = snapshot_read(spark, part_table, predicates=[("k", "=", 2)])
    assert len(df.collect()) == 50
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "k#" in plan
    # planned-file proof from executed metrics: exactly the k=2 files of
    # both segments were listed, one partition dir per segment
    k2_files = len(glob.glob(os.path.join(part_table, "data-*", "k=2", "*.parquet")))
    all_files = len(glob.glob(os.path.join(part_table, "data-*", "k=*", "*.parquet")))
    metrics = scan_metrics(df)
    assert sum(m["numFiles"] for m in metrics) == k2_files < all_files
    assert all(m.get("numPartitions") == 1 for m in metrics)


def test_partitioned_segment_pruning_stacks(spark, part_table):
    """Manifest min/max (on the data column v) prunes whole segments
    BEFORE partition pruning: v >= 150 provably excludes data-0."""
    from argodb_mapreduce_spark.sources.versioned import prune_segments

    kept, everything = prune_segments(part_table, predicates=[("v", ">=", 150)])
    assert (len(kept), len(everything)) == (1, 2)
    df = snapshot_read(spark, part_table, predicates=[("v", ">=", 150), ("k", "=", 1)])
    assert df.count() == 12  # 153,157,...,197
    assert all("data-1" in f for f in df.inputFiles())


def test_partition_column_stats_from_dirnames(spark, part_table):
    """Partition-column min/max ride the manifest (decoded from dir
    names, no file opened) so equality predicates on the partition
    column can ALSO prune whole segments when ranges are disjoint."""
    from argodb_mapreduce_spark.sources.versioned import _read_manifest

    entry = _read_manifest(part_table)[-1]
    for seg in entry["segments"]:
        assert entry["stats"][seg]["k"] == [0, 3]
    assert entry["partition_by"] == {s: ["k"] for s in entry["segments"]}


def test_partition_null_sentinel_roundtrip(spark, tmp_path):
    """NULL partition values use Hive's __HIVE_DEFAULT_PARTITION__
    sentinel (the reference record reader's NULL-sentinel contract,
    ArgodbMapreduceRecordReader.java:172-198): rows round-trip as real
    NULLs, and predicates on the partition column stay correct (NULL
    never satisfies =, so pruning on non-null dir stats is safe)."""
    path = str(tmp_path / "null_part")
    src = spark.range(20).select(
        F.col("id").alias("v"),
        F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id") % 3).cast("int").alias("k"),
    )
    versioned_write(src, path, partition_by=("k",))
    assert os.path.isdir(os.path.join(path, "data-0", "k=__HIVE_DEFAULT_PARTITION__"))
    back = snapshot_read(spark, path)
    assert back.filter(F.col("k").isNull()).count() == 4
    assert snapshot_read(spark, path, predicates=[("k", "=", 1)]).count() == 6


def test_partitioned_delete_where_dv(spark, part_table):
    """Row-level DELETE works on Hive-partitioned segments: positions
    are harvested per branch, the DV anti-join applies on the union
    read, and the partition ledger carries so pruning keeps firing."""
    from argodb_mapreduce_spark.sources.versioned import _read_manifest, delete_where

    _v, n = delete_where(spark, part_table, [("v", "<", 10)])
    assert n == 10
    back = snapshot_read(spark, part_table)
    assert back.count() == 190
    assert back.filter(F.col("v") < 10).count() == 0
    entry = _read_manifest(part_table)[-1]
    assert entry["partition_by"]  # ledger carried through the DELETE
    # partition pruning still fires on the DV-merged read
    assert snapshot_read(spark, part_table, predicates=[("k", "=", 2)]).count() == 48
    # a second, cumulative delete through the same partitioned path
    _v, n2 = delete_where(spark, part_table, [("k", "=", 3), ("v", ">=", 196)])
    assert n2 == 1  # v=199
    assert snapshot_read(spark, part_table).count() == 189


def test_partitioned_update_where(spark, part_table):
    from argodb_mapreduce_spark.sources.versioned import _read_manifest, update_where

    res = update_where(
        spark, part_table, [("v", ">=", 150)], {"v": F.col("v") + 1000}
    )
    assert res["rows_updated"] == 50
    # only the >=100 segment was touched; the other keeps its layout
    assert res["segments_rewritten"] == 1
    back = snapshot_read(spark, part_table)
    assert back.count() == 200
    assert back.filter(F.col("v") >= 1150).count() == 50
    entry = _read_manifest(part_table)[-1]
    assert "data-0" in entry["partition_by"]  # untouched keeps the ledger
    assert snapshot_read(spark, part_table, predicates=[("k", "=", 1)]).count() == 50


def test_partitioned_merge_upsert(spark, part_table):
    """MERGE maps touched files to partitioned segments by directory
    ANCESTRY (files live under k=value subdirs) and rewrites only the
    touched segment — no duplicate rows, untouched layout carried."""
    from argodb_mapreduce_spark.sources.versioned import _read_manifest, merge_upsert

    source = spark.range(150, 160).select(
        F.col("id").alias("v"), F.lit(9).cast("int").alias("k")
    )
    merge_upsert(spark, part_table, source, "v")
    back = snapshot_read(spark, part_table)
    assert back.count() == 200  # pure upsert of existing keys
    assert back.filter((F.col("v") >= 150) & (F.col("v") < 160) & (F.col("k") == 9)).count() == 10
    assert back.select("v").distinct().count() == 200  # no duplicates
    entry = _read_manifest(part_table)[-1]
    assert "data-0" in entry["partition_by"]  # untouched segment carried


def test_partitioned_rollback_restores_layout(spark, part_table):
    from argodb_mapreduce_spark.sources.versioned import (
        _read_manifest,
        compact,
        rollback,
    )

    compact(spark, part_table, flatten=True)  # v2: deliberately flat
    assert "partition_by" not in _read_manifest(part_table)[-1]
    rollback(part_table, 1)  # restore the partitioned version
    entry = _read_manifest(part_table)[-1]
    assert set(entry["partition_by"]) == {"data-0", "data-1"}
    assert snapshot_read(spark, part_table, predicates=[("k", "=", 0)]).count() == 50


def test_partitioned_change_feed_recovers_deletes(spark, part_table):
    """CDF delete recovery on Hive-partitioned segments (VERDICT r10
    #2): the delete leg reads only the DV-touched files per segment
    with basePath so the recovered rows carry their partition columns."""
    from argodb_mapreduce_spark.sources.versioned import change_feed, delete_where

    delete_where(spark, part_table, [("v", "<", 5)])
    feed = change_feed(spark, part_table, 0, 1)  # pure append span
    assert feed.count() == 100
    assert "k" in feed.columns  # insert rows carry the partition column
    dels = change_feed(spark, part_table, 1, 2).filter("_change_type = 'delete'")
    rows = sorted((r.v, r.k) for r in dels.collect())
    assert rows == [(0, 0), (1, 1), (2, 2), (3, 3), (4, 0)]  # k = v % 4


def test_partitioned_clone_keeps_layout(spark, part_table, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import clone_table

    import glob

    from argodb_mapreduce_spark.plans.checks import scan_metrics

    dst = str(tmp_path / "part_clone")
    clone_table(part_table, dst)
    df = snapshot_read(spark, dst, predicates=[("k", "=", 3)])
    assert len(df.collect()) == 50
    # borrowed absolute segments still partition-prune: planned files ==
    # the k=3 files of the SOURCE's segment dirs
    k3 = len(glob.glob(os.path.join(part_table, "data-*", "k=3", "*.parquet")))
    assert sum(m["numFiles"] for m in scan_metrics(df)) == k3


def test_pyds_reads_partitioned_table(spark, part_table):
    """The Python DataSource reads Hive-partitioned segments (VERDICT
    r10 #1): one split per (segment, partition-branch) file, partition
    values decoded from directory names and appended as typed constant
    columns — equal to the native snapshot read, rows AND schema."""
    from argodb_mapreduce_spark.sources.python_datasource import read_versioned

    native = snapshot_read(spark, part_table)
    pyds = read_versioned(spark, part_table)
    assert pyds.columns == native.columns
    assert dict(pyds.dtypes) == dict(native.dtypes)
    assert pyds.exceptAll(native).count() == 0
    assert native.exceptAll(pyds).count() == 0


def test_pyds_partitioned_pruning_is_file_precise(spark, part_table):
    """An equality predicate on the partition column prunes to exactly
    that branch's file splits — partition values act as [v, v] stats."""
    from argodb_mapreduce_spark.sources.python_datasource import read_versioned

    import glob

    full = read_versioned(spark, part_table).rdd.getNumPartitions()
    pruned_df = read_versioned(spark, part_table, predicates=[("k", "=", 3)])
    k3_files = len(glob.glob(os.path.join(part_table, "data-*", "k=3", "*.parquet")))
    assert pruned_df.rdd.getNumPartitions() == k3_files < full
    assert pruned_df.count() == 50


def test_pyds_partitioned_null_sentinel_and_dv(spark, tmp_path):
    """NULL partition branches (__HIVE_DEFAULT_PARTITION__) come back as
    NULL through the pyds read, and a deletion vector over partitioned
    segments masks rows identically to the native path."""
    from argodb_mapreduce_spark.sources.python_datasource import read_versioned
    from argodb_mapreduce_spark.sources.versioned import delete_where

    path = str(tmp_path / "pyds_null_part")
    df = spark.range(20).select(
        F.col("id").alias("v"),
        F.when(F.col("id") % 4 == 0, None)
        .otherwise((F.col("id") % 4).cast("int"))
        .alias("k"),
    )
    versioned_write(df, path, partition_by=("k",))
    got = read_versioned(spark, path)
    assert got.filter("k IS NULL").count() == 5
    assert dict(got.dtypes)["k"] == "int"
    delete_where(spark, path, [("v", "<", 8)])
    native = snapshot_read(spark, path)
    pyds = read_versioned(spark, path)
    assert pyds.count() == native.count() == 12
    assert pyds.exceptAll(native).count() == 0


def test_pyds_streams_partitioned_appends(spark, tmp_path):
    """The stream reader tails partitioned appends: each micro-batch
    plans one split per partition-branch file with values appended."""
    from argodb_mapreduce_spark.sources.python_datasource import (
        FORMAT_NAME,
        register_datasource,
    )

    register_datasource(spark)
    path = str(tmp_path / "pyds_part_stream")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("v"), (F.col("id") % 4).cast("int").alias("k")
    )
    versioned_write(mk(0, 50), path, partition_by=("k",))
    versioned_write(mk(50, 100), path, partition_by=("k",))
    s = spark.readStream.format(FORMAT_NAME).load(path)
    q = (
        s.groupBy("k")
        .count()
        .writeStream.format("memory")
        .queryName("pyds_part_tail")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = sorted((r.k, r["count"]) for r in spark.table("pyds_part_tail").collect())
    assert rows == [(0, 25), (1, 25), (2, 25), (3, 25)]


# ---------------------------------------------------------------------------
# Skipping observability (VERDICT r9 #7)
# ---------------------------------------------------------------------------


def test_prune_report_reasons(spark, tmp_path):
    """prune_report attributes each skip to the structure that proved
    it: disjoint ranges -> minmax, absent point key -> bloom."""
    from argodb_mapreduce_spark.sources.versioned import prune_report

    path = str(tmp_path / "report")
    base = spark.range(0, 300).withColumnRenamed("id", "k")
    for i in range(3):  # interleaved: every segment spans ~[i, 297+i]
        versioned_write(base.filter(F.col("k") % 3 == i), path, bloom_columns=("k",))
    rep = prune_report(path, predicates=[("k", ">=", 2000)])
    assert [r["skipped_by"] for r in rep] == ["minmax"] * 3
    # 42 % 3 == 0: inside every segment's [min,max] (minmax can't prune)
    # but only segment 0's bitset contains it -> bloom skips the others
    rep = prune_report(path, predicates=[("k", "=", 42)])
    assert rep[0]["planned"] and [r["skipped_by"] for r in rep[1:]] == ["bloom", "bloom"]
    # report agrees with prune_segments exactly
    from argodb_mapreduce_spark.sources.versioned import prune_segments

    kept, everything = prune_segments(path, predicates=[("k", "=", 42)])
    assert kept == [r["segment"] for r in rep if r["planned"]]
    assert everything == [r["segment"] for r in rep]


def test_history_written_rows_metrics(spark, tmp_path):
    """Every data commit records footer-derived operationMetrics; the
    manifest-only rollback shows NULL written_rows in HISTORY."""
    from argodb_mapreduce_spark.sources.versioned import _read_manifest, rollback

    path = str(tmp_path / "hist_metrics")
    versioned_write(spark.range(0, 70).withColumnRenamed("id", "k"), path)
    versioned_write(spark.range(70, 100).withColumnRenamed("id", "k"), path)
    rollback(path, 0)
    entries = _read_manifest(path)
    assert entries[0]["metrics"]["num_rows"] == 70
    assert entries[1]["metrics"]["num_rows"] == 30
    assert "metrics" not in entries[2]  # rollback wrote no data
    assert entries[0]["metrics"]["num_files"] >= 1
    assert entries[0]["metrics"]["bytes"] > 0



def test_compact_preserves_partition_layout(spark, part_table):
    """OPTIMIZE semantics: compacting a uniformly partitioned version
    keeps the Hive layout (fresh partition-col stats included);
    flatten=True is the explicit un-partitioning escape hatch."""
    from argodb_mapreduce_spark.sources.versioned import _read_manifest, compact

    v = compact(spark, part_table)
    entry = _read_manifest(part_table)[-1]
    seg = entry["segments"][0]
    assert entry["partition_by"] == {seg: ["k"]}
    assert entry["stats"][seg]["k"] == [0, 3]  # dir-name stats refreshed
    assert os.path.isdir(os.path.join(part_table, seg, "k=2"))
    df = snapshot_read(spark, part_table, predicates=[("k", "=", 2)])
    assert df.count() == 50
    assert compact(spark, part_table, flatten=True) == v + 1
    assert "partition_by" not in _read_manifest(part_table)[-1]
    assert snapshot_read(spark, part_table).count() == 200


def test_txn_sink_writes_partitioned(spark, tmp_path):
    """The exactly-once txn write composes with the Hive layout: the
    replay is refused and the committed segment is partitioned."""
    from argodb_mapreduce_spark.sources.versioned import (
        _read_manifest,
        versioned_write_txn,
    )

    path = str(tmp_path / "txn_part")
    df = spark.range(40).select(F.col("id").alias("v"), (F.col("id") % 2).cast("int").alias("k"))
    v, committed = versioned_write_txn(df, path, "app", 0, partition_by=("k",))
    assert committed
    _v2, replay = versioned_write_txn(df, path, "app", 0, partition_by=("k",))
    assert not replay
    entry = _read_manifest(path)[-1]
    assert entry["partition_by"] == {"data-0": ["k"]}
    assert snapshot_read(spark, path, predicates=[("k", "=", 1)]).count() == 20


def test_many_concurrent_writers_stress(spark, tmp_path):
    """4 threads x 3 appends racing one table: every commit lands,
    versions are gapless, every referenced segment exists, and the
    final row count equals the sum of all appends."""
    from concurrent.futures import ThreadPoolExecutor

    from argodb_mapreduce_spark.sources.versioned import _read_manifest

    path = str(tmp_path / "stress")
    versioned_write(spark.range(0, 10).withColumnRenamed("id", "k"), path)

    def writer(i):
        got = []
        for j in range(3):
            lo = 1000 * (i + 1) + 100 * j
            got.append(_append(spark, path, lo, lo + 10))
        return got

    with ThreadPoolExecutor(max_workers=4) as ex:
        all_versions = sorted(v for vs in ex.map(writer, range(4)) for v in vs)
    assert all_versions == list(range(1, 13))
    entries = _read_manifest(path)
    assert [e["version"] for e in entries] == list(range(13))
    for e in entries:
        for seg in e["segments"]:
            assert os.path.isdir(os.path.join(path, seg))
    assert snapshot_read(spark, path).count() == 10 + 12 * 10
    assert not any(d.startswith("_staged") for d in os.listdir(path))


def test_expect_write_modes(spark, tmp_path):
    """drop discards with counts; quarantine lands tagged rows in a
    versioned sidecar; fail refuses the batch; NULL checks violate."""
    from argodb_mapreduce_spark.sources.versioned import (
        ConstraintViolation,
        add_constraint,
        versioned_write_expect,
    )

    df = spark.range(20).select(
        F.col("id").alias("v"),
        F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id")).alias("checked"),
    )
    # drop mode
    p1 = str(tmp_path / "t_drop")
    os.makedirs(p1)
    add_constraint(spark, p1, "c1", "checked IS NOT NULL AND checked < 15")
    res = versioned_write_expect(df, p1, on_violation="drop")
    # violations: nulls {0,5,10,15} plus {16..19} (15 already null) = 8
    assert (res["rows_committed"], res["rows_violating"]) == (12, 8)
    assert snapshot_read(spark, p1).count() == 12
    assert res["quarantine_version"] is None
    # quarantine mode: tagged rows land in a versioned sidecar
    p2 = str(tmp_path / "t_quar")
    os.makedirs(p2)
    add_constraint(spark, p2, "nonnull", "checked IS NOT NULL")
    add_constraint(spark, p2, "small", "v < 15")
    res = versioned_write_expect(df, p2, on_violation="quarantine")
    quar = snapshot_read(spark, p2 + "_quarantine")
    assert res["rows_violating"] == quar.count() == 20 - res["rows_committed"]
    both = quar.filter(
        (F.size("_violated") == 2)
    ).count()
    assert both == 1  # v=15 is null-checked AND >= 15
    # fail mode delegates to the refusing path
    with pytest.raises(ConstraintViolation):
        versioned_write_expect(df, p2, on_violation="fail")
    # bad mode name fails loud
    with pytest.raises(ValueError, match="on_violation"):
        versioned_write_expect(df, p2, on_violation="ignore")


def test_commit_entry_renames_publish_only_on_current_base(spark, tmp_path):
    """DML publishes final segment names only under the lock on a
    still-current base: on conflict the staged dir is removed and no
    final-name dir ever appears (the unlocked data-{version} that a
    concurrent appender would rmtree as a crash orphan — the round-10
    review's top finding — can no longer exist)."""
    from argodb_mapreduce_spark.sources.versioned import (
        ConcurrentWriteError,
        _commit_entry,
        _read_manifest,
        _stage_dir,
    )

    path = str(tmp_path / "renames")
    versioned_write(spark.range(5).withColumnRenamed("id", "k"), path)
    # stage a fake rewrite, then move the head before committing
    staged = _stage_dir(path)
    spark.range(5, 9).withColumnRenamed("id", "k").write.parquet(staged)
    versioned_write(spark.range(9, 12).withColumnRenamed("id", "k"), path)
    entry = {"version": 1, "segments": ["data-1"], "stats": {}, "schemas": {}}
    with pytest.raises(ConcurrentWriteError):
        _commit_entry(path, 0, entry, renames={staged: "data-1"})
    assert not os.path.exists(staged)  # conflict cleanup
    # the CONCURRENT writer's committed data-1 is untouched
    assert os.path.isdir(os.path.join(path, "data-1"))
    assert snapshot_read(spark, path).count() == 8
    assert [e["version"] for e in _read_manifest(path)] == [0, 1]


def test_concurrent_compact_and_appends_never_lose_a_segment(spark, tmp_path):
    """A compaction racing blind appends either commits cleanly or
    fails loud with ConcurrentWriteError — and every manifest-referenced
    segment exists afterwards (no committed segment is ever deleted by
    the loser's cleanup)."""
    from concurrent.futures import ThreadPoolExecutor

    from argodb_mapreduce_spark.sources.versioned import (
        ConcurrentWriteError,
        _read_manifest,
        compact,
    )

    path = str(tmp_path / "race_compact")
    for lo in (0, 10):
        versioned_write(spark.range(lo, lo + 10).withColumnRenamed("id", "k"), path)

    def compactor(_):
        try:
            return ("ok", compact(spark, path))
        except ConcurrentWriteError:
            return ("conflict", None)

    def appender(i):
        return ("append", _append(spark, path, 1000 * (i + 1), 1000 * (i + 1) + 5))

    with ThreadPoolExecutor(max_workers=4) as ex:
        futs = [ex.submit(compactor, 0), ex.submit(appender, 0), ex.submit(appender, 1)]
        results = [f.result() for f in futs]
    entries = _read_manifest(path)
    versions_seen = [e["version"] for e in entries]
    assert versions_seen == list(range(len(entries)))  # gapless
    for e in entries:  # every referenced segment physically exists
        for seg in e["segments"]:
            assert os.path.isdir(os.path.join(path, seg)), (seg, results)
    # final content: 20 base rows + 5 per successful append
    n_appends = sum(1 for tag, _ in results if tag == "append")
    assert snapshot_read(spark, path).count() == 20 + 5 * n_appends
    assert not any(d.startswith("_staged") for d in os.listdir(path))


def test_fenced_release_and_verify_protect_successor(spark, tmp_path):
    """Fencing (VERDICT r10 #3 / ADVICE r10): a holder whose lock was
    stale-broken while it was paused (1) fails _verify_lock — its
    commit aborts instead of racing the successor — and (2) its release
    does NOT unlink the successor's fresh lock."""
    import time

    from argodb_mapreduce_spark.sources.versioned import (
        ConcurrentWriteError,
        _LOCK_NAME,
        _LOCK_STALE_S,
        _commit_lock,
        _verify_lock,
    )

    path = str(tmp_path / "fence")
    os.makedirs(path)
    lock = os.path.join(path, _LOCK_NAME)

    paused = _commit_lock(path)  # drive the contextmanager by hand
    token = paused.__enter__()
    _verify_lock(path, token)  # freshly held: fence passes
    # Simulate a stop-the-world pause longer than the staleness horizon.
    old = time.time() - _LOCK_STALE_S - 60
    os.utime(lock, (old, old))

    with _commit_lock(path) as successor:  # waiter breaks the stale lock
        assert successor != token
        # The paused holder resumes INSIDE the successor's window:
        with pytest.raises(ConcurrentWriteError, match="broken while held"):
            _verify_lock(path, token)
        paused.__exit__(None, None, None)  # its release must be a no-op
        assert os.path.exists(lock)
        with open(lock) as f:
            assert f.read() == successor  # successor's lock survived
    assert not os.path.exists(lock)  # successor's own release works


def test_vacuum_deletes_outside_lock_and_reaps_staged_orphans(spark, tmp_path):
    """ADVICE r10: vacuum holds the lock only for the manifest swap —
    the lock file is gone before/independent of the byte deletion — and
    reaps crashed-writer _staged-* orphans older than the stale horizon
    while leaving fresh ones (a live writer's staging) alone."""
    import time

    from argodb_mapreduce_spark.sources.versioned import (
        _LOCK_NAME,
        _LOCK_STALE_S,
        vacuum,
    )

    path = str(tmp_path / "vac")
    versioned_write(spark.range(10).withColumnRenamed("id", "k"), path)
    versioned_write(spark.range(10, 20).withColumnRenamed("id", "k"), path, mode="overwrite")
    # A crashed writer's orphan (old) and a live writer's staging (fresh).
    old_orphan = os.path.join(path, "_staged-deadbeef")
    fresh = os.path.join(path, "_staging-live")
    os.makedirs(old_orphan)
    os.makedirs(fresh)
    t = time.time() - _LOCK_STALE_S - 60
    os.utime(old_orphan, (t, t))

    summary = vacuum(path, keep_versions=1)
    assert summary["segments_deleted"] == ["data-0"]
    assert summary["bytes_reclaimed"] > 0
    assert summary["staged_orphans_reaped"] == ["_staged-deadbeef"]
    assert not os.path.exists(old_orphan)
    assert os.path.isdir(fresh)  # fresh staging untouched
    assert not os.path.exists(os.path.join(path, _LOCK_NAME))
    assert snapshot_read(spark, path).count() == 10


def test_pyds_dv_on_partition_values_with_spaces(spark, tmp_path):
    """_metadata.file_path percent-encodes partition values ('NOT
    SPECIFIED' -> NOT%20SPECIFIED); the DV resolvers must decode back
    to on-disk paths or delete masking silently misses those branches."""
    from argodb_mapreduce_spark.sources.python_datasource import read_versioned
    from argodb_mapreduce_spark.sources.versioned import delete_where

    path = str(tmp_path / "pyds_space_part")
    df = spark.range(40).select(
        F.col("id").alias("v"),
        F.when(F.col("id") % 2 == 0, "NOT SPECIFIED").otherwise("HIGH").alias("pri"),
    )
    versioned_write(df, path, partition_by=("pri",))
    delete_where(spark, path, [("v", "<", 10)])
    native = snapshot_read(spark, path)
    pyds = read_versioned(spark, path)
    assert pyds.count() == native.count() == 30
    assert pyds.filter("pri = 'NOT SPECIFIED'").count() == 15
    assert pyds.exceptAll(native).count() == 0


# ---------------------------------------------------------------------------
# DML-vs-DML races (VERDICT r10 #4): rewrites under the lock either
# serialize correctly or fail loud — never a lost update
# ---------------------------------------------------------------------------


def _manifest_invariants(spark, path):
    """Gapless versions, every referenced segment exists, no staged
    leftovers — the invariants every race must preserve."""
    from argodb_mapreduce_spark.sources.versioned import _read_manifest

    entries = _read_manifest(path)
    assert [e["version"] for e in entries] == list(range(len(entries)))
    for e in entries:
        for seg in e["segments"]:
            assert os.path.isdir(os.path.join(path, seg)), seg
        if e.get("dv"):
            assert os.path.isdir(os.path.join(path, e["dv"])), e["dv"]
    assert not any(d.startswith("_staged") for d in os.listdir(path))
    return entries


def test_concurrent_deletes_serialize_or_fail_loud(spark, tmp_path):
    """Two DELETEs racing the same base: each either commits or raises
    ConcurrentWriteError; the final table equals the base minus the rows
    of exactly the SUCCESSFUL deletes (no lost tombstones, no extras)."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from argodb_mapreduce_spark.sources.versioned import (
        ConcurrentWriteError,
        delete_where,
    )

    path = str(tmp_path / "race_dml_del")
    versioned_write(spark.range(20).withColumnRenamed("id", "k"), path)
    versioned_write(spark.range(20, 40).withColumnRenamed("id", "k"), path)
    barrier = threading.Barrier(2)
    preds = [[("k", "<", 5)], [("k", ">=", 35)]]

    def do_delete(i):
        barrier.wait()
        try:
            return ("ok", delete_where(spark, path, preds[i]), i)
        except ConcurrentWriteError:
            return ("conflict", None, i)

    with ThreadPoolExecutor(max_workers=2) as ex:
        results = [f.result() for f in [ex.submit(do_delete, 0), ex.submit(do_delete, 1)]]
    oks = [r for r in results if r[0] == "ok"]
    assert len(oks) >= 1  # the lock may serialize both; never zero
    deleted = sum(5 for r in oks)
    remaining = snapshot_read(spark, path)
    assert remaining.count() == 40 - deleted
    # the winners' predicates really applied; the loser's did not
    for tag, _res, i in results:
        hit = remaining.filter(
            (F.col("k") < 5) if i == 0 else (F.col("k") >= 35)
        ).count()
        assert hit == (0 if tag == "ok" else 5)
    _manifest_invariants(spark, path)


def test_concurrent_merges_never_lose_an_update(spark, tmp_path):
    """Two MERGEs racing the same base rewrite overlapping segments:
    one-winner OCC (or clean serialization) — the final table contains
    each successful merge's updates exactly once, manifest gapless."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from argodb_mapreduce_spark.sources.versioned import (
        ConcurrentWriteError,
        merge_upsert,
    )

    path = str(tmp_path / "race_dml_merge")
    base = spark.range(20).select(F.col("id").alias("k"), F.lit(0).alias("val"))
    versioned_write(base, path)
    barrier = threading.Barrier(2)

    def do_merge(i):
        src = spark.range(5 * i, 5 * i + 10).select(
            F.col("id").alias("k"), F.lit(i + 1).alias("val")
        )
        barrier.wait()
        try:
            return ("ok", merge_upsert(spark, path, src, "k"), i)
        except ConcurrentWriteError:
            return ("conflict", None, i)

    with ThreadPoolExecutor(max_workers=2) as ex:
        results = [f.result() for f in [ex.submit(do_merge, 0), ex.submit(do_merge, 1)]]
    oks = [r for r in results if r[0] == "ok"]
    assert len(oks) >= 1
    rows = {r.k: r.val for r in snapshot_read(spark, path).collect()}
    assert len(rows) == 20  # keys 0..19, upserts only updated
    for tag, _res, i in results:
        marked = sum(1 for v in rows.values() if v == i + 1)
        if tag == "ok" and len(oks) == 1:
            assert marked == 10  # sole winner's full update set
        elif tag == "conflict":
            assert marked == 0  # loser left no partial rows
    _manifest_invariants(spark, path)


def test_dml_racing_append_keeps_both_or_fails_loud(spark, tmp_path):
    """UPDATE racing a blind append: the append always lands (it
    rebases); the UPDATE either commits against its base or raises —
    and an appended row is never swallowed by the rewrite's cleanup."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from argodb_mapreduce_spark.sources.versioned import (
        ConcurrentWriteError,
        update_where,
    )

    path = str(tmp_path / "race_dml_append")
    versioned_write(
        spark.range(20).select(F.col("id").alias("k"), F.lit(0).alias("val")), path
    )
    barrier = threading.Barrier(2)

    def do_update():
        barrier.wait()
        try:
            return ("ok", update_where(spark, path, [("k", "<", 10)], {"val": F.lit(9)}))
        except ConcurrentWriteError:
            return ("conflict", None)

    def do_append():
        barrier.wait()
        df = spark.range(100, 110).select(F.col("id").alias("k"), F.lit(0).alias("val"))
        return ("append", versioned_write(df, path, mode="append"))

    with ThreadPoolExecutor(max_workers=2) as ex:
        results = [f.result() for f in [ex.submit(do_update), ex.submit(do_append)]]
    upd = next(r for r in results if r[0] != "append")
    final = snapshot_read(spark, path)
    assert final.filter("k >= 100").count() == 10  # append never lost
    updated = final.filter("val = 9").count()
    assert updated == (10 if upd[0] == "ok" else 0)  # all-or-nothing DML
    _manifest_invariants(spark, path)


# ---------------------------------------------------------------------------
# Quarantine replay (VERDICT r10 #6): the repair-and-reingest half of
# the DLT loop — exactly-once, crash-recoverable
# ---------------------------------------------------------------------------


def _replay_env(spark, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import (
        add_constraint,
        versioned_write_expect,
    )

    path = str(tmp_path / "replay_main")
    qp = path + "_q"
    os.makedirs(path)
    add_constraint(spark, path, "small_k", "k < 100")
    df = spark.range(150).withColumnRenamed("id", "k")
    res = versioned_write_expect(df, path, quarantine_path=qp)
    assert res["rows_committed"] == 100 and res["rows_violating"] == 50

    def repair(d):
        return d.withColumn(
            "k",
            F.when((F.col("k") >= 100) & (F.col("k") < 120), F.col("k") - 100)
            .otherwise(F.col("k")),
        )

    return path, qp, repair


def test_quarantine_replay_reingests_and_is_idempotent(spark, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import quarantine_replay

    path, qp, repair = _replay_env(spark, tmp_path)
    rep1 = quarantine_replay(spark, path, qp, repair=repair)
    assert rep1["committed"] and not rep1["recovered"]
    assert rep1["rows_reingested"] == 20  # k in [100, 120) repaired
    assert rep1["rows_still_quarantined"] == 30
    assert snapshot_read(spark, path).count() == 120
    q = snapshot_read(spark, qp)
    assert q.count() == 30 and q.filter("k < 120").count() == 0
    assert "_violated" in q.columns  # residual rows re-tagged
    # Second replay: detected no-op — never a double ingest.
    rep2 = quarantine_replay(spark, path, qp, repair=repair)
    assert rep2["rows_reingested"] == 0 and not rep2["committed"]
    assert snapshot_read(spark, path).count() == 120


def test_quarantine_replay_recovers_from_crash_between_commits(spark, tmp_path):
    """Main commit landed, cleanup republish crashed, AND a concurrent
    expectation-write appended new bad rows: the next replay must not
    double-ingest the already-committed subset, must purge it from the
    quarantine, and must keep both old and new still-bad rows."""
    from argodb_mapreduce_spark.sources.versioned import (
        _REPLAY_APP,
        _read_constraints,
        _tag_violations,
        quarantine_replay,
        versioned_write_expect,
        versioned_write_txn,
    )

    path, qp, repair = _replay_env(spark, tmp_path)
    # Simulate the crash: perform ONLY the main-table half of cycle 0.
    rows = snapshot_read(spark, qp).drop("_violated")
    tagged = _tag_violations(repair(rows), _read_constraints(path))
    ok = tagged.filter(F.size("_violated") == 0).drop("_violated")
    versioned_write_txn(ok, path, _REPLAY_APP, 0)
    assert snapshot_read(spark, path).count() == 120
    # A concurrent ingest quarantines 10 more (all unfixable) rows.
    versioned_write_expect(
        spark.range(200, 210).withColumnRenamed("id", "k"), path, quarantine_path=qp
    )
    out = quarantine_replay(spark, path, qp, repair=repair)
    assert out["recovered"] is True
    assert out["rows_reingested"] == 0  # old-ok excluded, new rows all bad
    assert snapshot_read(spark, path).count() == 120  # NO double ingest
    q = snapshot_read(spark, qp)
    assert q.count() == 40  # 30 old-bad + 10 new-bad; replayed 20 purged
    assert q.filter("k < 120").count() == 0
    # After recovery the ledgers are consistent again: plain no-op.
    again = quarantine_replay(spark, path, qp, repair=repair)
    assert again["rows_reingested"] == 0 and not again["recovered"]
    assert snapshot_read(spark, path).count() == 120


def test_quarantine_replay_recovers_plain_crash_no_append(spark, tmp_path):
    """Review fix (r11): crash between the main commit and the cleanup
    WITHOUT any later quarantine append (q_head == last_replayed) must
    still be detected and recovered — the early no-op return only fires
    when the cleanup actually landed."""
    from argodb_mapreduce_spark.sources.versioned import (
        _REPLAY_APP,
        _read_constraints,
        _tag_violations,
        quarantine_replay,
        versioned_write_txn,
    )

    path, qp, repair = _replay_env(spark, tmp_path)
    rows = snapshot_read(spark, qp).drop("_violated")
    tagged = _tag_violations(repair(rows), _read_constraints(path))
    ok = tagged.filter(F.size("_violated") == 0).drop("_violated")
    versioned_write_txn(ok, path, _REPLAY_APP, 0)  # main half only
    out = quarantine_replay(spark, path, qp, repair=repair)
    assert out["recovered"] is True
    assert out["rows_reingested"] == 0
    assert snapshot_read(spark, path).count() == 120  # no double ingest
    assert snapshot_read(spark, qp).count() == 30  # replayed rows purged
    again = quarantine_replay(spark, path, qp, repair=repair)
    assert again["rows_reingested"] == 0 and not again["recovered"]


def test_vacuum_reaper_spares_live_staging_with_old_dir_mtime(spark, tmp_path):
    """Review fix (r11): a live writer's staging dir whose TOP-LEVEL
    mtime is past the horizon (long heavy phase) but whose tree holds a
    fresh file must NOT be reaped; a tree cold everywhere is."""
    import time

    from argodb_mapreduce_spark.sources.versioned import _LOCK_STALE_S, vacuum

    path = str(tmp_path / "vac_live")
    versioned_write(spark.range(10).withColumnRenamed("id", "k"), path)
    versioned_write(spark.range(10, 20).withColumnRenamed("id", "k"), path, mode="overwrite")
    old = time.time() - _LOCK_STALE_S - 120
    live = os.path.join(path, "_staged-live-longwrite")
    os.makedirs(live)
    with open(os.path.join(live, "part-0.parquet"), "w") as f:
        f.write("fresh bytes")  # fresh inner mtime
    os.utime(live, (old, old))  # ...but a cold top-level dir
    dead = os.path.join(path, "_staged-dead")
    os.makedirs(dead)
    with open(os.path.join(dead, "part-0.parquet"), "w") as f:
        f.write("cold bytes")
    for p in (dead, os.path.join(dead, "part-0.parquet")):
        os.utime(p, (old, old))
    summary = vacuum(path, keep_versions=1)
    assert summary["staged_orphans_reaped"] == ["_staged-dead"]
    assert os.path.isdir(live) and not os.path.exists(dead)


def test_change_feed_partitioned_relative_path(spark, tmp_path):
    """Review fix (r11): the delete leg's owner matching must work when
    the table path is RELATIVE — partition values recovered, not
    silently NULL-backfilled."""
    from argodb_mapreduce_spark.sources.versioned import change_feed, delete_where

    # Relative from the PROCESS cwd (Python and the JVM share it; an
    # os.chdir would desync the two and break all relative paths).
    rel = os.path.relpath(str(tmp_path / "rel_part_table"), os.getcwd())
    assert not os.path.isabs(rel)
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("v"), (F.col("id") % 4).cast("int").alias("k")
    )
    versioned_write(mk(0, 50), rel, partition_by=("k",))
    versioned_write(mk(50, 100), rel, partition_by=("k",))
    delete_where(spark, rel, [("v", "<", 4)])
    dels = change_feed(spark, rel, 1, 2).filter("_change_type = 'delete'")
    rows = sorted((r.v, r.k) for r in dels.collect())
    assert rows == [(0, 0), (1, 1), (2, 2), (3, 3)]  # k recovered


def test_pyds_backfills_pre_evolution_files(spark, tmp_path):
    """Review fix (r11): a flat pre-evolution file lacking a plan
    column NULL-backfills through the pyds reorder path (matching the
    native reader) instead of raising KeyError executor-side."""
    from argodb_mapreduce_spark.sources.python_datasource import read_versioned

    path = str(tmp_path / "pyds_evolve")
    versioned_write(
        spark.range(10).select(F.col("id").alias("a"), (F.col("id") * 2).alias("b")),
        path,
    )
    versioned_write(
        spark.range(10, 20).select(
            F.col("id").alias("a"),
            (F.col("id") * 2).alias("b"),
            (F.col("id") % 2).cast("int").alias("c"),
        ),
        path,
        partition_by=("c",),
    )
    got = read_versioned(spark, path)
    assert got.count() == 20
    assert got.filter("c IS NULL").count() == 10  # v0 rows backfilled
    assert got.filter("c = 1").count() == 5


def test_delete_racing_merge_composes_or_fails_loud(spark, tmp_path):
    """r11: with DML-on-DV composition a DELETE and a MERGE may race
    the same base — each commits or raises ConcurrentWriteError, the
    manifest stays gapless, and the final state reflects exactly the
    winners (a merge landing after the delete reads through its DV)."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from argodb_mapreduce_spark.sources.versioned import (
        ConcurrentWriteError,
        delete_where,
        merge_upsert,
    )

    path = str(tmp_path / "race_del_merge")
    base = spark.range(40).select(F.col("id").alias("k"), F.lit(0).alias("val"))
    versioned_write(base, path)
    barrier = threading.Barrier(2)

    def do_delete():
        barrier.wait()
        try:
            return ("ok", delete_where(spark, path, [("k", "<", 10)]))
        except ConcurrentWriteError:
            return ("conflict", None)

    def do_merge():
        src = spark.range(30, 45).select(F.col("id").alias("k"), F.lit(7).alias("val"))
        barrier.wait()
        try:
            return ("ok", merge_upsert(spark, path, src, "k"))
        except ConcurrentWriteError:
            return ("conflict", None)

    with ThreadPoolExecutor(max_workers=2) as ex:
        res = {f[0]: f[1] for f in [("del", ex.submit(do_delete)), ("mrg", ex.submit(do_merge))]}
        res = {k: v.result() for k, v in res.items()}
    final = snapshot_read(spark, path)
    n_del = 10 if res["del"][0] == "ok" else 0
    n_mrg_new = 5 if res["mrg"][0] == "ok" else 0  # keys 40..44 inserted
    assert final.count() == 40 - n_del + n_mrg_new
    if res["mrg"][0] == "ok":
        assert final.filter("val = 7").count() == 15
    if res["del"][0] == "ok":
        assert final.filter("k < 10").count() == 0
    _manifest_invariants(spark, path)


def test_dml_on_dv_composes_with_partitioned_segments(spark, tmp_path):
    """Cross-product of the two r11 features: UPDATE and MERGE on a
    DV-bearing HIVE-PARTITIONED table — tombstones respected, partition
    layout carried for untouched segments, rewrite lands flat (the DML
    contract), and both readers agree afterwards."""
    from argodb_mapreduce_spark.sources.python_datasource import read_versioned
    from argodb_mapreduce_spark.sources.versioned import (
        _read_manifest,
        delete_where,
        merge_upsert,
        update_where,
    )

    path = str(tmp_path / "dml_dv_part")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("v"),
        (F.col("id") % 4).cast("int").alias("k"),
        F.lit(0).alias("val"),
    )
    versioned_write(mk(0, 60), path, partition_by=("k",))
    versioned_write(mk(60, 120), path, partition_by=("k",))
    delete_where(spark, path, [("v", "<", 12)])  # DV over partitioned segs
    # UPDATE through the DV on the partitioned table
    upd = update_where(spark, path, [("v", ">=", 100)], {"val": F.lit(5)})
    assert upd["rows_updated"] == 20
    final = snapshot_read(spark, path)
    assert final.count() == 108  # 120 - 12 tombstoned
    assert final.filter("val = 5").count() == 20
    assert final.filter("v < 12").count() == 0  # tombstones intact
    # MERGE re-upserting 4 deleted keys as inserts
    src = spark.range(4).select(
        F.col("id").alias("v"), (F.col("id") % 4).cast("int").alias("k"),
        F.lit(9).alias("val"),
    )
    merge_upsert(spark, path, src, "v")
    final2 = snapshot_read(spark, path)
    assert final2.count() == 112
    assert final2.filter("val = 9").count() == 4
    # both readers agree on the end state
    pyds = read_versioned(spark, path)
    assert pyds.count() == 112
    assert pyds.exceptAll(final2.select(pyds.columns)).count() == 0
    # untouched partitioned segments keep their recorded layout
    entry = _read_manifest(path)[-1]
    pb = entry.get("partition_by", {})
    assert pb, "untouched partitioned segments must keep a layout ledger"
    assert all(v == ["k"] for v in pb.values())


def test_expect_write_txn_stamp_makes_each_leg_idempotent(spark, tmp_path):
    """r11 review fix: a foreachBatch replay of versioned_write_expect
    with the same (app_id, batch_id) is a no-op on BOTH tables, and a
    crash between the legs re-runs only the missing leg."""
    from argodb_mapreduce_spark.sources.versioned import (
        add_constraint,
        versioned_write,
        versioned_write_expect,
    )

    path = str(tmp_path / "expect_txn")
    qp = path + "_q"
    os.makedirs(path)
    add_constraint(spark, path, "small_k", "k < 10")
    df = spark.range(15).withColumnRenamed("id", "k")
    txn = {"app_id": "expect-stream", "batch_id": 0}
    r1 = versioned_write_expect(df, path, quarantine_path=qp, _txn=txn)
    assert r1["rows_committed"] == 10 and r1["rows_violating"] == 5
    # Full replay: both legs already landed -> nothing moves.
    r2 = versioned_write_expect(df, path, quarantine_path=qp, _txn=txn)
    assert r2["rows_committed"] == 0 and r2["rows_violating"] == 0
    assert snapshot_read(spark, path).count() == 10
    assert snapshot_read(spark, qp).count() == 5
    # Crash-between-legs: simulate batch 1 whose MAIN leg landed but
    # whose quarantine leg did not, then replay the whole batch.
    df2 = spark.range(20, 40).withColumnRenamed("id", "k")
    ok2 = df2.filter("k < 10")  # empty, but stamps the main ledger
    versioned_write(ok2, path, _txn={"app_id": "expect-stream", "batch_id": 1})
    r3 = versioned_write_expect(
        df2, path, quarantine_path=qp, _txn={"app_id": "expect-stream", "batch_id": 1}
    )
    assert r3["rows_committed"] == 0  # main leg replay refused
    assert r3["rows_violating"] == 20  # quarantine leg ran exactly once
    assert snapshot_read(spark, qp).count() == 25


# ---------------------------------------------------------------------------
# Partition-spec evolution (per-segment layout ledger)
# ---------------------------------------------------------------------------


def _evolved_table(spark, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import versioned_write

    p = str(tmp_path / "pevo")

    def mk(a, b):
        return spark.range(a, b).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("string").alias("region"),
            (F.col("id") % 2).cast("string").alias("tier"),
            (F.col("id") * 2).alias("v"),
        )

    versioned_write(mk(0, 30), p, mode="append")  # flat
    versioned_write(mk(30, 60), p, mode="append", partition_by=["region"])
    versioned_write(mk(60, 90), p, mode="append", partition_by=["tier"])  # spec change
    return p


def test_partition_evolution_read_and_prune_across_specs(spark, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import snapshot_read

    p = _evolved_table(spark, tmp_path)
    r = snapshot_read(spark, p)
    assert r.count() == 90
    assert dict(r.dtypes)["region"] == "string"  # ledger type, not inferred int
    got = snapshot_read(spark, p, predicates=[("tier", "=", "1")])
    assert got.count() == 45


def test_partition_evolution_dml_across_specs(spark, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import (
        delete_where,
        snapshot_read,
        update_where,
    )

    p = _evolved_table(spark, tmp_path)
    s = update_where(spark, p, [("k", "<", 35)], {"v": F.lit(0).cast("long")})
    assert s["rows_updated"] == 35  # spans the flat AND region-spec segments
    delete_where(spark, p, [("k", ">=", 85)])  # inside the tier-spec segment
    r = snapshot_read(spark, p)
    assert r.count() == 85
    assert r.agg(F.sum("v")).collect()[0][0] == sum(i * 2 for i in range(35, 85))


def test_partition_evolution_compact_flattens_mixed(spark, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import (
        _read_manifest,
        compact,
        snapshot_read,
    )

    p = _evolved_table(spark, tmp_path)
    v = compact(spark, p)
    latest = _read_manifest(p)[-1]
    assert latest["version"] == v
    assert "partition_by" not in latest  # mixed specs -> documented flatten
    assert snapshot_read(spark, p).count() == 90


def test_partition_evolution_clone_keeps_per_segment_specs(spark, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import (
        _read_manifest,
        clone_table,
        snapshot_read,
    )

    p = _evolved_table(spark, tmp_path)
    dst = str(tmp_path / "clone")
    clone_table(p, dst)
    pb = _read_manifest(dst)[0].get("partition_by", {})
    assert sorted(pb.values()) == [["region"], ["tier"]]  # both specs survive
    assert snapshot_read(spark, dst).count() == 90


# ---------------------------------------------------------------------------
# Optimized write (target_file_mb)
# ---------------------------------------------------------------------------


def test_optimized_write_right_sizes_staged_files(spark, tmp_path):
    import glob
    import os as _o

    from argodb_mapreduce_spark.sources.versioned import (
        snapshot_read,
        versioned_write,
    )

    p = str(tmp_path / "ow")
    df = spark.range(20000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    ).repartition(16)
    versioned_write(df, p, mode="append", target_file_mb=64)
    files = glob.glob(_o.path.join(p, "data-0", "*.parquet"))
    assert len(files) == 1  # 16 shards -> one right-sized file
    r = snapshot_read(spark, p)
    assert r.count() == 20000
    assert r.agg(F.sum("v")).collect()[0][0] == sum(i * 3 for i in range(20000))


def test_optimized_write_noop_when_layout_already_good(spark, tmp_path):
    import glob
    import os as _o

    from argodb_mapreduce_spark.sources.versioned import versioned_write

    p = str(tmp_path / "ow2")
    df = spark.range(1000).withColumnRenamed("id", "k").coalesce(1)
    versioned_write(df, p, mode="append", target_file_mb=64)
    # already 1 file <= target: no rewrite, still 1 file
    assert len(glob.glob(_o.path.join(p, "data-0", "*.parquet"))) == 1


def test_optimized_write_rejects_partitioned_and_bad_target(spark, tmp_path):
    import pytest as _pt

    from argodb_mapreduce_spark.sources.versioned import versioned_write

    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("p")
    )
    with _pt.raises(ValueError, match="flat segments only"):
        versioned_write(
            df, str(tmp_path / "ow3"), partition_by=["p"], target_file_mb=8
        )
    with _pt.raises(ValueError, match="target_file_mb"):
        versioned_write(df, str(tmp_path / "ow4"), target_file_mb=0)


def test_optimized_write_keeps_stats_and_constraints_on_rewritten_bytes(
    spark, tmp_path
):
    from argodb_mapreduce_spark.sources.versioned import (
        _read_manifest,
        snapshot_read,
        versioned_write,
    )

    p = str(tmp_path / "ow5")
    df = spark.range(5000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).repartition(8)
    versioned_write(df, p, mode="append", target_file_mb=64)
    e = _read_manifest(p)[-1]
    st = e["stats"]["data-0"]
    assert st["k"][0] == 0 and st["k"][1] == 4999  # stats from the FINAL bytes
    # pruning still fires on the rewritten segment
    got = snapshot_read(spark, p, predicates=[("k", ">=", 4990)])
    assert got.count() == 10


# ---------------------------------------------------------------------------
# Time-based retention + RESTORE TO TIMESTAMP
# ---------------------------------------------------------------------------


def test_vacuum_retain_hours_keeps_window_plus_head(spark, tmp_path, monkeypatch):
    import argodb_mapreduce_spark.sources.versioned as V

    p = str(tmp_path / "vrh")
    clock = [1_000_000.0]
    monkeypatch.setattr(V, "_now", lambda: clock[0])
    for i in range(4):  # commits at t=1e6, +1h, +2h, +3h
        V.versioned_write(
            spark.range(i * 10, (i + 1) * 10).withColumnRenamed("id", "k"),
            p,
            mode="append",
        )
        clock[0] += 3600.0
    # now = 1e6 + 4h; retain 2.5h keeps versions committed >= now-2.5h
    # (v2 at +2h, v3 at +3h) and expires v0/v1
    res = V.vacuum(p, retain_hours=2.5)
    assert res["versions_kept"] == 2 and res["versions_removed"] == 2
    assert V.versions(p) == [2, 3]
    assert V.snapshot_read(spark, p).count() == 40  # head content intact


def test_vacuum_retain_zero_hours_keeps_only_head(spark, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import (
        snapshot_read,
        vacuum,
        versioned_write,
        versions,
    )

    p = str(tmp_path / "vrh0")
    for i in range(3):
        versioned_write(
            spark.range(i * 10, (i + 1) * 10).withColumnRenamed("id", "k"),
            p,
            mode="append",
        )
    res = vacuum(p, retain_hours=0)
    assert res["versions_kept"] == 1
    assert versions(p) == [2]
    assert snapshot_read(spark, p).count() == 30


def test_rollback_to_timestamp_resolves_as_of_rule(spark, tmp_path, monkeypatch):
    import argodb_mapreduce_spark.sources.versioned as V

    p = str(tmp_path / "rbts")
    clock = [2_000_000.0]
    monkeypatch.setattr(V, "_now", lambda: clock[0])
    V.versioned_write(spark.range(0, 10).withColumnRenamed("id", "k"), p)  # v0 @ 2e6
    clock[0] += 100
    V.versioned_write(spark.range(10, 30).withColumnRenamed("id", "k"), p)  # v1 @ +100
    clock[0] += 100
    V.versioned_write(
        spark.range(99, 100).withColumnRenamed("id", "k"), p, mode="overwrite"
    )  # v2 @ +200
    clock[0] += 100
    # a ts between v1 and v2 resolves to v1 (newest at-or-before)
    v = V.rollback_to_timestamp(p, 2_000_000.0 + 150)
    assert v == 3
    assert sorted(r.k for r in V.snapshot_read(spark, p).collect()) == list(range(30))
    with pytest.raises(ValueError, match="no version committed"):
        V.rollback_to_timestamp(p, 1_999_999.0)


# ---------------------------------------------------------------------------
# Set-based DELETE (delete_keys)
# ---------------------------------------------------------------------------


def test_delete_keys_tombstones_exact_set(spark, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import (
        delete_keys,
        snapshot_read,
        versioned_write,
    )

    p = str(tmp_path / "dk")
    versioned_write(spark.range(0, 50).withColumnRenamed("id", "k"), p)
    versioned_write(spark.range(50, 100).withColumnRenamed("id", "k"), p, "append")
    keys = spark.createDataFrame([(7,), (49,), (50,), (99,), (12345,)], ["k"])
    v, n = delete_keys(spark, p, keys, "k")
    assert (v, n) == (2, 4)  # 12345 absent; spans both segments
    live = sorted(r.k for r in snapshot_read(spark, p).collect())
    assert live == [k for k in range(100) if k not in (7, 49, 50, 99)]
    # cumulative with a prior DV + no-op when nothing matches
    v2, n2 = delete_keys(spark, p, spark.createDataFrame([(7,), (8,)], ["k"]), "k")
    assert (v2, n2) == (3, 1)  # 7 already tombstoned, only 8 new
    v3, n3 = delete_keys(spark, p, spark.createDataFrame([(7,)], ["k"]), "k")
    assert (v3, n3) == (3, 0)  # full no-op: no commit published
    assert snapshot_read(spark, p).count() == 95


def test_delete_keys_feeds_change_feed_and_mv(spark, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import (
        change_feed,
        delete_keys,
        versioned_write,
    )

    p = str(tmp_path / "dkf")
    df = spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("g")
    )
    versioned_write(df, p)
    delete_keys(spark, p, spark.createDataFrame([(0,), (1,), (2,)], ["k"]), "k")
    feed = change_feed(spark, p, 0, 1)
    dels = sorted(
        r.k for r in feed.filter(F.col("_change_type") == "delete").collect()
    )
    assert dels == [0, 1, 2]


def test_manifest_appends_only_in_commit_entry():
    """Every manifest append in the package goes through
    versioned._commit_entry (one lock, fence and OCC path), and the pyds
    writer takes no commit lock of its own."""
    import ast
    import pathlib

    import argodb_mapreduce_spark

    class Appends(ast.NodeVisitor):
        def __init__(self):
            self.scope, self.callers = ["<module>"], []

        def visit_FunctionDef(self, node):
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        def visit_Call(self, node):
            name = getattr(node.func, "attr", getattr(node.func, "id", None))
            if name in ("append_entry", "_append_manifest_entry"):
                self.callers.append((self.file, self.scope[-1]))
            self.generic_visit(node)

    pkg = pathlib.Path(argodb_mapreduce_spark.__file__).parent
    v = Appends()
    for f in sorted(pkg.rglob("*.py")):
        v.file = f.name
        v.visit(ast.parse(f.read_text()))
    assert v.callers == [("versioned.py", "_commit_entry")], v.callers

    pyds = pkg / "sources" / "python_datasource.py"
    names = set()
    for node in ast.walk(ast.parse(pyds.read_text())):
        if isinstance(node, ast.ImportFrom):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
    assert not names & {"_commit_lock", "_verify_lock"}


def test_diff_keys_sees_a_second_delete_in_one_file(spark, tmp_path):
    """Two deletion vectors on the same file differ by position, not by
    file: the diff between them must report the key the second delete
    removed (comparing DV file paths alone pruned the segment)."""
    from argodb_mapreduce_spark.sources.versioned import delete_keys, diff_keys

    p = str(tmp_path / "dk")
    versioned_write(spark.range(0, 100).selectExpr("id AS k"), p)
    delete_keys(spark, p, spark.createDataFrame([(5,)], "k long"), "k")
    delete_keys(spark, p, spark.createDataFrame([(7,)], "k long"), "k")
    out, meta = diff_keys(spark, p, "k", 1, 2)
    assert sorted(tuple(r) for r in out.collect()) == [("removed", 7)]
    assert meta["segments_compared"] == 2
    out, _ = diff_keys(spark, p, "k", 0, 2)
    assert sorted(tuple(r) for r in out.collect()) == [("removed", 5), ("removed", 7)]
