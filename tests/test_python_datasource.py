"""Python DataSource ('argodb_versioned') — the InputFormat-contract
properties: file-aligned splits, snapshot pinning, version addressing."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from argodb_mapreduce_spark.catalog import load_table
from argodb_mapreduce_spark.sources.python_datasource import read_versioned
from argodb_mapreduce_spark.sources.versioned import (
    snapshot_read,
    versioned_write,
)


def _mk(spark, tmp_path) -> str:
    path = str(tmp_path / "pyds_vt")
    versioned_write(spark.range(20).withColumnRenamed("id", "k").repartition(3), path)
    versioned_write(spark.range(20, 30).withColumnRenamed("id", "k").repartition(2), path)
    return path


def test_one_partition_per_file(spark, tmp_path):
    path = _mk(spark, tmp_path)
    n_files = sum(
        1
        for seg in ("data-0", "data-1")
        for f in os.listdir(os.path.join(path, seg))
        if f.endswith(".parquet")
    )
    df = read_versioned(spark, path, 1)
    assert df.rdd.getNumPartitions() == n_files  # getSplits ≙ partitions()


def test_matches_native_snapshot_read_per_version(spark, tmp_path):
    path = _mk(spark, tmp_path)
    for v in (0, 1):
        got = sorted(r["k"] for r in read_versioned(spark, path, v).collect())
        want = sorted(r["k"] for r in snapshot_read(spark, path, v).collect())
        assert got == want


def test_plan_time_snapshot_pinning(spark, tmp_path):
    path = _mk(spark, tmp_path)
    df = read_versioned(spark, path)  # latest = v1, file set pinned at plan time
    # A concurrent writer publishes v2 (overwrite) AFTER planning.
    versioned_write(spark.range(100, 103).withColumnRenamed("id", "k"), path, mode="overwrite")
    assert sorted(r["k"] for r in df.collect()) == list(range(30))  # still v1
    assert sorted(r["k"] for r in read_versioned(spark, path).collect()) == [100, 101, 102]


def test_aggregation_pushes_through(spark, tmp_path):
    path = _mk(spark, tmp_path)
    row = read_versioned(spark, path, 1).agg(
        F.count(F.lit(1)).alias("n"), F.sum("k").alias("s")
    ).collect()[0]
    assert (row["n"], row["s"]) == (30, sum(range(30)))


# ---------------------------------------------------------------------------
# Write path (DataSourceArrowWriter): round-trip, append/overwrite
# semantics, and all-tasks-or-nothing commit.
# ---------------------------------------------------------------------------

def _manifest(path):
    from argodb_mapreduce_spark.sources.manifest_log import read_entries

    return read_entries(path)


def test_writer_roundtrip_and_modes(spark, tmp_path):
    from argodb_mapreduce_spark.sources.python_datasource import write_versioned

    path = str(tmp_path / "written_vt")
    write_versioned(spark.range(10).withColumnRenamed("id", "k").repartition(3), path)
    write_versioned(spark.range(10, 15).withColumnRenamed("id", "k"), path, mode="append")
    write_versioned(spark.range(100, 102).withColumnRenamed("id", "k"), path, mode="overwrite")
    assert sorted(r["k"] for r in read_versioned(spark, path, 0).collect()) == list(range(10))
    assert sorted(r["k"] for r in read_versioned(spark, path, 1).collect()) == list(range(15))
    assert sorted(r["k"] for r in read_versioned(spark, path, 2).collect()) == [100, 101]
    # Interop: the native manifest reader sees the same versions.
    assert sorted(r["k"] for r in snapshot_read(spark, path, 1).collect()) == list(range(15))


def test_writer_failed_job_publishes_nothing(spark, tmp_path):
    """All-tasks-or-nothing: a job with a failing task must leave the
    manifest untouched and publish no data segment — only an
    unreferenced staging dir at worst (abort removes it)."""
    import pytest
    from pyspark.sql import functions as F

    from argodb_mapreduce_spark.sources.python_datasource import write_versioned

    path = str(tmp_path / "failing_vt")
    write_versioned(spark.range(5).withColumnRenamed("id", "k"), path)
    before = _manifest(path)

    bad = spark.range(10).withColumnRenamed("id", "k").withColumn(
        "boom", F.expr("assert_true(k < 5)")
    )
    with pytest.raises(Exception):
        write_versioned(bad, path, mode="append")

    assert _manifest(path) == before, "failed job must not publish a version"
    segs = [d for d in os.listdir(path) if d.startswith("data-")]
    assert segs == ["data-0"], segs
    assert sorted(r["k"] for r in read_versioned(spark, path).collect()) == list(range(5))


# ---------------------------------------------------------------------------
# Streaming source (round 9): subscribe-to-a-table semantics
# ---------------------------------------------------------------------------


def test_stream_consumes_only_new_segments_on_restart(spark, tmp_path):
    """The Delta-streaming contract: a checkpointed stream that drained
    versions 0..1 must, after a new append, consume ONLY the new
    segment's rows on the next run."""
    from argodb_mapreduce_spark.sources.python_datasource import (
        FORMAT_NAME,
        register_datasource,
    )
    from argodb_mapreduce_spark.sources.versioned import versioned_write

    register_datasource(spark)
    path = str(tmp_path / "vt")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    versioned_write(spark.range(0, 10).withColumnRenamed("id", "k"), path, "append")
    versioned_write(spark.range(10, 25).withColumnRenamed("id", "k"), path, "append")

    def drain():
        s = spark.readStream.format(FORMAT_NAME).load(path)
        q = (
            s.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        import json as _json

        return sum(
            _json.loads(p.json).get("numInputRows", 0) for p in q.recentProgress
        )

    assert drain() == 25
    assert sorted(r.k for r in spark.read.parquet(out).collect()) == list(range(25))
    versioned_write(spark.range(100, 103).withColumnRenamed("id", "k"), path, "append")
    # SAME checkpoint: the second run inputs ONLY the new segment's rows
    assert drain() == 3
    assert sorted(r.k for r in spark.read.parquet(out).collect()) == list(range(25)) + [100, 101, 102]


def test_stream_rejects_non_append_history(spark, tmp_path):
    """Overwrite removes segments from the manifest — the stream must
    fail loud instead of silently skipping or re-reading data."""
    import pytest as _pytest

    from argodb_mapreduce_spark.sources.python_datasource import (
        FORMAT_NAME,
        register_datasource,
    )
    from argodb_mapreduce_spark.sources.versioned import versioned_write

    register_datasource(spark)
    path = str(tmp_path / "vt")
    versioned_write(spark.range(0, 10).withColumnRenamed("id", "k"), path, "append")
    versioned_write(spark.range(50, 53).withColumnRenamed("id", "k"), path, "overwrite")
    s = spark.readStream.format(FORMAT_NAME).load(path)
    q = (
        s.writeStream.format("memory")
        .queryName("vs_reject")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    with _pytest.raises(Exception, match="non-append change"):
        q.awaitTermination()


def test_prune_option_skips_files_and_stays_exact(spark, sf_dir):
    """The `prune` load option drops provably-unmatched files at plan
    time; the row-level residual keeps results exact; and an unpruned
    relation read AFTERWARD still sees every row (load options are
    per-relation — the leak the 4.1 pushFilters hook has is structurally
    impossible here)."""
    import datetime as dt

    from argodb_mapreduce_spark.sources.python_datasource import read_versioned
    from argodb_mapreduce_spark.sources.versioned import (
        _PRUNE_HI,
        _PRUNE_LO,
        _build_pruned_fixture,
        snapshot_read,
    )

    path = _build_pruned_fixture(spark, sf_dir)
    preds = [
        ("o_orderdate", ">=", dt.datetime.fromisoformat(_PRUNE_LO)),
        ("o_orderdate", "<", dt.datetime.fromisoformat(_PRUNE_HI)),
    ]
    full = read_versioned(spark, path)
    pruned = read_versioned(spark, path, predicates=preds)
    assert pruned.rdd.getNumPartitions() < full.rdd.getNumPartitions()
    expected = snapshot_read(spark, path, predicates=preds).count()
    assert pruned.count() == expected
    # The unpruned relation is untouched by the pruned one's planning —
    # in either interleaving order.
    assert full.count() == snapshot_read(spark, path).count()
    assert read_versioned(spark, path).count() == snapshot_read(spark, path).count()


def test_prune_option_conservative_on_statless_column(spark, sf_dir, tmp_path):
    """Predicates on a column without manifest stats must keep every
    file (conservative) and still return exact rows via the residual."""
    from argodb_mapreduce_spark.sources.python_datasource import read_versioned
    from argodb_mapreduce_spark.sources.versioned import versioned_write

    out = str(tmp_path / "pyds_statless")
    o = load_table(spark, sf_dir, "orders")
    versioned_write(o, out)
    # Strip one column's stats from the manifest to simulate a legacy
    # or unstatable column.
    from argodb_mapreduce_spark.sources.manifest_log import read_entries, rewrite

    entries = read_entries(out)
    for seg_stats in entries[-1].get("stats", {}).values():
        seg_stats.pop("o_totalprice", None)
    rewrite(out, entries)
    preds = [("o_totalprice", ">", 1e18)]  # provably empty, but no stats
    pruned = read_versioned(spark, out, predicates=preds)
    assert pruned.rdd.getNumPartitions() == read_versioned(spark, out).rdd.getNumPartitions()
    assert pruned.count() == 0  # residual filter still exact


def test_cdf_stream_incremental_and_option_conflict(spark, sf_dir, tmp_path):
    """A checkpointed CDF stream consumes history once, then a second
    run sees ONLY the new DV delta (no re-delivered inserts, no
    re-delivered old deletes); readChangeFeed + ignoreDeletes raise."""
    import pytest as _pytest

    from argodb_mapreduce_spark.sources.python_datasource import (
        FORMAT_NAME,
        register_datasource,
    )
    from argodb_mapreduce_spark.sources.versioned import delete_where, versioned_write

    register_datasource(spark)
    out = str(tmp_path / "cdf_stream")
    o = load_table(spark, sf_dir, "orders")
    versioned_write(o.filter(F.col("o_orderkey") % 2 == 0), out)
    n_f = delete_where(spark, out, [("o_orderstatus", "=", "F")])[1]
    ckpt = str(tmp_path / "ckpt")

    sink_dir = str(tmp_path / "cdf_sink")

    def drain(run):
        s = spark.readStream.format(FORMAT_NAME).option("readChangeFeed", "true").load(out)
        q = (
            s.writeStream.format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r._change_type, r._commit_version): r.n
            for r in spark.read.parquet(sink_dir)
            .groupBy("_change_type", "_commit_version")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    first = drain(1)
    n_even = o.filter(F.col("o_orderkey") % 2 == 0).count()
    assert first[("insert", 0)] == n_even
    assert first[("delete", 1)] == n_f
    # Second delta only: another DV delete; the continuation stream
    # must deliver exactly its rows.
    _, n_p = delete_where(spark, out, [("o_totalprice", ">=", 300000.0)])
    second = drain(2)
    # Cumulative sink: first-run rows unchanged, plus ONLY the new delta.
    expected = dict(first)
    if n_p:
        expected[("delete", 2)] = n_p
    assert second == expected, (second, expected)
    with _pytest.raises(Exception, match="contradictory"):
        (
            spark.readStream.format(FORMAT_NAME)
            .option("readChangeFeed", "true")
            .option("ignoreDeletes", "true")
            .load(out)
            .writeStream.format("memory")
            .queryName("cdf_bad")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


def test_batch_reader_applies_deletion_vector(spark, sf_dir, tmp_path):
    """read_versioned must hide the same tombstoned rows snapshot_read
    hides (merge-on-read parity in the custom source)."""
    from argodb_mapreduce_spark.sources.versioned import (
        delete_where,
        snapshot_read,
        versioned_write,
    )

    out = str(tmp_path / "pyds_dv")
    o = load_table(spark, sf_dir, "orders")
    versioned_write(o.filter(F.col("o_orderkey") % 2 == 0), out)
    versioned_write(o.filter(F.col("o_orderkey") % 2 == 1), out)
    _, n_del = delete_where(spark, out, [("o_orderstatus", "=", "F")])
    assert n_del > 0
    got = read_versioned(spark, out)
    assert got.count() == o.count() - n_del
    assert got.filter(F.col("o_orderstatus") == "F").count() == 0
    # Pre-delete version still returns everything.
    assert read_versioned(spark, out, version=1).count() == o.count()
    # Pruned + DV-aware read composes.
    pruned = read_versioned(spark, out, predicates=[("o_orderkey", "<", 500)])
    assert pruned.count() == snapshot_read(
        spark, out, predicates=[("o_orderkey", "<", 500)]
    ).count()


def test_pyds_writer_commit_manifest_parity(spark, sf_dir, tmp_path):
    """The Arrow writer's commit carries the DV forward on append,
    stamps ts, and records the schema ledger — so deleted rows stay
    deleted, AS OF TIMESTAMP keeps resolving, and the stream source
    does not see a spurious DV change on a plain append."""
    import json

    from argodb_mapreduce_spark.sources.python_datasource import write_versioned
    from argodb_mapreduce_spark.sources.versioned import (
        _read_manifest,
        delete_where,
        snapshot_read,
        versioned_write,
        version_at_timestamp,
    )

    out = str(tmp_path / "pyds_commit")
    o = load_table(spark, sf_dir, "orders")
    versioned_write(
        o.filter(F.col("o_orderkey") % 2 == 0), out, bloom_columns=["o_custkey"]
    )
    _, n_del = delete_where(spark, out, [("o_orderstatus", "=", "F")])
    extra = o.filter(F.col("o_orderkey") % 2 == 1)
    write_versioned(extra, out, mode="append")
    head = _read_manifest(out)[-1]
    assert head.get("dv"), "append must carry the DV forward"
    assert head.get("ts") is not None
    assert any(seg in head.get("schemas", {}) for seg in head["segments"])
    # The earlier segments keep their blooms, and the commit records
    # what it wrote.
    assert set(head["segments"][:-1]) <= set(head.get("bloom", {}))
    assert head["metrics"]["num_rows"] == extra.count()
    # Deleted rows stay hidden through the pyds-written head.
    assert snapshot_read(spark, out).count() == o.count() - n_del
    # AS OF the head's ts resolves to the head, not past it.
    assert version_at_timestamp(out, head["ts"]) == head["version"]


def test_pyds_type_conflict_append_is_refused(spark, tmp_path):
    """A pyds append that changes a column's type is refused by the same
    schema enforcement as versioned_write, so the head stays readable."""
    import pytest as _pytest

    from argodb_mapreduce_spark.sources.python_datasource import write_versioned

    out = str(tmp_path / "pyds_types")
    versioned_write(spark.range(5).withColumnRenamed("id", "k"), out)
    bad = spark.range(5, 8).select(F.col("id").cast("string").alias("k"))
    with _pytest.raises(Exception, match="schema enforcement"):
        write_versioned(bad, out, mode="append")
    assert sorted(r["k"] for r in snapshot_read(spark, out).collect()) == list(range(5))


def test_key_rotation_records_no_write_metrics(spark, tmp_path):
    """A rotation is a metadata-only commit: it must not carry the
    head's write metrics (which pyds appends record) as its own."""
    import base64

    from argodb_mapreduce_spark.sources.python_datasource import (
        FORMAT_NAME,
        register_datasource,
    )
    from argodb_mapreduce_spark.sources.versioned import (
        _read_manifest,
        rotate_encryption_key,
    )

    register_datasource(spark)
    key = base64.b64encode(bytes(range(32))).decode()
    out = str(tmp_path / "pyds_rotate")
    spark.range(5).withColumnRenamed("id", "k").write.format(FORMAT_NAME).option(
        "encryptionKey", key
    ).mode("append").save(out)
    assert _read_manifest(out)[-1]["metrics"]["num_rows"] == 5
    rotate_encryption_key(out, key, base64.b64encode(bytes(range(1, 33))).decode())
    assert "metrics" not in _read_manifest(out)[-1]


def test_stream_raises_on_vacuumed_offset(spark, sf_dir, tmp_path):
    """A checkpointed offset older than the manifest's retained history
    must fail loud, not silently re-ingest."""
    import pytest as _pytest

    from argodb_mapreduce_spark.sources.python_datasource import (
        FORMAT_NAME,
        register_datasource,
    )
    from argodb_mapreduce_spark.sources.versioned import vacuum, versioned_write

    register_datasource(spark)
    out = str(tmp_path / "pyds_vac_stream")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    o = load_table(spark, sf_dir, "orders")
    versioned_write(o.limit(20), out)

    def drain():
        q = (
            spark.readStream.format(FORMAT_NAME)
            .load(out)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()  # consumes v0, checkpoint at version 0
    versioned_write(o.limit(5), out, mode="overwrite")  # v1
    versioned_write(o.limit(5), out, mode="overwrite")  # v2
    vacuum(out, keep_versions=1)  # only v2 retained; offset v0 expired
    with _pytest.raises(Exception, match="no longer in the manifest"):
        drain()


def test_batch_read_change_feed_option_refused(spark, sf_dir, tmp_path):
    import pytest as _pytest

    from argodb_mapreduce_spark.sources.python_datasource import (
        FORMAT_NAME,
        register_datasource,
    )
    from argodb_mapreduce_spark.sources.versioned import versioned_write

    register_datasource(spark)
    out = str(tmp_path / "pyds_cdf_batch")
    versioned_write(load_table(spark, sf_dir, "orders").limit(10), out)
    with _pytest.raises(Exception, match="STREAMING option"):
        (
            spark.read.format(FORMAT_NAME)
            .option("readChangeFeed", "true")
            .load(out)
            .count()
        )


def test_prune_malformed_literal_keeps_files(spark, sf_dir, tmp_path):
    """A literal that cannot coerce against the stat type must keep the
    file conservatively (and the residual filter still applies)."""
    import json

    from argodb_mapreduce_spark.sources.python_datasource import (
        FORMAT_NAME,
        register_datasource,
    )
    from argodb_mapreduce_spark.sources.versioned import versioned_write

    register_datasource(spark)
    out = str(tmp_path / "pyds_badlit")
    versioned_write(load_table(spark, sf_dir, "orders").limit(50), out)
    df = (
        spark.read.format(FORMAT_NAME)
        .option("prune", json.dumps([["o_orderdate", "=", "not-a-date"]]))
        .load(out)
    )
    assert df.rdd.getNumPartitions() >= 1  # planning did not crash
    assert df.count() == 50  # prune kept everything; no residual applied here


def test_pyds_reads_schema_evolved_flat_table(spark, tmp_path):
    """r11: an ADD-column append makes per-segment schemas diverge; the
    pyds plan schema takes the ledger union (typed JVM-free) and
    pre-evolution files NULL-backfill — equal to the native read.
    Previously this crashed executor-side on the batch/plan mismatch."""
    from pyspark.sql import functions as F

    from argodb_mapreduce_spark.sources.python_datasource import read_versioned
    from argodb_mapreduce_spark.sources.versioned import snapshot_read, versioned_write

    path = str(tmp_path / "pyds_evolved")
    versioned_write(spark.range(5).select(F.col("id").alias("a")), path)
    versioned_write(
        spark.range(5, 10).select(
            F.col("id").alias("a"),
            (F.col("id") * 2).alias("b"),
            F.lit("x").alias("c"),
        ),
        path,
        mode="append",
    )
    native = snapshot_read(spark, path)
    got = read_versioned(spark, path)
    assert got.columns == ["a", "b", "c"]
    assert got.count() == 10
    assert got.filter("b IS NULL").count() == native.filter("b IS NULL").count() == 5
    assert got.exceptAll(native.select(got.columns)).count() == 0


def test_pyds_writer_partition_by(spark, tmp_path):
    """r11: the Arrow writer lays a segment out Hive-style via the
    partitionBy write option — NULL sentinel, manifest partition
    ledger + partition-column stats — and both readers see an ordinary
    partitioned segment."""
    import glob
    import os

    from pyspark.sql import functions as F

    from argodb_mapreduce_spark.sources.python_datasource import (
        FORMAT_NAME,
        read_versioned,
        register_datasource,
    )
    from argodb_mapreduce_spark.sources.versioned import (
        _read_manifest,
        snapshot_read,
    )

    register_datasource(spark)
    path = str(tmp_path / "pyds_pw")
    df = spark.range(40).select(
        F.col("id").alias("v"),
        F.when(F.col("id") % 5 == 0, None)
        .otherwise((F.col("id") % 4).cast("int"))
        .alias("k"),
    )
    df.write.format(FORMAT_NAME).option("partitionBy", "k").mode("append").save(path)
    assert glob.glob(os.path.join(path, "data-0", "k=*", "*.parquet"))
    assert os.path.isdir(os.path.join(path, "data-0", "k=__HIVE_DEFAULT_PARTITION__"))
    entry = _read_manifest(path)[0]
    assert entry["partition_by"] == {"data-0": ["k"]}
    assert entry["stats"]["data-0"]["k"] == [0, 3]  # non-null dir min/max
    assert entry["schemas"]["data-0"]["k"] == "int"
    native = snapshot_read(spark, path)
    pyds = read_versioned(spark, path)
    assert native.count() == pyds.count() == 40
    assert native.filter("k IS NULL").count() == pyds.filter("k IS NULL").count() == 8
    assert pyds.exceptAll(native.select(pyds.columns)).count() == 0


def test_pyds_flat_append_keeps_partition_ledger(spark, tmp_path):
    """r11 fix: a flat pyds append onto a partitioned table previously
    DROPPED the partition ledger, making partitioned segments read as
    flat; the ledger now carries for reused segments."""
    from pyspark.sql import functions as F

    from argodb_mapreduce_spark.sources.python_datasource import (
        FORMAT_NAME,
        read_versioned,
        register_datasource,
    )
    from argodb_mapreduce_spark.sources.versioned import (
        _read_manifest,
        snapshot_read,
        versioned_write,
    )

    register_datasource(spark)
    path = str(tmp_path / "pyds_ledger")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("v"), (F.col("id") % 4).cast("int").alias("k")
    )
    versioned_write(mk(0, 40), path, partition_by=("k",))
    mk(40, 50).write.format(FORMAT_NAME).mode("append").save(path)
    entry = _read_manifest(path)[-1]
    assert entry["partition_by"] == {"data-0": ["k"]}  # carried
    assert snapshot_read(spark, path).count() == 50
    assert read_versioned(spark, path).count() == 50


def test_pyds_writer_rejects_bad_partition_column(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    from argodb_mapreduce_spark.sources.python_datasource import (
        FORMAT_NAME,
        register_datasource,
    )

    register_datasource(spark)
    df = spark.range(5).select(F.col("id").alias("v"))
    with pytest.raises(Exception, match="not in the write schema"):
        df.write.format(FORMAT_NAME).option("partitionBy", "nope").mode(
            "append"
        ).save(str(tmp_path / "pyds_badcol"))


def test_pyds_writer_non_ascii_partition_value_matches_native(spark, tmp_path):
    """r11 review fix: non-ASCII partition values stay LITERAL in the
    directory name (Spark's escapePathName convention) so the native
    reader and the pyds reader agree on the decoded value."""
    import glob
    import os

    from pyspark.sql import functions as F

    from argodb_mapreduce_spark.sources.python_datasource import (
        FORMAT_NAME,
        read_versioned,
        register_datasource,
    )
    from argodb_mapreduce_spark.sources.versioned import snapshot_read

    register_datasource(spark)
    path = str(tmp_path / "pyds_nonascii")
    df = spark.range(10).select(
        F.col("id").alias("v"),
        F.when(F.col("id") % 2 == 0, "café").otherwise("a/b:c").alias("k"),
    )
    df.write.format(FORMAT_NAME).option("partitionBy", "k").mode("append").save(path)
    dirs = sorted(
        os.path.basename(d) for d in glob.glob(os.path.join(path, "data-0", "k=*"))
    )
    assert "k=café" in dirs  # literal non-ASCII
    assert "k=a%2Fb%3Ac" in dirs  # path-hostile chars escaped
    native = sorted(r.k for r in snapshot_read(spark, path).select("k").distinct().collect())
    pyds = sorted(r.k for r in read_versioned(spark, path).select("k").distinct().collect())
    assert native == pyds == ["a/b:c", "café"]


def test_pyds_reads_evolution_added_nested_decimal(spark, tmp_path):
    """r11 review fix: a ledger type with parens nested in struct<>
    (decimal inside struct) parses through the JVM-free type mapper —
    the evolved pyds read NULL-backfills it for pre-evolution files."""
    from pyspark.sql import functions as F

    from argodb_mapreduce_spark.sources.python_datasource import read_versioned
    from argodb_mapreduce_spark.sources.versioned import versioned_write

    path = str(tmp_path / "pyds_nested_dec")
    versioned_write(spark.range(5).select(F.col("id").alias("a")), path)
    versioned_write(
        spark.range(5, 10).select(
            F.col("id").alias("a"),
            F.struct(
                F.col("id").cast("decimal(12,2)").alias("amount"),
                F.lit("USD").alias("ccy"),
            ).alias("price"),
        ),
        path,
        mode="append",
    )
    got = read_versioned(spark, path)
    assert dict(got.dtypes)["price"] == "struct<amount:decimal(12,2),ccy:string>"
    assert got.count() == 10
    assert got.filter("price IS NULL").count() == 5
    assert got.filter("price.amount IS NOT NULL").count() == 5


def test_stream_prune_option_skips_partition_branches(spark, tmp_path):
    """r11: the prune load option reaches the STREAM reader — a
    selective subscriber on a partitioned table consumes only the
    matching branch's files (file-precise, conservative); combining
    with readChangeFeed is refused."""
    import json

    from pyspark.sql import functions as F

    from argodb_mapreduce_spark.sources.python_datasource import (
        FORMAT_NAME,
        register_datasource,
    )
    from argodb_mapreduce_spark.sources.versioned import versioned_write

    register_datasource(spark)
    path = str(tmp_path / "pyds_stream_prune")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("v"), (F.col("id") % 4).cast("int").alias("k")
    )
    versioned_write(mk(0, 40), path, partition_by=("k",))
    versioned_write(mk(40, 80), path, partition_by=("k",))
    s = (
        spark.readStream.format(FORMAT_NAME)
        .option("prune", json.dumps([["k", "=", 2]]))
        .load(path)
    )
    q = (
        s.groupBy("k")
        .count()
        .writeStream.format("memory")
        .queryName("pruned_tail")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r.k: r["count"] for r in spark.table("pruned_tail").collect()}
    assert rows == {2: 20}  # only the k=2 branch was ever planned
    import pytest
    from pyspark.errors import StreamingQueryException

    q2 = (
        spark.readStream.format(FORMAT_NAME)
        .option("prune", json.dumps([["k", "=", 2]]))
        .option("readChangeFeed", "true")
        .load(path)
        .writeStream.format("memory")
        .queryName("never")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="readChangeFeed"):
        q2.awaitTermination()


# ---------------------------------------------------------------------------
# Row-group skipping (within-file data skipping below the manifest level)
# ---------------------------------------------------------------------------


def _multi_rowgroup_table(spark, tmp_path, n=40000):
    """One segment, one file, many row groups (64 KiB blocks), sorted
    by k so group key ranges are tight."""
    path = str(tmp_path / "rg_vt")
    df = (
        spark.range(n)
        .select(F.col("id").alias("k"), (F.col("id") * 7).alias("v"))
        .orderBy("k")
        .coalesce(1)
    )
    hc = spark.sparkContext._jsc.hadoopConfiguration()
    old = hc.get("parquet.block.size")
    hc.set("parquet.block.size", str(32 * 1024))
    try:
        versioned_write(df, path)
    finally:
        hc.unset("parquet.block.size") if old is None else hc.set(
            "parquet.block.size", old
        )
    return path


def test_rowgroup_skip_equals_unpruned_filter(spark, tmp_path):
    import glob
    import os as _o

    import pyarrow.parquet as pq

    from argodb_mapreduce_spark.sources.python_datasource import (
        make_versioned_datasource,
        read_versioned,
    )

    path = _multi_rowgroup_table(spark, tmp_path)
    fp = glob.glob(_o.path.join(path, "data-0", "*.parquet"))[0]
    pf = pq.ParquetFile(fp)
    assert pf.metadata.num_row_groups > 3  # fixture really multi-group
    preds = [("k", ">=", 100), ("k", "<", 400)]
    hooks = make_versioned_datasource()._test_hooks
    kept, offs = hooks["select_row_groups"](pf, preds)
    assert 0 < len(kept) < pf.metadata.num_row_groups  # groups skipped
    got = sorted(r.k for r in read_versioned(spark, path, predicates=preds).collect())
    assert got == list(range(100, 400))


def test_rowgroup_skip_dv_masking_offsets_stay_global(spark, tmp_path):
    """Deletion-vector positions are file-global; skipping row groups
    must not shift them (regression guard for the offset bookkeeping)."""
    from argodb_mapreduce_spark.sources.python_datasource import read_versioned
    from argodb_mapreduce_spark.sources.versioned import delete_where

    path = _multi_rowgroup_table(spark, tmp_path)
    # tombstone a slice that lives INSIDE the predicate's kept groups
    delete_where(spark, path, [("k", ">=", 200), ("k", "<", 210)])
    preds = [("k", ">=", 100), ("k", "<", 400)]
    got = sorted(r.k for r in read_versioned(spark, path, predicates=preds).collect())
    want = [k for k in range(100, 400) if not (200 <= k < 210)]
    assert got == want
    # and the unpredicated read agrees with the native path
    n_pyds = read_versioned(spark, path).count()
    n_native = snapshot_read(spark, path).count()
    assert n_pyds == n_native == 40000 - 10


def test_rowgroup_selection_conservative_without_stats(spark, tmp_path):
    """A predicate on a column with no stats entry keeps every group."""
    import glob
    import os as _o

    import pyarrow.parquet as pq

    from argodb_mapreduce_spark.sources.python_datasource import (
        make_versioned_datasource,
    )

    path = _multi_rowgroup_table(spark, tmp_path, n=1000)
    fp = glob.glob(_o.path.join(path, "data-0", "*.parquet"))[0]
    pf = pq.ParquetFile(fp)
    hooks = make_versioned_datasource()._test_hooks
    kept, offs = hooks["select_row_groups"](pf, [("nonexistent", "=", 1)])
    assert kept == list(range(pf.metadata.num_row_groups))
    assert offs[0] == 0 and len(offs) == len(kept)
