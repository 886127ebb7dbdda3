"""Change data feed through UPDATE / MERGE (Delta CDF row types).

Covers the r11b surface: enable_change_data_feed table property, the
cdc-{version} sidecars UPDATE/MERGE record at commit time, change_feed
consumption of them, vacuum lifecycle of sidecars, clone property
inheritance, and MV maintenance through update legs.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter

import pytest
from pyspark.sql import functions as F

from argodb_mapreduce_spark.sources.versioned import (
    _read_manifest,
    _read_properties,
    _write_manifest,
    add_constraint,
    change_feed,
    clone_table,
    compact,
    delete_keys,
    delete_where,
    enable_change_data_feed,
    merge_upsert,
    set_table_property,
    snapshot_read,
    update_where,
    vacuum,
    versioned_write,
)
from tests.conftest import jobs_of


def _base(spark, tmp_path, n=60):
    p = str(tmp_path / "t")
    df = spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("g"),
        (F.col("id") * 10).cast("long").alias("v"),
    )
    versioned_write(df, p, mode="append")
    return p


def test_properties_roundtrip_and_enable(spark, tmp_path):
    p = _base(spark, tmp_path)
    assert _read_properties(p) == {}
    set_table_property(p, "owner", "pipeline-a")
    enable_change_data_feed(p)
    props = _read_properties(p)
    assert props["owner"] == "pipeline-a"
    assert props["enableChangeDataFeed"] is True


def test_update_records_cdc_sidecar_and_feed_reads_it(spark, tmp_path):
    p = _base(spark, tmp_path)
    enable_change_data_feed(p)
    s = update_where(spark, p, [("k", "<", 10)], {"v": F.col("v") + 1})
    assert s["rows_updated"] == 10
    entry = _read_manifest(p)[-1]
    assert entry["cdc"] == "cdc-1"
    assert os.path.isdir(os.path.join(p, "cdc-1"))
    feed = change_feed(spark, p, 0, 1)
    legs = {
        r["_change_type"]: (r["n"], r["sv"])
        for r in feed.groupBy("_change_type")
        .agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
        .collect()
    }
    # pre: v = 0..90 sum 450; post: each +1 -> 460
    assert legs == {"update_preimage": (10, 450), "update_postimage": (10, 460)}


def test_update_without_cdf_synthesizes_file_level_legs(spark, tmp_path):
    """r14 (VERDICT r13 ask): an UPDATE with no CDC sidecar no longer
    kills the feed — the rewritten-segment diff synthesizes file-level
    delete+insert legs (Delta RESTORE's granularity). One segment of 60
    rows rewritten: 60 deletes (pre-update rows) + 60 inserts
    (post-update rows); signed aggregation nets to exactly the update's
    delta."""
    p = _base(spark, tmp_path)
    update_where(spark, p, [("k", "<", 10)], {"v": F.col("v") + 1})
    assert "cdc" not in _read_manifest(p)[-1]
    feed = change_feed(spark, p, 0, 1)
    legs = {
        r["_change_type"]: (r["n"], r["sv"])
        for r in feed.groupBy("_change_type")
        .agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
        .collect()
    }
    pre_sum = sum(k * 10 for k in range(60))
    assert legs["delete"] == (60, pre_sum)
    assert legs["insert"] == (60, pre_sum + 10)  # 10 rows got v+1
    # signed net == row-level delta
    assert legs["insert"][1] - legs["delete"][1] == 10


def test_merge_records_all_three_leg_types(spark, tmp_path):
    p = _base(spark, tmp_path, n=50)
    enable_change_data_feed(p)
    src = spark.range(45, 55).select(
        F.col("id").alias("k"),
        F.lit(9).cast("long").alias("g"),
        F.lit(-1).cast("long").alias("v"),
    )
    merge_upsert(spark, p, src, "k")
    feed = change_feed(spark, p, 0, 1)
    legs = {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    # keys 45-49 exist (update), 50-54 are new (insert)
    assert legs == {
        "update_preimage": 5,
        "update_postimage": 5,
        "insert": 5,
    }
    pre_keys = sorted(
        r.k for r in feed.filter(F.col("_change_type") == "update_preimage").collect()
    )
    ins_keys = sorted(
        r.k for r in feed.filter(F.col("_change_type") == "insert").collect()
    )
    assert pre_keys == [45, 46, 47, 48, 49]
    assert ins_keys == [50, 51, 52, 53, 54]


def test_merge_with_no_matches_needs_no_sidecar(spark, tmp_path):
    p = _base(spark, tmp_path, n=10)
    enable_change_data_feed(p)
    src = spark.range(100, 105).select(
        F.col("id").alias("k"),
        F.lit(0).cast("long").alias("g"),
        F.lit(0).cast("long").alias("v"),
    )
    merge_upsert(spark, p, src, "k")
    entry = _read_manifest(p)[-1]
    # pure-append-shaped commit: manifest-derivable, no sidecar written
    assert "cdc" not in entry
    feed = change_feed(spark, p, 0, 1)
    assert feed.filter(F.col("_change_type") == "insert").count() == 5


def test_feed_spans_append_update_delete_mix(spark, tmp_path):
    p = _base(spark, tmp_path, n=30)
    enable_change_data_feed(p)
    extra = spark.range(30, 40).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("g"),
        (F.col("id") * 10).cast("long").alias("v"),
    )
    versioned_write(extra, p, mode="append")  # v1: inserts
    update_where(spark, p, [("k", ">=", 35)], {"v": F.lit(0).cast("long")})  # v2
    delete_where(spark, p, [("k", "<", 3)])  # v3: DV deletes
    feed = change_feed(spark, p, 0, 3)
    legs = {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    assert legs == {
        "insert": 10,
        "update_preimage": 5,
        "update_postimage": 5,
        "delete": 3,
    }
    # replaying the signed feed over v0 reproduces the v3 state exactly
    v0 = snapshot_read(spark, p, 0)
    adds = feed.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).drop("_change_type")
    removes = feed.filter(
        F.col("_change_type").isin("delete", "update_preimage")
    ).drop("_change_type")
    replayed = v0.unionByName(adds).exceptAll(removes)
    live = snapshot_read(spark, p, 3)
    assert replayed.exceptAll(live).count() == 0
    assert live.exceptAll(replayed).count() == 0


def _rows(feed):
    return sorted(tuple(r) for r in feed.collect())


def test_change_feed_reads_older_entries_without_cdc_schema(spark, tmp_path):
    """UPDATE and MERGE record their sidecar's schema on the commit entry
    (``cdc_schema``, the ledger's ``{column: simpleString}`` form) and
    the feed reads the sidecar with it; an older entry without the field
    still reads, by inference, to the same rows and columns."""
    p = _base(spark, tmp_path, n=40)
    enable_change_data_feed(p)
    update_where(spark, p, [("k", "<", 10)], {"v": F.col("v") + 1})  # v1
    src = spark.range(35, 45).select(
        F.col("id").alias("k"),
        F.lit(7).cast("long").alias("g"),
        F.lit(-1).cast("long").alias("v"),
    )
    merge_upsert(spark, p, src, "k")  # v2
    entries = _read_manifest(p)
    want_schema = {"k": "bigint", "g": "bigint", "v": "bigint", "_change_type": "string"}
    assert [e.get("cdc_schema") for e in entries] == [None, want_schema, want_schema]
    feed = change_feed(spark, p, 0, 2)
    columns, rows = feed.schema, _rows(feed)
    assert len(rows) == 10 + 10 + 5 + 5 + 5  # update pre/post, merge pre/post/insert
    for e in entries:
        e.pop("cdc_schema", None)
    _write_manifest(p, entries)
    assert all("cdc_schema" not in e for e in _read_manifest(p))
    older = change_feed(spark, p, 0, 2)
    assert older.schema == columns
    assert _rows(older) == rows


def test_dml_iteration_job_budget(spark, tmp_path):
    """Spark-job budget of one DML iteration on a CDF table with a
    pending deletion vector — the shape of the benchmark's ``lake_dml``
    pass. Metadata the store already holds costs no job: MERGE takes
    its touched files and matched keys from one collect, the change
    feed reads CDC sidecars and DV-probed files with recorded schemas,
    and a DV this small is read on the driver and masked in the scan's
    own filter, so no read through it broadcasts. A verb that starts
    launching a job more fails here."""
    schema = "k long, g long, v long"

    def rows(keys):
        return spark.createDataFrame([(k, k % 3, k * 10) for k in keys], schema)

    p = _base(spark, tmp_path, n=300)
    enable_change_data_feed(p)
    start = _read_manifest(p)[-1]["version"]
    append_df = rows(range(300, 320))
    delete_df = spark.createDataFrame([(5,), (17,), (33,)], "k long")
    merge_keys = [*range(100, 110), *range(320, 330)]
    merge_df = rows(merge_keys).withColumn("v", F.lit(-1).cast("long"))
    window = [("k", ">=", 200), ("k", "<", 240)]
    verbs = {
        "append": lambda: versioned_write(append_df, p, mode="append"),
        "delete_keys": lambda: delete_keys(spark, p, delete_df, "k"),
        "update_where": lambda: update_where(spark, p, window, {"v": F.col("v") + 1}),
        "merge_upsert": lambda: merge_upsert(spark, p, merge_df, "k"),
        "snapshot_read_point": lambda: snapshot_read(
            spark, p, predicates=[("k", "=", 150)]
        ).collect(),
        "snapshot_read_full": lambda: snapshot_read(spark, p)
        .agg(F.count("*"), F.sum("k"))
        .collect(),
    }
    jobs = {verb: jobs_of(spark, run)[1] for verb, run in verbs.items()}
    assert _read_manifest(p)[-1]["dv"]  # the reads went through a DV
    head = _read_manifest(p)[-1]["version"]
    feed, jobs["change_feed"] = jobs_of(
        spark,
        lambda: _rows(change_feed(spark, p, start, head).select("_change_type", "k")),
    )
    _, jobs["compact"] = jobs_of(spark, lambda: compact(spark, p))
    assert jobs == {
        "append": 1,
        "delete_keys": 4,
        "update_where": 2,
        "merge_upsert": 7,
        "snapshot_read_point": 1,
        "snapshot_read_full": 2,
        "change_feed": 1,
        "compact": 1,
    }
    # The budget holds with the results unchanged.
    assert Counter(change for change, _k in feed) == {
        "insert": 20 + 10,
        "delete": 3,
        "update_preimage": 40 + 10,
        "update_postimage": 40 + 10,
    }
    model = {k: k * 10 for k in range(330)}
    for k in (5, 17, 33):
        del model[k]
    model.update({k: model[k] + 1 for k in range(200, 240)})
    model.update({k: -1 for k in merge_keys})
    table = snapshot_read(spark, p).select("k", "v").collect()
    assert sorted(tuple(r) for r in table) == sorted(model.items())


def test_vacuum_reclaims_expired_sidecar_keeps_retained(spark, tmp_path):
    p = _base(spark, tmp_path)
    enable_change_data_feed(p)
    update_where(spark, p, [("k", "<", 5)], {"v": F.lit(1).cast("long")})  # v1 cdc-1
    update_where(spark, p, [("k", "<", 3)], {"v": F.lit(2).cast("long")})  # v2 cdc-2
    res = vacuum(p, keep_versions=1)  # retains only v2
    assert "cdc-1" in res["segments_deleted"]  # v1 expired -> its sidecar too
    assert not os.path.isdir(os.path.join(p, "cdc-1"))
    # retained v2's sidecar survives on disk for feeds anchored at
    # retained versions
    assert os.path.isdir(os.path.join(p, "cdc-2"))
    with pytest.raises(ValueError, match="unknown versions"):
        change_feed(spark, p, 1, 2)  # v1 expired: feed horizon shrank


def test_constraint_failure_cleans_staged_sidecar(spark, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import (
        ConstraintViolation,
        add_constraint,
    )

    p = _base(spark, tmp_path)
    add_constraint(spark, p, "v_nonneg", "v >= 0")
    enable_change_data_feed(p)
    with pytest.raises(ConstraintViolation):
        update_where(spark, p, [("k", "<", 5)], {"v": F.lit(-1).cast("long")})
    leftovers = [d for d in os.listdir(p) if d.startswith(("_staged-", "cdc-"))]
    assert leftovers == []
    assert "cdc" not in _read_manifest(p)[-1]


def test_constraint_check_reads_back_without_inference(spark, tmp_path):
    """The CHECK read-back of a staged UPDATE / MERGE segment uses the
    written frame's schema: a constrained table pays the check's own
    count jobs and no footer schema-inference job on top."""
    src = spark.range(55, 65).select(
        F.col("id").alias("k"),
        F.lit(1).cast("long").alias("g"),
        F.lit(5).cast("long").alias("v"),
    )
    jobs = {}
    for name in ("plain", "constrained"):
        p = _base(spark, tmp_path / name)
        if name == "constrained":
            add_constraint(spark, p, "v_nonneg", "v >= 0")
        _, upd = jobs_of(
            spark, lambda: update_where(spark, p, [("k", "<", 5)], {"v": F.col("v") + 1})
        )
        _, mrg = jobs_of(spark, lambda: merge_upsert(spark, p, src, "k"))
        jobs[name] = (upd, mrg)
        assert snapshot_read(spark, p).filter("v = 5").count() == 10
    (upd, mrg), (c_upd, c_mrg) = jobs["plain"], jobs["constrained"]
    # The check itself is one count per constraint: a map stage and a
    # result stage, one job each.
    assert (c_upd - upd, c_mrg - mrg) == (2, 2)


def test_clone_inherits_properties_fresh_feed_history(spark, tmp_path):
    p = _base(spark, tmp_path)
    enable_change_data_feed(p)
    update_where(spark, p, [("k", "<", 5)], {"v": F.lit(1).cast("long")})
    dst = str(tmp_path / "clone")
    clone_table(p, dst)
    assert _read_properties(dst)["enableChangeDataFeed"] is True
    assert "cdc" not in _read_manifest(dst)[0]
    # the clone's own DML records sidecars
    update_where(spark, dst, [("k", "<", 2)], {"v": F.lit(7).cast("long")})
    assert _read_manifest(dst)[-1]["cdc"] == "cdc-1"
    assert change_feed(spark, dst, 0, 1).count() == 4


def test_mv_maintains_through_update_moving_groups(spark, tmp_path):
    from argodb_mapreduce_spark.operators.materialized_view import (
        mv_create,
        mv_refresh,
    )

    p = _base(spark, tmp_path, n=90)
    mv = str(tmp_path / "mv")
    enable_change_data_feed(p)
    mv_create(spark, p, mv, group_cols=["g"], sum_cols=["v"])
    # moves every k<30 row into a brand-new group 77 AND changes v
    update_where(
        spark, p, [("k", "<", 30)], {"g": F.lit(77).cast("long"), "v": F.col("v") + 1}
    )
    res = mv_refresh(spark, mv)
    assert res["mode"] == "incremental-cdf"
    got = snapshot_read(spark, mv)
    want = (
        snapshot_read(spark, p)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("v").cast("long").alias("sum_v"),
        )
    )
    assert got.exceptAll(want.select(*got.columns)).count() == 0
    assert want.select(*got.columns).exceptAll(got).count() == 0


def test_stream_cdf_spans_update_and_merge_commits(spark, tmp_path):
    from argodb_mapreduce_spark.sources.python_datasource import (
        FORMAT_NAME,
        register_datasource,
    )

    register_datasource(spark)
    p = _base(spark, tmp_path, n=40)
    enable_change_data_feed(p)
    update_where(spark, p, [("k", "<", 5)], {"v": F.col("v") + 1})  # v1 cdc
    delete_where(spark, p, [("k", ">=", 38)])  # v2 dv
    src = spark.range(39, 42).select(
        F.col("id").alias("k"),
        F.lit(9).cast("long").alias("g"),
        F.lit(-1).cast("long").alias("v"),
    )
    merge_upsert(spark, p, src, "k")  # v3 cdc (39 tombstoned -> all inserts)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        spark.readStream.format(FORMAT_NAME)
        .option("readChangeFeed", "true")
        .load(p)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    legs = {
        (r["_commit_version"], r["_change_type"]): r["n"]
        for r in spark.read.parquet(out)
        .groupBy("_commit_version", "_change_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert legs == {
        (0, "insert"): 40,
        (1, "update_preimage"): 5,
        (1, "update_postimage"): 5,
        (2, "delete"): 2,
        (3, "insert"): 3,
    }


def test_plain_stream_fails_loud_on_update_with_cdf_hint(spark, tmp_path):
    from argodb_mapreduce_spark.sources.python_datasource import (
        make_versioned_datasource,
    )

    p = _base(spark, tmp_path, n=20)
    enable_change_data_feed(p)
    update_where(spark, p, [("k", "<", 5)], {"v": F.col("v") + 1})
    ds_cls = make_versioned_datasource()
    ds = ds_cls({"path": p})
    r = ds.streamReader(ds.schema())
    with pytest.raises(ValueError, match="readChangeFeed"):
        r.partitions({"version": 0}, {"version": 1})


def test_partitioned_table_update_cdc_keeps_partition_types(spark, tmp_path):
    p = str(tmp_path / "pt")
    df = spark.range(0, 40).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("part"),
        (F.col("id") * 10).cast("long").alias("v"),
    )
    versioned_write(df, p, mode="append", partition_by=["part"])
    enable_change_data_feed(p)
    update_where(spark, p, [("k", "<", 6)], {"v": F.lit(0).cast("long")})
    feed = change_feed(spark, p, 0, 1)
    # partition column rides the sidecar as a real column with the
    # ledger's type (string), not a re-inferred int
    assert dict(feed.dtypes)["part"] == "string"
    pre = feed.filter(F.col("_change_type") == "update_preimage")
    assert sorted(r.part for r in pre.collect()) == ["0", "0", "0", "1", "1", "1"]


# ---------------------------------------------------------------------------
# Generated columns
# ---------------------------------------------------------------------------


def test_generated_column_fill_enforce_and_merge(spark, tmp_path):
    import os

    from argodb_mapreduce_spark.sources.versioned import (
        ConstraintViolation,
        add_generated_column,
        merge_upsert,
        snapshot_read,
    )

    p = str(tmp_path / "gc")
    os.makedirs(p)
    add_generated_column(spark, p, "v2", "v * 2")
    df = spark.range(0, 20).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    versioned_write(df, p)  # fill-in
    got = snapshot_read(spark, p)
    assert got.filter(F.col("v2") != F.col("v") * 2).count() == 0
    # MERGE source omitting the column fills in too
    src = spark.range(18, 25).select(F.col("id").alias("k"), F.lit(5).cast("long").alias("v"))
    merge_upsert(spark, p, src, "k")
    r = snapshot_read(spark, p)
    assert r.count() == 25
    assert r.filter(F.col("v2") != F.col("v") * 2).count() == 0
    # a wrong supplied value is refused on append AND on merge
    bad = spark.range(100, 101).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("v"),
        F.lit(999).cast("long").alias("v2"),
    )
    with pytest.raises(ConstraintViolation):
        versioned_write(bad, p, mode="append")
    with pytest.raises(ConstraintViolation):
        merge_upsert(spark, p, bad, "k")
    assert snapshot_read(spark, p).count() == 25  # nothing leaked


def test_generated_column_cannot_redefine(spark, tmp_path):
    import os

    from argodb_mapreduce_spark.sources.versioned import add_generated_column

    p = str(tmp_path / "gc2")
    os.makedirs(p)
    add_generated_column(spark, p, "y", "k + 1")
    with pytest.raises(ValueError, match="already defined"):
        add_generated_column(spark, p, "y", "k + 2")


def test_concurrent_property_writers_lose_nothing(spark, tmp_path):
    """set_table_property serializes its read-modify-write under the
    commit lock: N concurrent writers of distinct keys all survive."""
    import threading

    from argodb_mapreduce_spark.sources.versioned import (
        _read_properties,
        set_table_property,
    )

    p = str(tmp_path / "props")
    os.makedirs(p)
    errs = []

    def put(i):
        try:
            set_table_property(p, f"key{i}", i)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=put, args=(i,)) for i in range(8)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    props = _read_properties(p)
    assert {f"key{i}" for i in range(8)} <= set(props)


def test_zero_match_update_is_a_noop_commit_nothing(spark, tmp_path):
    """Stats may admit a segment no row of which matches: the UPDATE
    must publish NOTHING (a sidecar-less rewrite would poison the feed
    forever — review finding r11b)."""
    from argodb_mapreduce_spark.sources.versioned import versions

    p = _base(spark, tmp_path, n=20)  # keys 0..19
    enable_change_data_feed(p)
    # stats range [0,19] admits k=7, but filter v<0 matches no row
    s = update_where(spark, p, [("k", "=", 7), ("v", "<", 0)], {"v": F.lit(1).cast("long")})
    assert s == {
        "version": 0,
        "rows_updated": 0,
        "segments_rewritten": 0,
        "segments_total": 1,
    }
    assert versions(p) == [0]  # nothing published
    # the feed over later real changes still works
    update_where(spark, p, [("k", "<", 2)], {"v": F.lit(0).cast("long")})
    assert change_feed(spark, p, 0, 1).count() == 4


def test_nondeterministic_set_expr_feed_matches_table(spark, tmp_path):
    """The postimage sidecar IS the rewrite's source of truth: even a
    random SET value appears identically in the feed and the table."""
    p = _base(spark, tmp_path, n=30)
    enable_change_data_feed(p)
    update_where(
        spark, p, [("k", "<", 10)],
        {"v": (F.rand(seed=None) * 1e9).cast("long")},
    )
    post = (
        change_feed(spark, p, 0, 1)
        .filter(F.col("_change_type") == "update_postimage")
        .select("k", "v")
    )
    table = snapshot_read(spark, p).filter(F.col("k") < 10).select("k", "v")
    assert post.exceptAll(table).count() == 0
    assert table.exceptAll(post).count() == 0


def test_concurrent_generated_column_registrars_lose_nothing(spark, tmp_path):
    import threading

    from argodb_mapreduce_spark.sources.versioned import (
        _read_constraints,
        _read_properties,
        add_generated_column,
    )

    p = str(tmp_path / "gcr")
    os.makedirs(p)
    errs = []

    def put(i):
        try:
            add_generated_column(spark, p, f"g{i}", f"k + {i}")
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=put, args=(i,)) for i in range(6)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    gen = _read_properties(p)["generated"]
    cons = _read_constraints(p)
    assert {f"g{i}" for i in range(6)} == set(gen)
    assert {f"_generated_g{i}" for i in range(6)} <= set(cons)


# ---------------------------------------------------------------------------
# Property: the signed feed reconstructs the head over ANY legal history
# ---------------------------------------------------------------------------


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(0, 3)),
        st.tuples(st.just("update"), st.integers(0, 49)),
        st.tuples(st.just("delete"), st.integers(0, 49)),
        st.tuples(st.just("delete_keys"), st.integers(0, 49)),
        st.tuples(st.just("merge"), st.integers(0, 49)),
        st.tuples(st.just("compact"), st.just(0)),
        st.tuples(st.just("compact_binpack"), st.just(0)),
        st.tuples(st.just("zorder_rewrite"), st.integers(1, 3)),
    ),
    min_size=1,
    max_size=4,
)


@settings(max_examples=6, deadline=None)
@given(ops=_OPS)
def test_signed_feed_replay_reconstructs_head_for_any_history(ops):
    """For ANY sequence of appends / windowed UPDATEs / predicate and
    set-based DELETEs / MERGEs / rewrites (OPTIMIZE, bin-pack, ZORDER)
    on a CDF-enabled, bloom-tracked table, replaying the signed change
    feed over v0 must reproduce the head snapshot exactly — the
    invariant every CDC consumer (MV, replica, index) relies on — and
    the head must equal a pure-Python row model of the ops. The model is
    a row list, not a ``{k: v}`` dict: a MERGE whose window runs past the
    largest key repeats a fresh key in its source, and both unmatched
    source rows are inserted."""
    import uuid

    from argodb_mapreduce_spark.sources.versioned import (
        compact,
        compact_binpack,
        delete_keys,
        zorder_rewrite,
    )

    spark = spark_ref["spark"]
    p = os.path.join(tmp_ref["dir"], f"h{uuid.uuid4().hex[:8]}")
    df = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 10).cast("long").alias("v")
    )
    # Bloom-tracked: every rewrite must carry the untouched segments'
    # blooms forward and rebuild them for the new segments.
    versioned_write(df, p, bloom_columns=["k"])
    enable_change_data_feed(p)
    model = [(k, k * 10) for k in range(50)]
    nxt = [50]
    for kind, arg in ops:
        if kind == "append":
            a = nxt[0]
            versioned_write(
                spark.range(a, a + 5 + arg).select(
                    F.col("id").alias("k"), (F.col("id") * 10).cast("long").alias("v")
                ),
                p,
                mode="append",
            )
            model += [(k, k * 10) for k in range(a, a + 5 + arg)]
            nxt[0] = a + 5 + arg
        elif kind == "update":
            update_where(
                spark, p, [("k", ">=", arg), ("k", "<", arg + 7)],
                {"v": F.col("v") + 1},
            )
            model = [(k, v + 1 if arg <= k < arg + 7 else v) for k, v in model]
        elif kind == "delete":
            delete_where(spark, p, [("k", ">=", arg), ("k", "<", arg + 3)])
            model = [(k, v) for k, v in model if not arg <= k < arg + 3]
        elif kind == "delete_keys":
            delete_keys(
                spark, p,
                spark.createDataFrame([(arg,), (arg + 1,), (9999,)], ["k"]), "k",
            )
            model = [(k, v) for k, v in model if k not in (arg, arg + 1)]
        elif kind == "merge":  # update existing window + insert fresh keys
            a = nxt[0]
            src = spark.range(arg, arg + 4).select(
                F.col("id").alias("k"), F.lit(-5).cast("long").alias("v")
            ).unionByName(
                spark.range(a, a + 3).select(
                    F.col("id").alias("k"), F.lit(-7).cast("long").alias("v")
                )
            )
            merge_upsert(spark, p, src, "k")
            src_rows = [(k, -5) for k in range(arg, arg + 4)]
            src_rows += [(k, -7) for k in range(a, a + 3)]
            present = {k for k, _v in model}
            matched = {k: v for k, v in src_rows if k in present}
            model = [(k, matched.get(k, v)) for k, v in model]
            model += [(k, v) for k, v in src_rows if k not in present]
            nxt[0] = a + 3
        elif kind == "compact":
            compact(spark, p)
        elif kind == "compact_binpack":
            compact_binpack(spark, p, target_bytes=1 << 30)  # all bins pack
        else:
            zorder_rewrite(spark, p, "k", "v", n_segments=arg)
    head_v = _read_manifest(p)[-1]["version"]
    head = snapshot_read(spark, p, head_v).select("k", "v")
    assert sorted(tuple(r) for r in head.collect()) == sorted(model)
    if head_v == 0:
        return  # every op no-opped (possible when deletes hit erased keys)
    feed = change_feed(spark, p, 0, head_v)
    v0 = snapshot_read(spark, p, 0)
    adds = feed.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select("k", "v")
    removes = feed.filter(
        F.col("_change_type").isin("delete", "update_preimage")
    ).select("k", "v")
    replayed = v0.select("k", "v").unionByName(adds).exceptAll(removes)
    assert replayed.exceptAll(head).count() == 0
    assert head.exceptAll(replayed).count() == 0
    # The streaming CDF reader plans the same span to the same change
    # rows: its partitions over (0, head_v], read without a query.
    from argodb_mapreduce_spark.sources.python_datasource import (
        make_versioned_datasource,
    )

    ds = make_versioned_datasource()({"path": p, "readChangeFeed": "true"})
    reader = ds.streamReader(ds.schema())
    streamed = Counter()
    for part in reader.partitions({"version": 0}, {"version": head_v}):
        for batch in reader.read(part):
            cols = batch.to_pydict()
            streamed.update(zip(cols["k"], cols["v"], cols["_change_type"]))
    batch_rows = Counter(
        tuple(r) for r in feed.select("k", "v", "_change_type").collect()
    )
    assert streamed == batch_rows


# session-scoped bridges: hypothesis can't take pytest fixtures directly
# in @given functions, so stash them via autouse fixtures.
import pytest as _pt  # noqa: E402

spark_ref: dict = {}
tmp_ref: dict = {}


@_pt.fixture(autouse=True)
def _bridge(spark, tmp_path_factory):
    spark_ref["spark"] = spark
    tmp_ref["dir"] = str(tmp_path_factory.mktemp("cdfprop"))
    yield


def test_merge_nondeterministic_source_feed_matches_table(spark, tmp_path):
    """MERGE's committed rows come from the sidecar read-back: a
    non-deterministic source evaluates once, feed == table."""
    p = _base(spark, tmp_path, n=30)
    enable_change_data_feed(p)
    src = spark.range(25, 35).select(
        F.col("id").alias("k"),
        F.lit(0).cast("long").alias("g"),
        (F.rand() * 1e9).cast("long").alias("v"),
    )
    merge_upsert(spark, p, src, "k")
    feed = change_feed(spark, p, 0, 1).filter(
        F.col("_change_type").isin("update_postimage", "insert")
    ).select("k", "v")
    table = snapshot_read(spark, p).filter(F.col("k") >= 25).select("k", "v")
    assert feed.exceptAll(table).count() == 0
    assert table.exceptAll(feed).count() == 0


def test_expect_gated_write_fills_generated_columns(spark, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import (
        add_generated_column,
        versioned_write_expect,
    )

    p = str(tmp_path / "egc")
    os.makedirs(p)
    add_generated_column(spark, p, "v2", "v * 2")
    df = spark.range(0, 10).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    r = versioned_write_expect(df, p)  # omits v2: must fill, not crash
    assert r["rows_committed"] == 10 and r["rows_violating"] == 0
    got = snapshot_read(spark, p)
    assert got.filter(F.col("v2") != F.col("v") * 2).count() == 0


def test_add_generated_column_on_existing_table_without_column(spark, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import add_generated_column

    p = _base(spark, tmp_path, n=10)  # existing data lacks the column
    add_generated_column(spark, p, "v3", "v * 3")  # must not crash
    versioned_write(
        spark.range(10, 15).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("g"),
            (F.col("id") * 10).cast("long").alias("v"),
        ),
        p,
        mode="append",
    )
    got = snapshot_read(spark, p).filter(F.col("k") >= 10)
    assert got.filter(F.col("v3") != F.col("v") * 3).count() == 0


def test_drain_backlog_rejects_conflicting_reader_options(spark, tmp_path):
    from argodb_mapreduce_spark.sources.python_datasource import drain_backlog

    p = _base(spark, tmp_path, n=10)
    with pytest.raises(ValueError, match="conflict with drain_backlog"):
        drain_backlog(
            spark, p, str(tmp_path / "ck"), lambda s: None,
            reader_options={"endVersion": 3},
        )


def test_starting_version_beyond_head_and_vacuumed_errors(spark, tmp_path):
    from argodb_mapreduce_spark.sources.python_datasource import (
        make_versioned_datasource,
    )

    p = str(tmp_path / "svh")
    for i in range(4):
        versioned_write(
            spark.range(i * 10, (i + 1) * 10).withColumnRenamed("id", "k"), p, "append"
        )
    ds_cls = make_versioned_datasource()

    def reader(**kw):
        ds = ds_cls({"path": p, **{k: str(v) for k, v in kw.items()}})
        return ds.streamReader(ds.schema())

    # beyond head: the error names startingVersion, not endVersion
    r = reader(startingVersion=10)
    with pytest.raises(ValueError, match="beyond the table head"):
        r.partitions(r.initialOffset(), {"version": 3})
    # below the retained horizon after vacuum: names the oldest start
    vacuum(p, keep_versions=2)  # retains v2, v3
    r2 = reader(startingVersion=2)  # needs v1: vacuumed
    with pytest.raises(ValueError, match="oldest streamable startingVersion is 3"):
        r2.partitions(r2.initialOffset(), {"version": 3})
    # at the horizon: works
    r3 = reader(startingVersion=3)
    parts = r3.partitions(r3.initialOffset(), {"version": 3})
    import os as _o

    segs = {_o.path.basename(_o.path.dirname(pt.path)) for pt in parts}
    assert segs == {"data-3"}


def test_stream_cdf_over_partitioned_update_sidecar(spark, tmp_path):
    """A cdc sidecar written by an UPDATE on a Hive-partitioned table
    carries the partition column as a real typed column; the streaming
    CDF path must emit it aligned with the insert legs' decoded
    partition values."""
    from argodb_mapreduce_spark.sources.python_datasource import (
        FORMAT_NAME,
        register_datasource,
    )

    register_datasource(spark)
    p = str(tmp_path / "pcs")
    df = spark.range(0, 40).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("part"),
        (F.col("id") * 10).cast("long").alias("v"),
    )
    versioned_write(df, p, mode="append", partition_by=["part"])
    enable_change_data_feed(p)
    update_where(spark, p, [("k", "<", 6)], {"v": F.lit(0).cast("long")})
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        spark.readStream.format(FORMAT_NAME)
        .option("readChangeFeed", "true")
        .load(p)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    r = spark.read.parquet(out)
    assert dict(r.dtypes)["part"] == "string"
    legs = {
        (x["_change_type"], x["part"]): x["n"]
        for x in r.filter(F.col("_commit_version") == 1)
        .groupBy("_change_type", "part")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert legs == {
        ("update_preimage", "0"): 3,
        ("update_preimage", "1"): 3,
        ("update_postimage", "0"): 3,
        ("update_postimage", "1"): 3,
    }
    assert r.filter(F.col("_commit_version") == 0).count() == 40


def test_change_feed_between_timestamps(spark, tmp_path, monkeypatch):
    import argodb_mapreduce_spark.sources.versioned as V

    p = str(tmp_path / "cfts")
    clock = [3_000_000.0]
    monkeypatch.setattr(V, "_now", lambda: clock[0])
    V.versioned_write(
        spark.range(0, 10).select(F.col("id").alias("k"), F.lit(1).cast("long").alias("v")), p
    )  # v0 @ 3e6
    clock[0] += 100
    V.versioned_write(
        spark.range(10, 15).select(F.col("id").alias("k"), F.lit(1).cast("long").alias("v")),
        p, mode="append",
    )  # v1 @ +100
    clock[0] += 100
    V.delete_where(spark, p, [("k", "<", 2)])  # v2 @ +200
    # a window straddling v1..v2 (anchors resolve v0 and v2)
    feed = V.change_feed_between_timestamps(spark, p, 3_000_000.0 + 50, 3_000_000.0 + 250)
    legs = {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    assert legs == {"insert": 5, "delete": 2}
    with pytest.raises(ValueError, match="no commits inside"):
        V.change_feed_between_timestamps(spark, p, 3_000_000.0 + 250, 3_000_000.0 + 260)
    # Delta's startingTimestamp semantics: a window reaching back to (or
    # before) the FIRST commit includes it — v0's rows are insert legs
    full = V.change_feed_between_timestamps(spark, p, 2_999_999.0, 3_000_000.0 + 250)
    legs_full = {
        r["_change_type"]: r["n"]
        for r in full.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    assert legs_full == {"insert": 15, "delete": 2}  # v0's 10 + v1's 5
    # anchor EXACTLY at the first commit's stamp: still included
    first_only = V.change_feed_between_timestamps(spark, p, 3_000_000.0, 3_000_000.0)
    assert first_only.count() == 10


def test_partition_by_generated_column(spark, tmp_path):
    """The headline generated-column use: partition by an expression
    column writers never supply — fill-in runs before partitionBy."""
    import os as _o

    from argodb_mapreduce_spark.sources.versioned import (
        _read_manifest,
        add_generated_column,
    )

    p = str(tmp_path / "gp")
    _o.makedirs(p)
    add_generated_column(spark, p, "bucket", "CAST(k % 3 AS STRING)")
    df = spark.range(0, 30).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    versioned_write(df, p, partition_by=["bucket"])  # column not in df!
    entry = _read_manifest(p)[-1]
    assert entry["partition_by"] == {"data-0": ["bucket"]}
    branches = sorted(
        d for d in _o.listdir(_o.path.join(p, "data-0")) if d.startswith("bucket=")
    )
    assert branches == ["bucket=0", "bucket=1", "bucket=2"]
    got = snapshot_read(spark, p, predicates=[("bucket", "=", "1")])
    assert sorted(r.k for r in got.collect()) == [k for k in range(30) if k % 3 == 1]


# ---------------------------------------------------------------------------
# Identity columns
# ---------------------------------------------------------------------------


def test_identity_unique_increasing_across_commits(spark, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import add_identity_column

    p = str(tmp_path / "ident")
    os.makedirs(p)
    add_identity_column(p, "rid", start=100)
    for a in (0, 30, 60):
        versioned_write(
            spark.range(a, a + 30).withColumnRenamed("id", "k").repartition(4),
            p,
            mode="append",
        )
    r = snapshot_read(spark, p)
    assert r.count() == 90
    assert r.select("rid").distinct().count() == 90  # unique across commits
    assert r.agg(F.min("rid")).collect()[0][0] == 100  # declared start
    # per-commit ranges are disjoint and increasing (ledger stats)
    stats = _read_manifest(p)[-1]["stats"]
    ranges = sorted(
        (stats[s]["rid"][0], stats[s]["rid"][1]) for s in stats if "rid" in stats[s]
    )
    for (a0, a1), (b0, b1) in zip(ranges, ranges[1:]):
        assert a1 < b0


def test_identity_refuses_explicit_values_and_double_define(spark, tmp_path):
    from argodb_mapreduce_spark.sources.versioned import (
        add_generated_column,
        add_identity_column,
    )

    p = str(tmp_path / "ident2")
    os.makedirs(p)
    add_identity_column(p, "rid")
    with pytest.raises(ValueError, match="already defined"):
        add_identity_column(p, "rid")
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        versioned_write(
            spark.range(5).select(F.col("id").alias("k"), F.lit(1).cast("long").alias("rid")),
            p,
        )
    add_generated_column(spark, p, "g", "k + 1")
    with pytest.raises(ValueError, match="generated column"):
        add_identity_column(p, "g")


def test_identity_range_race_one_writer_retries(spark, tmp_path):
    """Two threads append with the same allocation base: exactly one
    commits first; the other hits the in-lock range guard and succeeds
    on retry with a fresh base — ids stay globally unique."""
    import threading

    from argodb_mapreduce_spark.sources.versioned import (
        ConcurrentWriteError,
        add_identity_column,
    )

    p = str(tmp_path / "ident3")
    os.makedirs(p)
    add_identity_column(p, "rid")
    versioned_write(spark.range(10).withColumnRenamed("id", "k"), p)
    barrier = threading.Barrier(2)
    retries = []

    def writer(a):
        df = spark.range(a, a + 10).withColumnRenamed("id", "k")
        barrier.wait()
        for attempt in range(4):
            try:
                versioned_write(df, p, mode="append")
                return
            except ConcurrentWriteError:
                retries.append(a)
        raise AssertionError("writer starved")

    ts = [threading.Thread(target=writer, args=(a,)) for a in (100, 200)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    r = snapshot_read(spark, p)
    assert r.count() == 30
    assert r.select("rid").distinct().count() == 30  # no duplicate ids ever
