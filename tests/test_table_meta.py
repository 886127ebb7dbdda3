"""The Spark-free table-metadata module (``sources/table_meta.py``):
one copy of the stats, Hive-branch, path, sidecar and key helpers that
the versioned store and the pyds DataSource share, shipped to Python
workers by value."""

from __future__ import annotations

import ast
import datetime as dt
import glob
import json
import os
import pathlib
import subprocess
import sys

import pytest

import argodb_mapreduce_spark
from argodb_mapreduce_spark.sources import table_meta

SOURCES = pathlib.Path(argodb_mapreduce_spark.__file__).parent / "sources"
REPO_ROOT = SOURCES.parent.parent

#: Helpers whose only copy now lives in table_meta.
_DELETED = {
    # pyds closure twins
    "_stat_decode_local", "_coerce_lit", "_stats_may_match", "_decode_branch",
    "_decode_part_value", "_HIVE_NULL_LOCAL", "_local_path",
    "_dv_positions_local", "_column_mapping_of", "_crypto",
    "_encryption_properties", "_decryption_properties", "_key_fp_of",
    "_read_keys_json", "_kek_wrap", "_kek_unwrap", "_resolve_wrap_key",
    "_check_key_fp",
    # versioned.py copies, including the keyed-read closure's own
    "_make_crypto", "_typed", "_coerce", "_rg_keep", "_segment_may_match",
    "_HIVE_NULL", "_hmac_wrap", "_hmac_unwrap", "_read_keys_sidecar",
    "_check_key_fingerprint",
    # inline path-localizers
    "local", "_local",
    # the second change-feed planner and its helpers, the footer-walk
    # copies (one change-feed plan, one footer harvest)
    "_synthesize_restore_legs", "_dv_positions", "_parts_of_file",
    "_segment_stats_plaintext", "_segment_file_metrics",
}
#: Manifest entry keys that classify a change-feed transition: only
#: table_meta's planner reads them, the pyds module does not.
_PLANNER_KEYS = {"deleted_where", "cdc", "data_change"}


def _entry_key_reads(tree) -> set:
    """String keys read with ``x[key]``, ``x.get(key)`` or ``key in x``."""
    keys = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Subscript):
            cands = [n.slice]
        elif isinstance(n, ast.Call) and getattr(n.func, "attr", None) == "get":
            cands = n.args[:1]
        elif isinstance(n, ast.Compare) and any(
            isinstance(op, (ast.In, ast.NotIn)) for op in n.ops
        ):
            cands = [n.left]
        else:
            continue
        keys.update(
            c.value for c in cands
            if isinstance(c, ast.Constant) and isinstance(c.value, str)
        )
    return keys


def _bound_names(tree) -> set:
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, ast.Assign):
            names.update(t.id for t in node.targets if isinstance(t, ast.Name))
    return names


def test_table_meta_imports_only_stdlib_and_pyarrow():
    tree = ast.parse((SOURCES / "table_meta.py").read_text())
    roots = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            roots.update(a.name.split(".")[0] for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            assert node.level == 0, "relative import in table_meta"
            roots.add(node.module.split(".")[0])
    foreign = {r for r in roots if r != "pyarrow" and r not in sys.stdlib_module_names}
    assert not foreign, foreign


def test_no_metadata_twins_in_versioned_or_pyds():
    """versioned.py and python_datasource.py call table_meta instead of
    keeping their own copies: none of the old helper names is defined,
    no branch or path decoding imports ``unquote``, and the Hive NULL
    sentinel is spelled only in table_meta."""
    for name in ("versioned.py", "python_datasource.py"):
        src = (SOURCES / name).read_text()
        tree = ast.parse(src)
        # A plain variable named ``local`` is fine; only a function of
        # that name would be a localizer.
        funcs = {
            n.name for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.ClassDef))
        }
        twins = (_bound_names(tree) & (_DELETED - {"local"})) | (funcs & {"local"})
        assert not twins, (name, sorted(twins))
        imported = {
            a.name for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom) and n.module == "urllib.parse"
            for a in n.names
        }
        assert "unquote" not in imported, name
        assert "__HIVE_DEFAULT_PARTITION__" not in src, name
    pyds = ast.parse((SOURCES / "python_datasource.py").read_text())
    assert not _entry_key_reads(pyds) & _PLANNER_KEYS


@pytest.mark.parametrize(
    "module",
    [
        "argodb_mapreduce_spark.sources.versioned",
        "argodb_mapreduce_spark.sources.python_datasource",
    ],
)
def test_table_meta_ships_by_value_to_workers(tmp_path, module):
    """Importing a Spark-facing module registers table_meta to pickle by
    value: its functions load and run in an isolated interpreter that
    cannot import this package (a Python worker without the repo on
    sys.path). Pickled by reference, the load fails."""
    isolated = [sys.executable, "-I", "-c"]
    probe = subprocess.run(
        [*isolated, "import argodb_mapreduce_spark"],
        cwd=tmp_path, capture_output=True, timeout=60,
    )
    assert probe.returncode != 0, "the isolated interpreter sees the package"

    dump = (
        "import sys, importlib\n"
        f"importlib.import_module({module!r})\n"
        "from pyspark import cloudpickle\n"
        "from argodb_mapreduce_spark.sources import table_meta as tm\n"
        "sys.stdout.buffer.write(cloudpickle.dumps("
        "(tm.stats_may_match, tm.decode_branch, tm.key_fingerprint)))\n"
    )
    pickled = subprocess.run(
        [sys.executable, "-c", dump],
        cwd=REPO_ROOT, capture_output=True, timeout=120, check=True,
    ).stdout
    load = (
        "import pickle, sys\n"
        "may_match, branch, fp = pickle.loads(sys.stdin.buffer.read())\n"
        "print(may_match({'k': [1, 5]}, [('k', '>', 9)]))\n"
        "print(branch('k=__HIVE_DEFAULT_PARTITION__'))\n"
        "print(fp('QUJDREVGR0hJSktMTU5PUA=='))\n"
    )
    out = subprocess.run(
        [*isolated, load], input=pickled, cwd=tmp_path,
        capture_output=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr.decode()[-2000:]
    assert out.stdout.decode().split("\n")[:3] == [
        "False",
        "{'k': None}",
        table_meta.key_fingerprint("QUJDREVGR0hJSktMTU5PUA=="),
    ]


def test_stats_may_match_takes_the_safe_side():
    ts = {"ts": [{"t": "ts", "v": "2020-01-01T00:00:00"},
                 {"t": "ts", "v": "2020-12-31T00:00:00"}]}
    utc = dt.timezone.utc
    # unknown ops are refused, stats or not
    for stats in (ts, None):
        with pytest.raises(ValueError, match="unsupported prune op"):
            table_meta.stats_may_match(stats, [("ts", "!=", 1)])
    # a tz-aware literal compares as naive UTC, in either spelling
    late = dt.datetime(2021, 1, 1, tzinfo=utc)
    assert not table_meta.stats_may_match(ts, [("ts", ">", late)])
    assert not table_meta.stats_may_match(ts, [("ts", ">", late.isoformat())])
    shifted = dt.datetime(2020, 12, 31, 23, tzinfo=dt.timezone(dt.timedelta(hours=-2)))
    assert not table_meta.stats_may_match(ts, [("ts", ">", shifted)])
    assert table_meta.stats_may_match(ts, [("ts", "<", late)])
    # incomparable or malformed literals keep
    assert table_meta.stats_may_match(ts, [("ts", "=", 7)])
    assert table_meta.stats_may_match(ts, [("ts", "=", "not-a-date")])
    assert table_meta.stats_may_match({"n": [1, 5]}, [("n", ">", "x")])
    # int stats against a float literal: dropped only when excluded
    # both exactly and in double precision (Spark's promotion)
    big = 2**53 + 1
    assert table_meta.stats_may_match({"v": [2.0**53, 2.0**53]}, [("v", "=", big)])
    assert table_meta.stats_may_match({"v": [big, big]}, [("v", "=", 2.0**53)])
    assert not table_meta.stats_may_match({"v": [1, 5]}, [("v", ">", 5.5)])
    # dates against ISO strings and timestamps against dates
    d = {"d": [{"t": "date", "v": "2020-01-01"}, {"t": "date", "v": "2020-01-31"}]}
    assert not table_meta.stats_may_match(d, [("d", ">", "2020-02-01")])
    assert not table_meta.stats_may_match(ts, [("ts", ">=", dt.date(2021, 1, 1))])


def test_failing_property_write_leaves_no_tmp(tmp_path):
    from argodb_mapreduce_spark.sources.versioned import set_table_property

    p = str(tmp_path)
    set_table_property(p, "a", 1)
    with pytest.raises(TypeError):
        set_table_property(p, "k", object())
    assert glob.glob(os.path.join(p, "*.tmp")) == []
    assert table_meta.read_properties(p) == {"a": 1}


# ------------------------------------------------------------ Spark-backed


def _ts_table(spark, tmp_path) -> str:
    """Two segments: k 0..9 on 2020-12-22..31, k 10..19 on 2021-01-01..10
    (UTC midnights)."""
    from pyspark.sql import functions as F

    from argodb_mapreduce_spark.sources.versioned import versioned_write

    path = str(tmp_path / "ts")
    for lo in (0, 10):
        df = spark.range(lo, lo + 10).select(
            F.col("id").alias("k"),
            F.expr("timestamp'2020-12-22 00:00:00' + make_interval(0, 0, 0, int(id))")
            .alias("ts"),
        )
        versioned_write(df, path, mode="append")
    return path


def test_tz_aware_literal_prunes_and_reads_like_naive_utc(spark, tmp_path):
    from argodb_mapreduce_spark.sources.python_datasource import read_versioned
    from argodb_mapreduce_spark.sources.versioned import prune_segments, snapshot_read

    path = _ts_table(spark, tmp_path)
    naive = [("ts", ">", dt.datetime(2021, 1, 1, 12))]
    aware = [("ts", ">", dt.datetime(2021, 1, 1, 12, tzinfo=dt.timezone.utc))]
    kept, segs = prune_segments(path, None, aware)
    assert len(segs) == 2 and kept == prune_segments(path, None, naive)[0]
    assert len(kept) == 1
    want = list(range(11, 20))
    for read in (snapshot_read, read_versioned):
        for preds in (naive, aware):
            got = sorted(r.k for r in read(spark, path, predicates=preds).collect())
            assert got == want, (read.__name__, preds)


def test_pyds_prune_refuses_unsupported_ops(spark, tmp_path):
    from argodb_mapreduce_spark.sources.python_datasource import (
        FORMAT_NAME,
        read_versioned,
    )

    path = _ts_table(spark, tmp_path)
    with pytest.raises(Exception, match="unsupported prune op"):
        read_versioned(spark, path, predicates=[("k", "!=", 3)]).collect()
    with pytest.raises(Exception, match="unsupported prune op"):
        spark.read.format(FORMAT_NAME).option(
            "prune", json.dumps([["k", "!=", 3]])
        ).load(path).collect()


def test_row_groups_skip_on_utc_timestamp_stats(spark, tmp_path):
    """pyarrow reads a UTC-adjusted timestamp column's row-group stats as
    tz-aware datetimes, while pruning literals are naive UTC: both
    compare as naive UTC, so a timestamp predicate skips row groups, and
    the pruned pyds read returns the rows of the unpruned one."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from argodb_mapreduce_spark.sources.python_datasource import read_versioned
    from argodb_mapreduce_spark.sources.versioned import versioned_write

    path = str(tmp_path / "rg")
    df = spark.range(0, 20000, numPartitions=1).select(
        F.col("id").alias("k"),
        F.timestamp_seconds(F.col("id") * 60 + 1_600_000_000).alias("ts"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad"),
    )
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    block = conf.get("parquet.block.size")
    conf.set("parquet.block.size", str(64 * 1024))
    try:
        versioned_write(df, path)
    finally:
        if block is None:
            conf.unset("parquet.block.size")
        else:
            conf.set("parquet.block.size", block)
    [fp] = glob.glob(os.path.join(path, "data-0", "*.parquet"))
    pf = pq.ParquetFile(fp)
    cut = dt.datetime(2020, 9, 16)
    preds = [("ts", "<", cut)]
    kept, _offsets = table_meta.select_row_groups(pf, preds)
    assert 0 < len(kept) < pf.metadata.num_row_groups
    pruned = read_versioned(spark, path, predicates=preds).collect()
    full = read_versioned(spark, path).filter(F.col("ts") < cut).collect()
    assert len(pruned) > 0
    assert sorted(pruned) == sorted(full)


def test_plain_tail_masks_tombstones_of_readded_segments(spark, tmp_path):
    """A rollback that re-adds a dropped segment republishes the
    deletion vector that tombstones some of its rows: a plain
    ``ignoreDeletes`` tail streams only the re-added segment's live
    rows, as the change feed does."""
    from argodb_mapreduce_spark.sources.python_datasource import (
        make_versioned_datasource,
    )
    from argodb_mapreduce_spark.sources.versioned import (
        delete_keys,
        delete_where,
        rollback,
        versioned_write,
    )

    p = str(tmp_path / "t")
    versioned_write(spark.range(0, 20).withColumnRenamed("id", "k"), p)  # v0
    versioned_write(
        spark.range(20, 40).withColumnRenamed("id", "k"), p, mode="append"
    )  # v1: data-1
    delete_keys(spark, p, spark.createDataFrame([(25,)], "k long"), "k")  # v2
    delete_where(spark, p, [("k", ">=", 20)])  # v3: drops data-1
    rollback(p, 2)  # v4: re-adds data-1 under v2's deletion vector
    ds = make_versioned_datasource()({"path": p, "ignoreDeletes": "true"})
    reader = ds.streamReader(ds.schema())
    streamed = sorted(
        k
        for part in reader.partitions({"version": 3}, {"version": 4})
        for batch in reader.read(part)
        for k in batch.to_pydict()["k"]
    )
    assert streamed == [k for k in range(20, 40) if k != 25]
