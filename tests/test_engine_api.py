"""Engine (database.table) API — the reference's client entry points."""

from __future__ import annotations

import os

import pytest

from argodb_mapreduce_spark.catalog import Engine, ScanError
from argodb_mapreduce_spark.operators.scans import partitioned_lineitem


@pytest.fixture()
def engine(spark, sf_dir):
    e = Engine(spark)
    e.register_database("tpch", sf_dir)
    return e


def test_table_lookup(engine, sf_dir):
    assert engine.table("tpch.lineitem").count() > 0


def test_schema_fetch(engine):
    # getTableSchema equivalent (ArgodbMapreduceInputFormat.java:307-313)
    schema = engine.schema("tpch.lineitem")
    assert [f.name for f in schema.fields][:2] == ["l_orderkey", "l_partkey"]


def test_unknown_database_errors(engine):
    with pytest.raises(ScanError, match="unknown database"):
        engine.table("nope.lineitem")


def test_unknown_table_errors(engine):
    with pytest.raises(ScanError, match="unknown table"):
        engine.table("tpch.nope")


def test_unqualified_name_errors(engine):
    with pytest.raises(ScanError, match="database.table"):
        engine.table("lineitem")


def test_scan_with_filter_on_partitioned_dir(spark, sf_dir, engine, tmp_path):
    import os
    import shutil

    # register a database whose table is a Hive-layout partitioned dir
    src = partitioned_lineitem(spark, sf_dir)
    dbroot = tmp_path / "db"
    os.makedirs(dbroot, exist_ok=True)
    shutil.copytree(src, dbroot / "lineitem_part")
    engine.register_database("parts", str(dbroot))
    df = engine.scan("parts.lineitem_part", filter="l_returnflag=R")
    assert df.count() > 0
    assert df.select("l_returnflag").distinct().collect()[0][0] == "R"


def test_scan_projection(engine):
    df = engine.scan("tpch.orders", columns=["o_orderkey", "o_totalprice"])
    assert df.columns == ["o_orderkey", "o_totalprice"]


def test_register_views_enables_plain_sql(spark, engine, sf_dir):
    names = engine.register_views("tpch")
    assert "lineitem" in names and "orders" in names
    got = spark.sql(
        "SELECT COUNT(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    ).collect()[0]["n"]
    li = engine.table("tpch.lineitem").count()
    assert got == li  # every lineitem row has its order


def test_session_defaults_fit_the_host(monkeypatch):
    """Without overrides the session factory sizes itself from this
    machine — never more cores than the process may run on, never a
    driver heap larger than physical RAM; the env overrides win."""
    from argodb_mapreduce_spark.session import _session_defaults

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    cpus, memory = _session_defaults()
    assert 1 <= cpus <= len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert memory.endswith("g") and int(memory[:-1]) * 2**30 <= ram
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    assert _session_defaults() == (3, "2g")
