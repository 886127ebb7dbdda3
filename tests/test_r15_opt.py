"""Round-15 optimization gates.

cpu_repartition's work-derived spread must fire ONLY when the input's
intrinsic scan parallelism is fixture-shaped (few row groups): a
production corpus with many row groups already scans in parallel, so
adding a spread exchange there would shuffle the full raw bytes for
nothing (VERDICT r14 What's-wrong 3 / next-round item 6).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import TEST_SF_DIR

SF = TEST_SF_DIR


def _write_docs(path: str, n_rows: int, row_group_size: int) -> None:
    t = pa.table(
        {
            "doc_id": pa.array(range(n_rows), type=pa.int64()),
            "text": pa.array([f"document body {i}" for i in range(n_rows)]),
        }
    )
    pq.write_table(t, path, row_group_size=row_group_size)


@pytest.fixture(scope="module")
def corpus_dirs(tmp_path_factory):
    """Two copies of the same 2000-row table: one single-row-group
    (fixture-shaped, unsplittable) and one with 20 row groups
    (production-shaped, splittable)."""
    root = tmp_path_factory.mktemp("r15_rowgroups")
    single = root / "single"
    multi = root / "multi"
    single.mkdir()
    multi.mkdir()
    _write_docs(str(single / "docs.parquet"), 2000, 2000)
    _write_docs(str(multi / "docs.parquet"), 2000, 100)
    return str(single), str(multi)


def test_cpu_repartition_spreads_single_row_group(spark, corpus_dirs):
    """Fixture-shaped input (1 row group, 2000 rows -> width 8 wanted):
    the spread fires, exactly one exchange, hashed on the key."""
    from argodb_mapreduce_spark.catalog import cpu_repartition

    single, _ = corpus_dirs
    df = spark.read.parquet(os.path.join(single, "docs.parquet"))
    out = cpu_repartition(df, single, "docs", "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("hashpartitioning(doc_id") == 1
    assert "RoundRobinPartitioning" not in plan


def test_cpu_repartition_noop_on_multi_row_group(spark, corpus_dirs):
    """Production-shaped input (20 row groups >= the 8-wide target):
    the spread is a structural no-op — the returned plan is the scan
    itself with NO added exchange."""
    from argodb_mapreduce_spark.catalog import cpu_repartition
    from argodb_mapreduce_spark.plans.checks import n_exchanges

    _, multi = corpus_dirs
    df = spark.read.parquet(os.path.join(multi, "docs.parquet"))
    out = cpu_repartition(df, multi, "docs", "doc_id")
    assert out is df
    assert n_exchanges(out) == 0


def test_cpu_repartition_rows_unchanged(spark, corpus_dirs):
    """Both shapes return the same multiset of rows as the raw scan."""
    from argodb_mapreduce_spark.catalog import cpu_repartition

    for d in corpus_dirs:
        df = spark.read.parquet(os.path.join(d, "docs.parquet"))
        out = cpu_repartition(df, d, "docs", "doc_id")
        assert sorted(r.doc_id for r in out.collect()) == list(range(2000))


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
def test_multiset_equal_frame_matches_eager(spark, rows_a, rows_b, want):
    """The lazy 1-row proof frame must agree with the eager collect on
    every multiset edge case (duplicates, NULL keys, empty sides)."""
    from argodb_mapreduce_spark.functions.oracle_safe import (
        multiset_equal,
        multiset_equal_frame,
    )

    schema = "k int, v string"
    a = spark.createDataFrame(rows_a, schema)
    b = spark.createDataFrame(rows_b, schema)
    got = multiset_equal_frame(a, b, "eq").collect()
    assert len(got) == 1 and got[0]["eq"] is want
    assert multiset_equal(a, b) is want
