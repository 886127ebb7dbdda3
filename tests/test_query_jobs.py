"""Spark-job budgets and plan shapes of registry queries.

``query_mix`` (perfbench) is bound by per-query fixed costs, so a job a
query stops launching is the saving. Each budget is the plan call plus
the noop write of the returned frame, in a warm session — the measure
of the benchmark's ``pass_jobs``. A query that starts launching a job
more fails here.
"""

from __future__ import annotations

import ast
import os
import re

from argodb_mapreduce_spark import registry
from tests.conftest import REPO_ROOT, jobs_of

PKG_DIR = os.path.join(REPO_ROOT, "argodb_mapreduce_spark")


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_query_job_budget(spark, sf_dir):
    """The doc_id-hashed spread takes the per-document exchanges out of
    MinHash dedup and n-gram decontamination, and MinHash verification
    reads per-document shingle sets, so the sizes and the verify sides
    share one broadcast; footer schemas take the inference job out of
    ``catalog.scan`` and the Hive-layout reads; q18 scans lineitem
    once."""
    budget = {
        "dedup_minhash_verified": 4,
        "decontam_ngram_overlap": 5,
        "scan_projection": 1,
        "scan_partition_dynamic": 4,
        "q18_large_orders": 4,
    }
    reg = registry.all_queries()
    jobs = {}
    for name in budget:
        fn = reg[name].fn

        def run(fn=fn):
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

        run()  # builds derived layouts and warms the session
        spark.catalog.clearCache()
        jobs[name] = jobs_of(spark, run)[1]
    assert jobs == budget


def test_per_document_pipelines_reuse_the_spread(spark, sf_dir):
    """The distinct on (doc_id, shingle) and on (doc_id, ng) keep the
    spread's hashpartitioning(doc_id): no exchange of their own."""
    from argodb_mapreduce_spark.operators.dedup import dedup_minhash_verified
    from argodb_mapreduce_spark.operators.training_data import decontam_ngram_overlap

    for fn, second_key in ((dedup_minhash_verified, "shingle"), (decontam_ngram_overlap, "ng")):
        plan = _executed_plan(fn(spark, sf_dir))
        assert "hashpartitioning(doc_id" in plan, fn.__name__
        assert not re.search(rf"hashpartitioning\(doc_id#\d+L?, {second_key}#", plan), plan


def test_q18_scans_lineitem_once(spark, sf_dir):
    from argodb_mapreduce_spark.operators.tpch_extra import q18_large_orders

    plan = _executed_plan(q18_large_orders(spark, sf_dir))
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln and "lineitem" in ln]
    assert len(scans) == 1, plan


def _schemaless_parquet_reads(path: str) -> list[int]:
    """Lines of ``<x>.read[.<opt>(...)].parquet(...)`` calls given no
    ``.schema(...)``, outside ``catalog.read_parquet``. A read that
    asks for ``mergeSchema`` wants Spark's footer merge, which is its
    point (``scan_schema_evolution``), and is not counted."""
    tree = ast.parse(open(path).read(), path)
    exempt = {
        n
        for f in ast.walk(tree)
        if isinstance(f, ast.FunctionDef) and f.name == "read_parquet"
        for n in ast.walk(f)
    }

    def schemaless(node) -> bool:
        while True:
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                if node.func.attr == "schema":
                    return False
                if node.func.attr == "option" and any(
                    isinstance(arg, ast.Constant) and arg.value == "mergeSchema" for arg in node.args
                ):
                    return False
                node = node.func.value
            elif isinstance(node, ast.Attribute):
                if node.attr == "read":
                    return True
                node = node.value
            else:
                return False

    return [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "parquet"
        and n not in exempt
        and schemaless(n.func.value)
    ]


def test_parquet_reads_go_through_the_footer_reader():
    """Table reads in the catalog, the operators and the Hive/range
    layouts take their schema from footers (``catalog.read_parquet``):
    a schema-less ``spark.read.parquet`` runs an inference job."""
    paths = [
        os.path.join(PKG_DIR, "catalog.py"),
        os.path.join(PKG_DIR, "sources", "hive_partitions.py"),
        os.path.join(PKG_DIR, "sources", "range_partitions.py"),
    ]
    ops = os.path.join(PKG_DIR, "operators")
    paths += [os.path.join(ops, f) for f in sorted(os.listdir(ops)) if f.endswith(".py")]
    offenders = {p: lines for p in paths if (lines := _schemaless_parquet_reads(p))}
    assert offenders == {}
    # The gate sees what it gates: a plain read is flagged.
    assert _schemaless_parquet_reads(
        os.path.join(PKG_DIR, "streaming", "windows.py")
    ), "expected windows.py's state reads to be flagged"
