"""The benchmark's workloads: what each op calls and how it is checked.

Every workload is a closed loop with one client. It builds its inputs
from the seed, stages them (untimed by the pass clock, timed as set-up),
yields one list of ops per pass, and checks correctness after the timed
region. The engine is driven only through its public surface: the
registry's query callables, ``sources.versioned``'s DML and read
functions, and the DuckDB oracles registered beside the queries.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import random
from collections import Counter
from dataclasses import dataclass
from typing import Callable

import numpy as np

PKG = "argodb_mapreduce_spark"


@dataclass
class Op:
    name: str
    module: str  # repo module the op exercises, without the package prefix
    run: Callable  # () -> DataFrame to write to the noop sink, or a commit result


def load_generator(root: str, seed: int):
    """``scripts/gen_scale_corpus.py`` loaded as a private module with
    the seed mixed into every table's random generator."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_gen_scale_corpus", os.path.join(root, "scripts", "gen_scale_corpus.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)

    def seeded_rng(table: str, scale: float) -> np.random.Generator:
        h = hashlib.md5(f"{table}:{scale}:{seed}".encode()).digest()
        return np.random.Generator(np.random.PCG64(42 ^ int.from_bytes(h[:8], "big")))

    gen._rng = seeded_rng
    return gen


def generate_corpus(root: str, seed: int, table_scale: float, corpus_scale: float, out: str) -> None:
    """The star schema at ``table_scale`` and the documents/embeddings
    corpus at ``corpus_scale`` (1 is the sf0.1 size)."""
    gen = load_generator(root, seed)
    os.makedirs(out, exist_ok=True)
    gen.gen_dims(out, table_scale, 4)
    gen.gen_facts(out, table_scale, 4)
    gen.gen_documents(out, corpus_scale, 4)
    gen.gen_embeddings(out, corpus_scale, 4)


def _duck_connection(sf_dir: str):
    """DuckDB views over the generated tables; a table written as a
    directory of parts is read through a glob."""
    import duckdb

    from argodb_mapreduce_spark.catalog import TABLES, table_path

    con = duckdb.connect()
    for t in TABLES:
        p = table_path(sf_dir, t)
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


# ------------------------------------------------------ registry queries


class QueryWorkload:
    """A fixed list of registry queries over a generated corpus. The
    seed sets the corpus and the query order of every pass."""

    def __init__(self, table_scale: float, corpus_scale: float):
        self.table_scale = table_scale
        self.corpus_scale = corpus_scale
        self.queries = QUERY_MIX

    def generate(self, root: str, seed: int, scratch: str) -> None:
        from argodb_mapreduce_spark import registry

        reg = registry.all_queries()
        missing = [q for q in self.queries if q not in reg or reg[q].oracle is None]
        if missing:
            raise RuntimeError(f"queries without a registered oracle: {missing}")
        self._reg = reg
        self.sf_dir = os.path.join(scratch, "inputs")
        self._order = random.Random(seed)
        generate_corpus(root, seed, self.table_scale, self.corpus_scale, self.sf_dir)

    def _op(self, spark, q: str) -> Op:
        fn = self._reg[q].fn
        return Op(q, fn.__module__.removeprefix(PKG + "."), lambda: fn(spark, self.sf_dir))

    def stage(self, spark) -> list[Op]:
        """Ops of the staging pass: every query once, which builds each
        derived fixture and warms the JVM. The pass collects each result
        for the oracle check, so the check costs no extra Spark pass."""
        self._results = {}

        def collect(q: str) -> Op:
            op = self._op(spark, q)

            def run():
                self._results[q] = op.run().toPandas()

            return Op(q, op.module, run)

        return [collect(q) for q in self.queries]

    def next_pass(self, spark) -> list[Op]:
        order = list(self.queries)
        self._order.shuffle(order)
        return [self._op(spark, q) for q in order]

    def check(self, spark) -> list[str]:
        """Each query's staged result against its DuckDB oracle, compared
        in the canonical form of ``tests/compare.py``."""
        from tests.compare import canon_rows

        failures = []
        con = _duck_connection(self.sf_dir)
        try:
            for q in self.queries:
                if q not in self._results:
                    failures.append(f"{q}: no staged result to check")
                    continue
                spk = self._results[q]
                try:
                    duck = con.execute(self._reg[q].oracle).df()
                except Exception as e:  # noqa: BLE001 - a failed check is reported, not raised
                    failures.append(f"{q}: {type(e).__name__}: {e}")
                    continue
                if sorted(spk.columns) != sorted(duck.columns):
                    failures.append(f"{q}: columns {sorted(spk.columns)} != {sorted(duck.columns)}")
                elif canon_rows(spk) != canon_rows(duck):
                    failures.append(f"{q}: {len(spk)} spark rows differ from {len(duck)} oracle rows")
        finally:
            con.close()
        return failures


#: One query per engine module, a cheap one where the module has
#: several: a run has about a minute, and most of it goes to starting
#: and warming the JVM. Two kinds of query share a pass. On sf0.01-sized
#: tables fixed per-query costs dominate: plan construction, Catalyst,
#: fixture sniffs and job count. On the documents and embeddings corpus
#: execution outweighs planning; MinHash pair generation and
#: verification is the largest of these queries. ``sources.versioned``
#: is exercised by ``lake_dml``.
QUERY_MIX = (
    # relational surface, sf0.01-sized tables
    "q3_top_unshipped",  # operators.relational
    "q18_large_orders",  # operators.tpch_extra
    "fn_json",  # functions.scalar
    "scan_projection",  # operators.scans
    "scan_partition_dynamic",  # sources.hive_partitions
    "cbo_join_reorder",  # operators.cbo
    "join_salted_skew",  # operators.merge
    "join_asof",  # operators.joins_advanced
    "events_sessionize",  # operators.sessions
    "pyds_rowgroup_pruned_scan",  # sources.python_datasource
    "stream_session_window",  # streaming.windows
    # curation, documents and embeddings corpus
    "dedup_minhash_verified",  # operators.dedup
    "similarity_cosine_topk",  # operators.similarity
    "text_token_stats",  # functions.text
    "decontam_ngram_overlap",  # operators.training_data
    "multimodal_byte_features",  # operators.multimodal
)


# ------------------------------------------------------ versioned-store DML

ORDER_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")


class LakeDml:
    """DML loop on a versioned orders table. One pass is one iteration:
    append, delete_keys, update_where, merge_upsert, a pruned point
    read, a full aggregate, a change-feed read over the iteration's
    versions, then compact and vacuum, so every iteration starts from a
    table of the same shape. Op sizes scale with the base table as in
    the sf0.1 shape (150k base rows: 5k append, 200 deletes, a 2k-key
    update range, 1k merge rows)."""

    #: Two iterations of versions, so the last change feed stays readable.
    keep_versions = 14

    def __init__(self, scale: float):
        self.scale = scale

    def generate(self, root: str, seed: int, scratch: str) -> None:
        gen = load_generator(root, seed)
        self.sf_dir = os.path.join(scratch, "inputs")
        os.makedirs(self.sf_dir, exist_ok=True)
        gen.gen_facts(self.sf_dir, self.scale, 1)
        self.path = os.path.join(scratch, "lake", "orders")
        self.rng = np.random.Generator(np.random.PCG64(seed))
        base = int(gen.BASE["orders"] * self.scale)
        self.n_append = max(10, base // 30)
        self.n_delete = max(4, base // 750)
        self.update_range = max(20, base // 75)
        self.n_merge = max(10, base // 150)
        self.n_cust = max(1, int(gen.BASE["customer"] * self.scale))
        self.next_key = base
        self.iterations = 0
        self.alive = np.ones(base, dtype=bool)
        #: The op sequence as the DuckDB model replays it after the loop.
        self.log: list[tuple] = []
        #: (iteration, from_version, to_version) of every change-feed read.
        self.feeds: list[tuple[int, int, int]] = []
        self.bytes_submitted = 0
        self.results: list[dict] = []
        #: Largest size seen of every file ever under the table directory.
        self.files_seen: dict[str, int] = {}

    def stage(self, spark):
        """Write the base version, then one warm-up iteration (built
        lazily: its requests need the base's schema and version)."""
        from argodb_mapreduce_spark.catalog import load_table
        from argodb_mapreduce_spark.sources import versioned as V

        def write_base():
            base = load_table(spark, self.sf_dir, "orders").select(*ORDER_COLS)
            self.schema = base.schema
            self.version = V.versioned_write(base, self.path, mode="overwrite")
            V.enable_change_data_feed(self.path)
            self.log.append(("base", os.path.join(self.sf_dir, "orders.parquet")))

        yield Op("versioned_write_base", "sources.versioned", write_base)
        yield from self._iteration(spark)

    # -- request construction (client side, outside every op span) -------

    def _rows(self, keys: np.ndarray):
        import pandas as pd
        import pyarrow as pa

        n = len(keys)
        rng = self.rng
        pdf = pd.DataFrame(
            {
                "o_orderkey": keys.astype("int64"),
                "o_custkey": rng.integers(0, self.n_cust, n).astype("int64"),
                "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n)],
                "o_totalprice": np.round(rng.uniform(900, 500_000, n), 2),
                "o_orderdate": (
                    np.datetime64("1995-01-01") + rng.integers(0, 2405, n).astype("timedelta64[D]")
                ).astype("datetime64[us]"),
                "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                    rng.integers(0, 5, n)
                ],
            }
        )
        self.bytes_submitted += pa.Table.from_pandas(pdf, preserve_index=False).nbytes
        return pdf

    def _new_keys(self, n: int) -> np.ndarray:
        keys = np.arange(self.next_key, self.next_key + n, dtype="int64")
        self.next_key += n
        self.alive = np.concatenate([self.alive, np.zeros(n, dtype=bool)])
        return keys

    def _live_sample(self, n: int, below: int) -> np.ndarray:
        live = np.flatnonzero(self.alive[:below])
        return np.sort(self.rng.choice(live, size=min(n, len(live)), replace=False)).astype("int64")

    def next_pass(self, spark) -> list[Op]:
        return self._iteration(spark)

    def _iteration(self, spark) -> list[Op]:
        """The ops of one iteration, with their requests built here, on
        the client side, outside every op span. Ops run in list order,
        so each commit sees its predecessor's version."""
        from pyspark.sql import functions as F

        from argodb_mapreduce_spark.sources import versioned as V

        mod = "sources.versioned"
        index = self.iterations
        self.iterations += 1
        start = self.version
        self._note_files()

        # Deletes, updates, merges and the point read target keys committed
        # before this iteration, which the previous compaction put in one
        # segment: every iteration touches the same segments, so its job
        # count does not depend on the seed.
        old = self.next_key
        append_keys = self._new_keys(self.n_append)
        append_pdf = self._rows(append_keys)
        self.alive[append_keys] = True
        delete_keys = self._live_sample(self.n_delete, old)
        self.alive[delete_keys] = False
        lo = int(self.rng.integers(0, old - self.update_range))
        hi = lo + self.update_range
        merge_keys = np.concatenate(
            [self._live_sample(self.n_merge // 2, old), self._new_keys(self.n_merge - self.n_merge // 2)]
        )
        merge_pdf = self._rows(merge_keys)
        self.alive[merge_keys] = True
        point_key = int(self._live_sample(1, old)[0])
        self.log += [
            ("append", append_pdf),
            ("delete", delete_keys),
            ("update", lo, hi),
            ("merge", merge_pdf),
        ]
        append_df = spark.createDataFrame(append_pdf, schema=self.schema)
        delete_df = spark.createDataFrame([(int(k),) for k in delete_keys], "o_orderkey long")
        merge_df = spark.createDataFrame(merge_pdf, schema=self.schema)

        def commit(result, version):
            self.results.append(result if isinstance(result, dict) else {"version": version})
            self.version = version
            return result

        def append():
            v = V.versioned_write(append_df, self.path, mode="append")
            return commit({"version": v}, v)

        def delete():
            v, n = V.delete_keys(spark, self.path, delete_df, "o_orderkey")
            return commit({"version": v, "rows_deleted": n}, v)

        def update():
            r = V.update_where(
                spark,
                self.path,
                [("o_orderkey", ">=", lo), ("o_orderkey", "<", hi)],
                {"o_custkey": F.col("o_custkey") + 1, "o_orderstatus": F.lit("U")},
            )
            return commit(r, r["version"])

        def merge():
            r = V.merge_upsert(spark, self.path, merge_df, "o_orderkey")
            return commit(r, r["version"])

        def point_read():
            return V.snapshot_read(spark, self.path, predicates=[("o_orderkey", "=", point_key)])

        def full_read():
            return V.snapshot_read(spark, self.path).agg(
                F.count("*").alias("n"), F.sum("o_orderkey").alias("keys"), F.sum("o_custkey").alias("custs")
            )

        def feed():
            self.feeds.append((index, start, self.version))
            return V.change_feed(spark, self.path, start, self.version)

        def compact():
            v = V.compact(spark, self.path)
            return commit({"version": v}, v)

        def vacuum():
            return V.vacuum(self.path, keep_versions=self.keep_versions)

        return [
            Op("append", mod, append),
            Op("delete_keys", mod, delete),
            Op("update_where", mod, update),
            Op("merge_upsert", mod, merge),
            Op("snapshot_read_point", mod, point_read),
            Op("snapshot_read_full", mod, full_read),
            Op("change_feed", mod, feed),
            Op("compact", mod, compact),
            Op("vacuum", mod, vacuum),
        ]

    def _note_files(self) -> dict[str, int]:
        files = {
            os.path.join(r, f): os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(self.path) for f in fs
        }
        for f, size in files.items():
            self.files_seen[f] = max(size, self.files_seen.get(f, 0))
        return files

    def summary(self) -> dict:
        """Write and space amplification of the loop. Files are written
        once and only vacuum deletes them, so the distinct files seen at
        the start of each pass and at the end are every file written;
        the manifest, rewritten on each commit, counts once."""
        from argodb_mapreduce_spark.sources import manifest_log
        from argodb_mapreduce_spark.sources import versioned as V

        final = self._note_files()
        head = V._read_manifest(self.path)[-1]
        roots = tuple(os.path.join(self.path, seg) + os.sep for seg in head["segments"])
        live = sum(size for f, size in final.items() if f.startswith(roots))
        written = sum(self.files_seen.values())
        rewrites = [r for r in self.results if "segments_total" in r]
        return {
            "bytes_written": written,
            "files_written": len(self.files_seen),
            "bytes_submitted": self.bytes_submitted,
            "write_amp": written / max(1, self.bytes_submitted),
            "bytes_on_disk": sum(final.values()),
            "live_segment_bytes": live,
            "space_amp": sum(final.values()) / max(1, live),
            "rewrite_frac": sum(r["segments_rewritten"] for r in rewrites)
            / max(1, sum(r["segments_total"] for r in rewrites)),
            "manifest_log_bytes": sum(
                size for f, size in final.items() if f.startswith(os.path.join(self.path, manifest_log.LOG_DIR) + os.sep)
            ),
            "versions": len(V.versions(self.path)),
        }

    # -- correctness: a DuckDB model of the same op sequence --------------

    def check(self, spark) -> list[str]:
        """The table after the loop against a DuckDB model of the same op
        sequence: row count, key sum and customer-key sum, and the row
        count per ``_change_type`` of every change feed still readable."""
        import duckdb
        from pyspark.sql import functions as F

        from argodb_mapreduce_spark.sources import versioned as V

        con = duckdb.connect()
        feeds: list[Counter] = []
        try:
            for entry in self.log:
                kind = entry[0]
                if kind == "base":
                    con.execute(
                        f"CREATE TABLE m AS SELECT o_orderkey AS k, o_custkey AS c FROM read_parquet('{entry[1]}')"
                    )
                    continue
                if kind == "append":
                    feeds.append(Counter())
                    feeds[-1]["insert"] += len(entry[1])
                    con.register("src", entry[1])
                    con.execute("INSERT INTO m SELECT o_orderkey, o_custkey FROM src")
                elif kind == "delete":
                    con.execute("CREATE OR REPLACE TEMP TABLE dk AS SELECT unnest(?::BIGINT[]) AS k", [entry[1].tolist()])
                    feeds[-1]["delete"] += con.execute("SELECT count(*) FROM m SEMI JOIN dk USING (k)").fetchone()[0]
                    con.execute("DELETE FROM m WHERE k IN (SELECT k FROM dk)")
                elif kind == "update":
                    _, lo, hi = entry
                    n = con.execute("SELECT count(*) FROM m WHERE k >= ? AND k < ?", [lo, hi]).fetchone()[0]
                    feeds[-1]["update_preimage"] += n
                    feeds[-1]["update_postimage"] += n
                    con.execute("UPDATE m SET c = c + 1 WHERE k >= ? AND k < ?", [lo, hi])
                elif kind == "merge":
                    con.register("src", entry[1])
                    matched = con.execute("SELECT count(*) FROM m WHERE k IN (SELECT o_orderkey FROM src)").fetchone()[0]
                    feeds[-1]["update_preimage"] += matched
                    feeds[-1]["update_postimage"] += matched
                    feeds[-1]["insert"] += len(entry[1]) - matched
                    con.execute("DELETE FROM m WHERE k IN (SELECT o_orderkey FROM src)")
                    con.execute("INSERT INTO m SELECT o_orderkey, o_custkey FROM src")
            want = con.execute("SELECT count(*), sum(k), sum(c) FROM m").fetchone()
        finally:
            con.close()

        failures = []
        got = (
            V.snapshot_read(spark, self.path)
            .agg(F.count("*"), F.sum("o_orderkey"), F.sum("o_custkey"))
            .collect()[0]
        )
        if tuple(int(x) for x in got) != tuple(int(x) for x in want):
            failures.append(f"lake_dml: table (rows, key sum, cust sum) {tuple(got)} != model {want}")
        retained = set(V.versions(self.path))
        checked = 0
        for index, lo, hi in self.feeds:
            if lo not in retained or hi not in retained:
                continue
            rows = V.change_feed(spark, self.path, lo, hi).groupBy("_change_type").count().collect()
            got_feed = {r[0]: r[1] for r in rows}
            want_feed = {t: n for t, n in feeds[index].items() if n}
            checked += 1
            if got_feed != want_feed:
                failures.append(f"lake_dml: change feed of iteration {index}: {got_feed} != model {want_feed}")
        if self.feeds and not checked:
            failures.append("lake_dml: no iteration's change feed was still retained to check")
        return failures
