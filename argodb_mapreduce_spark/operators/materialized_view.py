"""Incremental materialized-view maintenance over the versioned store.

The reference delegates every aggregate to user MapReduce code and
recomputes from scratch each run (its InputFormat has no notion of a
derived table — ArgodbMapreduceInputFormat.java scans, nothing more).
Lake engines close that gap with INCREMENTALLY MAINTAINED materialized
views (Delta Live Tables, Materialize, Snowflake dynamic tables): a
stored aggregate plus a log-aware refresh that consumes only the data
added since the last refresh and MERGES it into the stored state.

This module implements the pattern over ``sources.versioned``:

* an MV is itself a versioned table (so its refreshes are snapshots —
  readers pin a consistent MV version while a refresh publishes);
* its ``_mv.json`` metadata records the BASE VERSION the stored state
  reflects plus the aggregate spec (group keys, mergeable measures);
* ``mv_refresh`` inspects the base manifest: if every version since the
  recorded one is a pure append (same segments + one new, unchanged
  deletion vector), it aggregates ONLY the new segments and full-outer
  merges the partials into the stored state — O(delta), never O(base);
* r11: if the span mixes appends with DV DELETES, the refresh consumes
  the CHANGE DATA FEED instead — inserts aggregate with sign +1 and
  recovered delete rows with sign -1 (COUNT/SUM are SUBTRACTABLE), the
  signed partials merge into the stored state, and groups whose count
  reaches zero are eliminated (matching a from-scratch recompute) —
  still O(changes), the Materialize/dynamic-table contract THROUGH
  deletes; anything else (overwrite, compaction, rollback) falls back
  to a full recompute, exactly when incremental maintenance would be
  unsound.

Only MERGEABLE measures are maintained (SUM, COUNT — AVG derives as
SUM/COUNT): the classic self-maintainable (and subtractable) aggregate
class. MIN/MAX are append-safe but not delete-safe; a delete would
force full refresh for them, which the transition gate already
handles.

At 100 TB this is the difference between a nightly full-table aggregate
and an O(today's ingest) merge: the refresh cost tracks the delta, and
the merge shuffles only |MV| + |delta groups| rows.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from argodb_mapreduce_spark.catalog import fixture_stale, load_table, read_parquet, table_path
from argodb_mapreduce_spark.registry import register
from argodb_mapreduce_spark.sources.versioned import (
    MANIFEST,
    _read_manifest,
    snapshot_read,
    versioned_write,
    versions,
)

_MV_META = "_mv.json"


def _agg_columns(sum_cols: list[str]):
    """COUNT(*) plus exact BIGINT sums — the mergeable measure set."""
    return [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(c).cast("long").alias(f"sum_{c}") for c in sum_cols
    ]


def mv_create(
    spark: SparkSession,
    base_path: str,
    mv_path: str,
    group_cols: list[str],
    sum_cols: list[str],
) -> int:
    """Materialize the aggregate at the base table's LATEST version."""
    base_version = _read_manifest(base_path)[-1]["version"]
    agg = (
        snapshot_read(spark, base_path, base_version)
        .groupBy(*group_cols)
        .agg(*_agg_columns(sum_cols))
    )
    versioned_write(agg, mv_path, mode="overwrite")
    with open(os.path.join(mv_path, _MV_META), "w") as f:
        json.dump(
            {
                "base_path": base_path,
                "base_version": base_version,
                "group_cols": group_cols,
                "sum_cols": sum_cols,
            },
            f,
        )
    return base_version


def _appended_segments_since(base_path: str, since_version: int) -> list[str] | None:
    """New segments if history since ``since_version`` is pure appends,
    else None (incremental maintenance unsound: overwrite/delete/
    compaction rewrote or tombstoned rows the stored state already
    aggregated)."""
    entries = [e for e in _read_manifest(base_path) if e["version"] >= since_version]
    if not entries or entries[0]["version"] != since_version:
        # VACUUM trimmed the manifest past the MV's recorded base: the
        # gap's transitions are unknowable, so an "incremental" scope
        # would silently skip them (r13 code-review finding — this
        # corrupted the MV permanently). Unsound -> None.
        return None
    new: list[str] = []
    for prev, cur in zip(entries, entries[1:]):
        pure_append = (
            cur["segments"][: len(prev["segments"])] == prev["segments"]
            and len(cur["segments"]) == len(prev["segments"]) + 1
            and cur.get("dv") == prev.get("dv")
        )
        if not pure_append:
            return None
        new.append(cur["segments"][-1])
    return new


def _cdf_maintainable_since(base_path: str, since_version: int) -> bool:
    """True when every transition since ``since_version`` is
    change-feed-expressible — since r14 that is EVERY manifest
    transition: appends, DV deletes, retention drops, ``data_change:
    false`` maintenance (zero legs), overwrite/RESTORE AND un-CDC
    UPDATE/MERGE (file-level synthesized legs — unchanged rows in
    rewritten segments arrive as net-zero signed pairs, so a
    SUBTRACTABLE aggregate absorbs them exactly). The one remaining
    recompute trigger mirrors change_feed's 'unknown versions' raise: a
    vacuumed base has no feed span from the MV's version — the sound
    path is the full recompute, never a crash."""
    entries = [e for e in _read_manifest(base_path) if e["version"] >= since_version]
    return bool(entries) and entries[0]["version"] == since_version


def _merge_partials(stored: DataFrame, partial: DataFrame, group_cols, measures):
    """Full-outer merge of signed/unsigned partials into the stored
    state — the one shuffle of an incremental refresh, |MV| + |delta
    groups| rows. NULL-SAFE on the group keys (r13 code-review
    finding): a NULL group exists in any aggregate over a nullable
    grouping column, and plain EqualTo would keep the stored and signed
    NULL rows as two separate (wrong) rows instead of merging them."""
    cond = None
    for c in group_cols:
        e = F.col(f"s.{c}").eqNullSafe(F.col(f"d.{c}"))
        cond = e if cond is None else (cond & e)
    merged = stored.alias("s").join(partial.alias("d"), on=cond, how="full_outer")
    return merged.select(
        *[
            F.coalesce(F.col(f"s.{c}"), F.col(f"d.{c}")).alias(c)
            for c in group_cols
        ],
        *[
            (
                F.coalesce(F.col(f"s.{m}"), F.lit(0))
                + F.coalesce(F.col(f"d.{m}"), F.lit(0))
            ).alias(m)
            for m in measures
        ],
    )


def mv_refresh(spark: SparkSession, mv_path: str) -> dict:
    """Bring the MV up to the base table's latest version.

    Returns ``{"mode": "incremental"|"incremental-cdf"|"full"|"noop",
    "delta_segments": N, "base_version": V}``. Incremental reads ONLY
    the appended segments (asserted via the delta plan's file list in
    tests); incremental-cdf consumes the change feed — O(changes) even
    through DV deletes — and eliminates groups whose live count reaches
    zero, matching a from-scratch recompute."""
    from argodb_mapreduce_spark.sources.versioned import change_feed

    with open(os.path.join(mv_path, _MV_META)) as f:
        meta = json.load(f)
    base_path = meta["base_path"]
    latest = _read_manifest(base_path)[-1]["version"]
    if latest == meta["base_version"]:
        return {"mode": "noop", "delta_segments": 0, "base_version": latest}
    new_segments = _appended_segments_since(base_path, meta["base_version"])
    group_cols, sum_cols = meta["group_cols"], meta["sum_cols"]
    measures = ["n_rows"] + [f"sum_{c}" for c in sum_cols]
    if new_segments is not None:
        delta = read_parquet(
            spark, *[os.path.join(base_path, s) for s in new_segments]
        )
        partial = delta.groupBy(*group_cols).agg(*_agg_columns(sum_cols))
        agg = _merge_partials(
            snapshot_read(spark, mv_path), partial, group_cols, measures
        )
        mode, n_delta = "incremental", len(new_segments)
    elif _cdf_maintainable_since(base_path, meta["base_version"]):
        # Appends mixed with DV deletes and CDF UPDATE/MERGE commits:
        # consume the CHANGE FEED with signed partials — +1 for rows
        # entering the table (insert, update_postimage), -1 for rows
        # leaving it (delete, update_preimage) — COUNT/SUM subtract, so
        # an update contributes (new - old) to every affected group,
        # including moving a row BETWEEN groups when the update rewrote
        # a grouping column.
        feed = change_feed(spark, base_path, meta["base_version"], latest)
        sign = F.when(
            F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
        ).otherwise(F.lit(-1))
        partial = feed.groupBy(*group_cols).agg(
            F.sum(sign).cast("long").alias("n_rows"),
            *[
                F.sum(sign * F.col(c)).cast("long").alias(f"sum_{c}")
                for c in sum_cols
            ],
        )
        agg = _merge_partials(
            snapshot_read(spark, mv_path), partial, group_cols, measures
        ).filter(F.col("n_rows") != 0)
        mode, n_delta = "incremental-cdf", latest - meta["base_version"]
    else:
        agg = (
            snapshot_read(spark, base_path, latest)
            .groupBy(*group_cols)
            .agg(*_agg_columns(sum_cols))
        )
        mode, n_delta = "full", 0
    versioned_write(agg, mv_path, mode="overwrite")
    meta["base_version"] = latest
    with open(os.path.join(mv_path, _MV_META), "w") as f:
        json.dump(meta, f)
    return {"mode": mode, "delta_segments": n_delta, "base_version": latest}


# ---------------------------------------------------------------------------
# Registered query
# ---------------------------------------------------------------------------


def _scratch(sf_dir: str, name: str) -> str:
    import tempfile

    tag = sf_dir.strip("/").replace("/", "_")
    return os.path.join(tempfile.gettempdir(), "argodb_mapreduce_spark", tag, name)


def _build_mv_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, str, dict]:
    """Base: v0 = 3/5 of orders, then two appends. MV created at v0,
    refreshed once across both appends — the daily-rollup shape."""
    base = _scratch(sf_dir, "orders_mv_base")
    mv = _scratch(sf_dir, "orders_mv")
    src = table_path(sf_dir, "orders")
    marker = os.path.join(mv, "_REFRESHED")
    if not fixture_stale(src, marker):
        with open(marker) as f:
            return base, mv, json.load(f)
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(mv, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders")
    versioned_write(o.filter(F.col("o_orderkey") % 5 <= 2), base, mode="append")
    mv_create(spark, base, mv, ["o_orderpriority"], ["o_orderkey"])
    versioned_write(o.filter(F.col("o_orderkey") % 5 == 3), base, mode="append")
    versioned_write(o.filter(F.col("o_orderkey") % 5 == 4), base, mode="append")
    summary = mv_refresh(spark, mv)
    with open(marker, "w") as f:
        json.dump(summary, f)
    return base, mv, summary


@register(
    "mv_incremental_refresh",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_o_orderkey,
           'incremental' AS refresh_mode,
           2 AS delta_segments
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("mv", "incremental", "snapshot", "aggregation"),
    doc=(
        "Incrementally maintained MATERIALIZED VIEW: an aggregate "
        "(count + sum per order priority) is materialized at base "
        "version 0, the base receives two appends, and ONE refresh "
        "consumes exactly the two appended segments — aggregating the "
        "delta and full-outer-merging the partials into the stored "
        "state without rescanning version-0 data (file-set asserted in "
        "tests/test_round9b_ops.py). The oracle pins the refreshed MV "
        "to a from-scratch aggregate over the full base, plus the "
        "refresh mode and delta-segment count. Overwrites/deletes in "
        "base history force a full recompute (tested) — the soundness "
        "gate every incremental-view engine needs."
    ),
)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: refresh cost is O(delta rows) + a shuffle of |MV| +
    |delta groups| rows; the stored MV is read through its own
    manifest-pinned snapshot, so concurrent readers never see a
    half-merged state. The full-history fallback is the correctness
    escape hatch, not the steady state."""
    _base, mv, summary = _build_mv_fixture(spark, sf_dir)
    return snapshot_read(spark, mv).select(
        "o_orderpriority",
        "n_rows",
        "sum_o_orderkey",
        F.lit(summary["mode"]).alias("refresh_mode"),
        F.lit(summary["delta_segments"]).alias("delta_segments"),
    )


# ---------------------------------------------------------------------------
# MV query answering (materialized-view rewrite)
# ---------------------------------------------------------------------------


class StaleMaterializedView(RuntimeError):
    """The MV's stored state predates the base table's head."""


def mv_answer(spark: SparkSession, mv_path: str, group_cols: list[str]) -> DataFrame:
    """Answer an aggregate query FROM the stored MV — materialized-view
    rewrite, the optimizer feature that turns a base-table aggregate
    into an MV read (Oracle/Calcite "MV rewrite", Databricks automatic
    MV routing).

    ``group_cols`` must be a subset of the MV's group keys: the exact
    key set returns the stored state directly; a coarser set ROLLS UP
    the stored partials (COUNT and SUM are re-aggregable — the same
    mergeable-measure property mv_refresh relies on). Freshness is
    gated: if the base table advanced past the MV's recorded version,
    answering would silently serve stale data — fail loud, refresh
    first (checked against the base manifest, O(1) metadata).

    At 100 TB: the rewrite answers from |MV| rows instead of the base
    table — the difference between a dashboard query reading kilobytes
    of rollup and re-scanning the fact table."""
    with open(os.path.join(mv_path, _MV_META)) as f:
        meta = json.load(f)
    base_head = _read_manifest(meta["base_path"])[-1]["version"]
    if base_head != meta["base_version"]:
        raise StaleMaterializedView(
            f"MV reflects base v{meta['base_version']} but head is "
            f"v{base_head}; mv_refresh() first"
        )
    if not set(group_cols) <= set(meta["group_cols"]):
        raise ValueError(
            f"cannot answer group-by {group_cols} from an MV keyed by "
            f"{meta['group_cols']}"
        )
    stored = snapshot_read(spark, mv_path)
    measures = ["n_rows"] + [f"sum_{c}" for c in meta["sum_cols"]]
    if list(group_cols) == list(meta["group_cols"]):
        return stored
    return stored.groupBy(*group_cols).agg(
        *[F.sum(m).cast("long").alias(m) for m in measures]
    )


@register(
    "mv_query_rewrite",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_o_orderkey,
           TRUE AS answered_from_mv,
           TRUE AS rollup_consistent
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("mv", "rewrite", "snapshot"),
    doc=(
        "Materialized-view QUERY REWRITE: the per-priority aggregate "
        "over the base table is answered from the refreshed MV's "
        "stored state — answered_from_mv is pinned TRUE only if every "
        "input file of the answering plan lives under the MV table "
        "(the base is never scanned) — and the values hash-match the "
        "from-scratch base aggregate. rollup_consistent additionally "
        "pins that the MV's coarser GLOBAL rollup (re-aggregated "
        "mergeable partials) equals the sum of the per-key answer. "
        "Freshness is gated: answering from an MV behind the base head "
        "raises (tested), so a rewrite can never silently serve stale "
        "data. The dashboard-query path every warehouse builds on MVs."
    ),
)
def mv_query_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the answer reads |MV| rows (one small versioned table);
    freshness is one manifest comparison. The base fact table is not
    touched — asserted via the plan's file list, not argued."""
    _base, mv, _summary = _build_mv_fixture(spark, sf_dir)
    ans = mv_answer(spark, mv, ["o_orderpriority"])
    mv_abs = os.path.abspath(mv) + os.sep

    def _local(uri: str) -> str:
        # "file:///tmp/x" / "file:/tmp/x" / "/tmp/x" -> "/tmp/x"
        return "/" + uri.split(":", 1)[-1].lstrip("/") if ":" in uri else uri

    from_mv = all(_local(f).startswith(mv_abs) for f in ans.inputFiles())
    # Coarser rollup from the same partials must equal the fine answer.
    total = mv_answer(spark, mv, []).first()
    fine = ans.agg(
        F.sum("n_rows").cast("long").alias("n"),
        F.sum("sum_o_orderkey").cast("long").alias("s"),
    ).first()
    rollup_ok = (total.n_rows, total.sum_o_orderkey) == (fine.n, fine.s)
    return ans.select(
        "o_orderpriority",
        F.col("n_rows").cast("long"),
        F.col("sum_o_orderkey").cast("long"),
        F.lit(from_mv).alias("answered_from_mv"),
        F.lit(rollup_ok).alias("rollup_consistent"),
    )


def _cached_mv_history(spark, sf_dir: str, name: str, build) -> tuple[str, str]:
    """Build-once cache of a deterministic (base history, CREATED MV)
    input pair (r14 opt, guide §1.2 — the batch-5 staging contract):
    the base's DML-bearing history and the MV materialized mid-history
    are INPUTS with a deterministic terminal state, so they stage once
    per source fixture (mtime-keyed, `_STAGED` marker written last so a
    crashed half-build rebuilds). The refresh — the declared
    computation of every mv_refresh_through_* query — runs per call on
    a clone_table fork (see :func:`_fork_and_refresh`), never here."""
    base = _scratch(sf_dir, f"{name}_base")
    mv0 = _scratch(sf_dir, f"{name}_mv0")
    src = table_path(sf_dir, "orders")
    marker = os.path.join(mv0, "_STAGED")
    if (
        fixture_stale(src, marker)
        or versions(mv0) != [0]
        or not os.path.exists(os.path.join(base, MANIFEST))
    ):
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(mv0, ignore_errors=True)
        build(load_table(spark, sf_dir, "orders"), base, mv0)
        with open(marker, "w") as f:
            f.write("ok")
    return base, mv0


def _fork_and_refresh(spark, sf_dir: str, name: str, mv0: str) -> tuple[str, dict]:
    """Per-call clone_table fork of the created MV (O(manifest), zero
    Spark jobs) + a LIVE mv_refresh on the fork — the refresh's feed
    reads and signed-partial merge are exactly what they were on a
    freshly built MV (the fork's `_mv.json` still points at the shared
    base, which no refresh mutates)."""
    import shutil

    from argodb_mapreduce_spark.sources.versioned import clone_table

    fork = _scratch(sf_dir, f"{name}_mv")
    shutil.rmtree(fork, ignore_errors=True)
    clone_table(mv0, fork)
    shutil.copyfile(os.path.join(mv0, _MV_META), os.path.join(fork, _MV_META))
    summary = mv_refresh(spark, fork)
    return fork, summary


def _build_mv_cdf_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, str, dict]:
    """v0/v1 appends (%3 of orders), MV materialized, then a DV DELETE
    of the 'F' rows AND a third append — the mixed span only the CDF
    path can maintain. History + created MV cache (deterministic
    inputs); the refresh runs per call on a fork."""

    def build(o, base, mv0):
        from argodb_mapreduce_spark.sources.versioned import delete_where

        versioned_write(o.filter(F.col("o_orderkey") % 3 == 0), base, mode="append")
        versioned_write(o.filter(F.col("o_orderkey") % 3 == 1), base, mode="append")
        mv_create(spark, base, mv0, ["o_orderpriority"], ["o_orderkey"])
        delete_where(spark, base, [("o_orderstatus", "=", "F")])
        versioned_write(o.filter(F.col("o_orderkey") % 3 == 2), base, mode="append")

    base, mv0 = _cached_mv_history(spark, sf_dir, "mvcdf", build)
    mv, summary = _fork_and_refresh(spark, sf_dir, "mvcdf", mv0)
    return base, mv, summary


@register(
    "mv_refresh_through_delete",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_o_orderkey,
           'incremental-cdf' AS refresh_mode
    FROM orders
    WHERE (o_orderkey % 3 IN (0, 1) AND o_orderstatus <> 'F')
       OR o_orderkey % 3 = 2
    GROUP BY o_orderpriority
    """,
    tags=("mv", "incremental", "cdc", "deletion-vector"),
    doc=(
        "MV MAINTENANCE THROUGH DELETES (r11): a refresh span mixing a "
        "DV DELETE with appends previously forced the sound-but-O(base) "
        "full recompute; the refresh now consumes the CHANGE DATA FEED "
        "with SIGNED partials (+1 insert rows, -1 recovered delete "
        "rows — COUNT/SUM are subtractable), merges them into the "
        "stored state, and eliminates zero-count groups. The oracle "
        "pins the refreshed MV equal to a from-scratch aggregate over "
        "exactly the live rows, with the refresh mode itself in the "
        "hash. Still O(changes): the feed reads the delta segment plus "
        "only the DV-touched files — the Materialize/dynamic-table "
        "contract extended through row deletes."
    ),
)
def mv_refresh_through_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the signed-partial merge shuffles |MV| + |changed groups|
    rows; the feed cost is the day's changes, never the base — the
    refresh a 100 TB nightly pipeline runs after GDPR deletes land."""
    _base, mv, summary = _build_mv_cdf_fixture(spark, sf_dir)
    meta_cols = ["o_orderpriority"]
    return snapshot_read(spark, mv).select(
        *meta_cols,
        F.col("n_rows"),
        F.col("sum_o_orderkey"),
        F.lit(summary["mode"]).alias("refresh_mode"),
    )


def _build_mv_update_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, str, dict]:
    """v0/v1 appends (%3 of orders), MV materialized, then a
    CDF-recorded UPDATE that MOVES the 'F' rows into a new group
    ('0-MOVED' priority) AND a third append — a span only signed update
    pre/postimages can maintain. History + created MV cache
    (deterministic inputs); the refresh runs per call on a fork."""

    def build(o, base, mv0):
        from argodb_mapreduce_spark.sources.versioned import (
            enable_change_data_feed,
            update_where,
        )

        versioned_write(o.filter(F.col("o_orderkey") % 3 == 0), base, mode="append")
        versioned_write(o.filter(F.col("o_orderkey") % 3 == 1), base, mode="append")
        mv_create(spark, base, mv0, ["o_orderpriority"], ["o_orderkey"])
        enable_change_data_feed(base)
        update_where(
            spark,
            base,
            [("o_orderstatus", "=", "F")],
            {"o_orderpriority": F.lit("0-MOVED")},
        )
        versioned_write(o.filter(F.col("o_orderkey") % 3 == 2), base, mode="append")

    base, mv0 = _cached_mv_history(spark, sf_dir, "mvupd", build)
    mv, summary = _fork_and_refresh(spark, sf_dir, "mvupd", mv0)
    return base, mv, summary


@register(
    "mv_refresh_through_update",
    oracle="""
    SELECT CASE WHEN o_orderkey % 3 IN (0, 1) AND o_orderstatus = 'F'
                THEN '0-MOVED' ELSE o_orderpriority END AS o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_o_orderkey,
           'incremental-cdf' AS refresh_mode
    FROM orders
    GROUP BY 1
    """,
    tags=("mv", "incremental", "cdc", "update"),
    doc=(
        "MV MAINTENANCE THROUGH UPDATES: a refresh span mixing a "
        "CDF-recorded UPDATE with an append is maintained from the "
        "change feed's signed legs — update_preimage rows subtract from "
        "the group the row LEFT, update_postimage rows add to the group "
        "it ENTERED (the UPDATE rewrites the GROUPING column itself, "
        "moving every 'F' row into a new '0-MOVED' group), and the "
        "append's inserts add normally. The oracle pins the refreshed "
        "MV equal to a from-scratch aggregate over the post-update "
        "table, refresh mode in the hash. O(changes): the feed reads "
        "the cdc sidecar + the delta segment, never the base — the "
        "dynamic-table contract extended through row updates."
    ),
)
def mv_refresh_through_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: identical to the delete path — |MV| + |changed groups|
    shuffle, feed cost = the day's updated rows. Group movement needs
    no special case: an update is exactly (-old, +new) in the signed
    partial, whichever groups the two images land in."""
    _base, mv, summary = _build_mv_update_fixture(spark, sf_dir)
    return snapshot_read(spark, mv).select(
        "o_orderpriority",
        F.col("n_rows"),
        F.col("sum_o_orderkey"),
        F.lit(summary["mode"]).alias("refresh_mode"),
    )


def _build_mv_restore_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, str, dict]:
    """v0/v1 appends, MV materialized, then a DV DELETE of the 'F'
    rows, a RESTORE that UNDOES it (rollback to v1 — resurrection
    legs), and a third append — a span only the r13 synthesized feed
    can maintain (it KILLED the refresh before). History + created MV
    cache (deterministic inputs); the refresh runs per call on a fork."""

    def build(o, base, mv0):
        from argodb_mapreduce_spark.sources.versioned import delete_where, rollback

        versioned_write(o.filter(F.col("o_orderkey") % 3 == 0), base, mode="append")
        versioned_write(o.filter(F.col("o_orderkey") % 3 == 1), base, mode="append")
        mv_create(spark, base, mv0, ["o_orderpriority"], ["o_orderkey"])
        delete_where(spark, base, [("o_orderstatus", "=", "F")])  # v2: DV
        rollback(base, 1)  # v3: RESTORE undoes the delete (resurrection)
        versioned_write(o.filter(F.col("o_orderkey") % 3 == 2), base, mode="append")

    base, mv0 = _cached_mv_history(spark, sf_dir, "mvrst", build)
    mv, summary = _fork_and_refresh(spark, sf_dir, "mvrst", mv0)
    return base, mv, summary


@register(
    "mv_refresh_through_restore",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_o_orderkey,
           'incremental-cdf' AS refresh_mode
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("mv", "incremental", "cdc", "rollback", "restore"),
    doc=(
        "MV MAINTENANCE THROUGH RESTORE (r13 composition): the refresh "
        "span mixes a DV DELETE, a RESTORE that undoes it, and an "
        "append. The signed-partial merge needs NO new code — the "
        "synthesized restore legs are ordinary insert/delete legs, so "
        "the delete subtracts the 'F' groups, the resurrection adds "
        "them back, and the append adds the third segment; the net MV "
        "equals a from-scratch aggregate over the WHOLE table "
        "(oracle-pinned, refresh mode in the hash). Before r13 a "
        "RESTORE on the base forced every downstream MV into the "
        "O(base) full recompute; now it costs O(restored changes)."
    ),
)
def mv_refresh_through_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the restore contributes O(changed files + DV delta) feed
    legs; the merge shuffles |MV| + |changed groups| rows — a RESTORE
    on a 100 TB base costs its MVs the restored change volume."""
    _base, mv, summary = _build_mv_restore_fixture(spark, sf_dir)
    return snapshot_read(spark, mv).select(
        "o_orderpriority",
        F.col("n_rows"),
        F.col("sum_o_orderkey"),
        F.lit(summary["mode"]).alias("refresh_mode"),
    )


def _build_medallion_fixture(spark: SparkSession, sf_dir: str):
    """Two ingest days through the full medallion: BRONZE lands raw
    batches expectation-gated (injected negative-price rows quarantine),
    SILVER is maintained from bronze's change feed (O(changes), a
    cleansing projection), GOLD is an incrementally refreshed MV on
    silver. Fresh each run (refresh mutates the MV)."""
    import shutil

    from argodb_mapreduce_spark.sources.versioned import (
        add_constraint,
        change_feed,
        enable_change_data_feed,
        versioned_write_expect,
    )

    bronze = _scratch(sf_dir, "medallion_bronze")
    silver = _scratch(sf_dir, "medallion_silver")
    gold = _scratch(sf_dir, "medallion_gold")
    for p in (bronze, bronze + "_quarantine", silver, gold):
        shutil.rmtree(p, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    k = F.col("o_orderkey")

    def raw_day(mod):
        good = o.filter(k % 3 == mod)
        # corrupt COPIES of the %50==0 keys (negated price): the gate
        # must quarantine them while the originals pass
        bad = good.filter(k % 50 == 0).withColumn(
            "o_totalprice", -F.col("o_totalprice")
        )
        return good.unionByName(bad), bad

    os.makedirs(bronze, exist_ok=True)
    add_constraint(spark, bronze, "price_positive", "o_totalprice > 0")
    day1, _ = raw_day(0)
    r1 = versioned_write_expect(day1, bronze)  # bronze v0 + quarantine
    enable_change_data_feed(bronze)

    def cleanse(df):  # the silver projection
        return df.select(
            "o_orderkey",
            "o_orderpriority",
            # prices are 2-decimal values in a double: x*100 sits ~1e-10
            # from an integer, so ROUND-then-cast is engine-identical
            # (a bare cast truncates in Spark but rounds in DuckDB)
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("price_cents"),
        )

    from argodb_mapreduce_spark.sources.versioned import snapshot_read as _sr

    versioned_write(cleanse(_sr(spark, bronze, 0)), silver)  # silver v0
    mv_create(spark, silver, gold, ["o_orderpriority"], ["price_cents"])
    # day 2: gate the batch, maintain silver from bronze's FEED, refresh
    day2, _ = raw_day(1)
    r2 = versioned_write_expect(day2, bronze)
    delta = change_feed(spark, bronze, 0, r2["version"]).filter(
        F.col("_change_type") == "insert"
    )
    versioned_write(cleanse(delta), silver, mode="append")
    summary = mv_refresh(spark, gold)
    quarantined = r1["rows_violating"] + r2["rows_violating"]
    return gold, summary, quarantined


@register(
    "pipeline_medallion",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 50 = 0)
                AS BIGINT) AS rows_quarantined,
           'incremental' AS gold_refresh_mode
    FROM orders WHERE o_orderkey % 3 IN (0, 1)
    GROUP BY o_orderpriority
    """,
    tags=("pipeline", "mv", "cdc", "quarantine", "medallion"),
    doc=(
        "MEDALLION PIPELINE, end to end: two ingest days flow BRONZE "
        "(expectation-gated versioned writes — injected negative-price "
        "copies land in the quarantine table, originals commit) -> "
        "SILVER (maintained from bronze's CHANGE FEED at O(changes): a "
        "cleansing projection of only the day's insert legs, never a "
        "bronze rescan) -> GOLD (an incrementally refreshed MV on "
        "silver; the day-2 refresh mode 'incremental' is pinned in the "
        "hash). The oracle pins gold's content to a from-scratch "
        "aggregate over exactly the clean rows and the quarantine count "
        "to the injected corruption — the bronze/silver/gold "
        "architecture every lakehouse pipeline doc draws, composed "
        "entirely from this store's primitives."
    ),
)
def pipeline_medallion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: each day moves O(day) rows end to end — the gate scans
    the batch, silver consumes the feed's delta segments, gold merges
    signed partials; nothing reprocesses history. The quarantine loop
    (repair + replay) composes on top (snapshot_quarantine_replay)."""
    gold, summary, quarantined = _build_medallion_fixture(spark, sf_dir)
    return snapshot_read(spark, gold).select(
        "o_orderpriority",
        F.col("n_rows"),
        F.col("sum_price_cents").alias("sum_cents"),
        F.lit(quarantined).cast("long").alias("rows_quarantined"),
        F.lit(summary["mode"]).alias("gold_refresh_mode"),
    )

