#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Output layout (designed for a ~2000-char tail capture window):
  1. ONE full summary line (humans / full-stdout parsers):
     {"metric": ..., "value": N, "unit": "sec", "r1_comparable_wall": N,
      "sf": ..., "queries": {...}, "spread": {...}}
  2. per-query SPREADS chunked into small JSON lines, keys "d_<query>";
  3. per-query MEDIANS (of 3 runs) chunked the same way, keys
     "m_<query>" (VERDICT r10 #7: medians + per-query spread make
     round-over-round deltas separable from VM noise);
  4. per-query TIMES (min of 3) chunked, keys "t_<query>";
  5. the VERY LAST line: a totals-only JSON line under 280 chars.

Why: BENCH_r05 and BENCH_r06 both recorded "parsed": null — the full
summary line is ~4.4 KB with 67 queries x 2 dicts, more than twice the
driver's 2000-char tail window, so printing it twice (the r5 fix) left
the tail entirely inside the second copy's trailing "spread" dict and
every per-query time was unrecoverable (VERDICT r6 What's-wrong #1).
Now the last ~2000 chars always contain the complete totals line plus
the most recent time chunks; each chunk line is an independently
parseable JSON object <=450 chars, and the distinct "t_"/"d_" key
prefixes make times and spreads unambiguous to a scavenging parser.
Times are printed AFTER spreads so the tail window preferentially
keeps times.

"spread" is the measured per-query noise floor: (max - min) wall over
the 3 runs, in seconds. The host VM has multi-second noisy-neighbor
drift (same plan, same data: 1.4-2.2x between same-day runs — commit
9d396cd), so a cross-round delta smaller than the spread is machine
noise, not regression.

Each query is fully materialized through the noop sink (count() can
short-circuit column reads; noop forces the whole plan). Wall-clock per
query includes planning + execution, excluding session startup.

r15 additions (timing methodology itself unchanged):
  * an explicit untimed STAGING pre-pass materializes every headline
    query once at the benched SF before any timing, so every mtime-keyed
    derived fixture is built outside the timed region; the timed loop
    runs inside catalog.timed_region(), where a fixture build raises —
    the staging/timed boundary is structural (VERDICT r14 item 2);
  * the full per-query times/median/spread dicts are written to
    bench_per_query.json beside this script (the driver's stdout capture
    keeps only a ~2000-char tail — VERDICT r14 item 3).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from argodb_mapreduce_spark import registry
from argodb_mapreduce_spark.session import get_spark

#: Headline set: one per operator family — scan, agg, join shapes,
#: window, set-op, scalar/JSON, dedup (exact/minhash/simhash/jaccard),
#: similarity (exact + ANN), text, multimodal pandas-UDF, streaming.
HEADLINE = [
    "scan_partition_filter",
    "q1_pricing_summary",
    "q3_top_unshipped",
    "q5_local_supplier_volume",
    "q8_market_share",
    "q18_large_orders",
    "q21_waiting_supplier",
    "join_broadcast_dim",
    "window_moving_sum",
    "topk_per_group",
    "agg_rollup",
    "set_intersect",
    "fn_json",
    "dedup_exact",
    "dedup_minhash_verified",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "similarity_cosine_topk",
    "similarity_ivf_topk",
    "similarity_lsh_neardup",
    "text_tfidf_top_terms",
    "text_fingerprint_winnow",
    "multimodal_frame_sample",
    "stream_window_tumbling",
    "stream_session_window",
    "chunk_documents",
    "pack_sequences",
    "decontam_ngram_overlap",
    "kmeans_lloyd_step",
    "events_rolling_distinct",
    # round-4 additions (not in r1..r3 totals; r1_comparable_wall is the
    # cross-round metric — the full-set total grows with coverage)
    "dedup_containment",
    "text_bm25_topk",
    "sketch_count_min",
    "sketch_rollup_quantile",
    # round-5 additions: the newest operator families get regression
    # visibility (VERDICT r4 next-step 5) + the new DPP showcase
    "join_asof",
    "join_salted_skew",
    "similarity_embedding_clusters",
    "stream_tumbling_live",
    "scan_partition_dynamic",
    # late round-5 additions
    "graph_pagerank",
    "dedup_span_exact",
    "events_sessionize",
    "text_bigram_lm_score",
    "events_anomaly_mad",
    # closing round-5 additions
    "events_markov_transition",
    "graph_triangle_count",
    "dedup_fuzzy_levenshtein",
    "corpus_tv_divergence",
    "sample_weighted_bernoulli",
    "orders_ols_trend",
    "join_lateral_topk",
    "table_migration_fingerprint",
    "recursive_cte_ancestors",
    "parts_abc_classification",
    "events_attribution_last_touch",
    "embedding_pca_top_component",
    "dq_constraint_audit",
    "events_autocorrelation",
    "events_ab_welch_t",
    "orders_cohort_ltv",
    "text_keyword_rake",
    "similarity_pq_encode",
    "similarity_pq_adc_topk",
    "similarity_ivfpq_topk",
    "events_funnel_windowed",
    "orders_open_backlog",
    "stream_quality_gate_live",
    "events_cusum_changepoint",
    # round-7 additions: the real wav encode->decode round trip and the
    # CCNet-style inter-document boilerplate coverage stage
    "multimodal_audio_decode",
    "text_boilerplate_coverage",
    # late round-7: the real PNG encode->decode round trip and the
    # content-defined-chunking dedup index build
    "multimodal_image_decode",
    "dedup_cdc_chunks",
    # closing round-7: SemDeDup within-cluster prune, SQ8 rewrite pass,
    # byte-frame keyframe detection
    "dedup_semantic_clusters",
    "embedding_int8_quantize",
    "multimodal_keyframe_detect",
    # round-8 additions: timer-based stateful sessionization over a real
    # multi-batch stream, the IVF-PQ exact re-rank refine stage, and the
    # baseline-JPEG encode->decode round trip
    "stream_stateful_custom",
    "similarity_ivfpq_refined",
    "multimodal_jpeg_decode",
    # late round-8: full BPE trainer loop, incremental MinHash ingest
    # probe, and ANN search over the persisted (versioned-table) index
    "bpe_train_merges",
    "dedup_minhash_incremental",
    "similarity_index_search",
    # round-9 additions: manifest data skipping, ANALYZE-stats CBO join
    # reorder, the ANN drift->retrain lifecycle, and VACUUM
    "snapshot_pruned_scan",
    "cbo_join_reorder",
    "similarity_index_refresh",
    "snapshot_vacuum",
    "snapshot_history",
    "retrieval_hybrid_rrf",
    "bpe_encode_documents",
    "stream_versioned_ingest",
    # late round-9: the lakehouse completeness pack — deletion vectors,
    # bloom point-lookup skipping, incremental MV maintenance, and the
    # exactly-once foreachBatch txn sink
    "snapshot_delete_where",
    "snapshot_bloom_pruned_scan",
    "mv_incremental_refresh",
    "stream_versioned_sink",
    "snapshot_change_feed",
    "snapshot_schema_merge",
    "snapshot_merge_pruned",
    "snapshot_zorder_scan",
    "stream_mv_maintenance",
    # round-9c: copy-on-write UPDATE, shallow clone, URL dedup, approx
    # percentile with exact-rank self-check
    "snapshot_update_where",
    "snapshot_clone",
    "dedup_url_canonical",
    "agg_approx_percentile",
    "multimodal_gif_decode",
    "sample_weighted_reservoir",
    "snapshot_check_constraint",
    "snapshot_compact_binpack",
    "snapshot_time_travel_ts",
    "pyds_pruned_scan",
    "join_point_in_time",
    "mv_query_rewrite",
    "dedup_doc_prefix",
    "stream_change_feed_live",
    # round-10 additions: Hive-partitioned segments with stacked pruning,
    # per-segment skip-decision observability, and targeted skew salting
    "snapshot_partitioned_scan",
    "snapshot_scan_metrics",
    "join_salted_targeted",
    "snapshot_expect_quarantine",
    "dedup_index_cdf_maintenance",
    # round-11 additions: partition-aware Python DataSource, partitioned
    # change feed, and the quarantine repair-replay loop
    "pyds_partitioned_scan",
    "snapshot_change_feed_partitioned",
    "snapshot_quarantine_replay",
    "similarity_filtered_topk",
    "snapshot_update_on_dv",
    "pyds_partitioned_write",
    "stream_expect_quarantine_live",
    "mv_refresh_through_delete",
    # round-11b additions: CDC-through-DML sidecars, MV maintenance
    # through updates, bounded backlog drain, streaming CDF over
    # rewrites, row-group skipping, partition evolution, optimized write
    "snapshot_change_feed_updates",
    "mv_refresh_through_update",
    "stream_backlog_drain",
    "stream_change_feed_updates_live",
    "pyds_rowgroup_pruned_scan",
    "snapshot_partition_evolution",
    "sink_optimized_write",
    "dedup_index_through_updates",
    "stream_cdc_replicate",
    "snapshot_generated_column",
    "snapshot_delete_keys",
    "dedup_index_through_deletes",
    "pipeline_medallion",
    "snapshot_gdpr_purge",
    "snapshot_describe_detail",
    "snapshot_restore_to_timestamp",
    "snapshot_vacuum_retention",
    "sink_identity_column",
    # round-12 additions: CDF through OPTIMIZE (maintenance-transparent
    # feed), bloom/min-max-pruned keyed erase, column mapping
    "stream_change_feed_through_optimize",
    "snapshot_delete_keys_pruned",
    "snapshot_column_mapping",
    "snapshot_compaction",
    "snapshot_retention_delete",
    # round-13 additions: CDF across RESTORE (batch + streaming),
    # distributed over-cap keyed-erase pruning, pyds writer mapping
    "snapshot_change_feed_through_restore",
    "stream_change_feed_through_restore_live",
    "snapshot_delete_keys_bigset",
    "pyds_write_after_rename",
    "pyds_encrypted_roundtrip",
    "stream_encrypted_tail_live",
    "mv_refresh_through_restore",
    "dedup_index_through_restore",
    # round-14 additions: the encrypted DML surface (keyed GDPR erase +
    # re-encrypting purge, keyed MERGE, keyed batch CDF), un-CDC UPDATE
    # feed synthesis, and the manifest-pruned key diff
    "snapshot_encrypted_gdpr_purge",
    "snapshot_encrypted_change_feed",
    "snapshot_encrypted_upsert",
    "snapshot_change_feed_update_synth",
    "snapshot_diff_pruned",
    # round-14 late additions: O(1) master-key rotation, column-level
    # encryption with keyless plaintext-subset scans
    "snapshot_encrypted_key_rotation",
    "pyds_column_encrypted_scan",
    "similarity_encrypted_topk",
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0
    spark = get_spark("argodb_mapreduce_spark-bench")
    qs = registry.queries()
    # Warm up JVM/codegen/Arrow per plan shape on the smallest fixture, and
    # pre-build derived layouts (partitioned copy) outside the timed region.
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if os.path.isdir(warm_dir):
        for name in HEADLINE:
            try:
                materialize(qs[name](spark, warm_dir))
            except Exception:
                pass
    from argodb_mapreduce_spark.operators.scans import partitioned_lineitem

    partitioned_lineitem(spark, sf_dir)
    materialize(spark.read.parquet(os.path.join(sf_dir, "region.parquet")))

    # ---- explicit untimed STAGING pre-pass (r15, VERDICT r14 item 2) ----
    # Pass 1 materializes every headline query once at the benched SF:
    # every mtime-keyed derived fixture (multi-commit DML histories,
    # encrypted clones, stream shard dirs, ...) is built HERE, on the
    # staging clock, never on the measurement clock. Pass 2 re-constructs
    # each query's plan so every construction-time freshness check has
    # passed once outside the timed region. The timed loop below then
    # runs inside catalog.timed_region(), where any attempt to build a fixture is a
    # hard error — the staging/timed boundary is structural, not builder
    # discipline. Timed methodology (clearCache + best-of-3 + noop
    # materialize) is unchanged; this pre-pass only extends the existing
    # warm-up contract from sf0.001 to the benched SF.
    from argodb_mapreduce_spark import catalog as _catalog

    spark.sparkContext.setJobDescription("staging pre-pass (untimed)")
    for name in HEADLINE:
        materialize(qs[name](spark, sf_dir))
    for name in HEADLINE:
        qs[name](spark, sf_dir)
    spark.sparkContext.setJobDescription(None)
    print(json.dumps({"staged_queries_untimed": len(HEADLINE)}))
    print(f"staged {len(HEADLINE)} queries (untimed)", file=sys.stderr)

    # Best-of-3 per query: the host is a shared VM with multi-second
    # noisy-neighbor spikes (the same query varies 2s..32s run-to-run
    # while plans and data are identical; a round-5 rerun saw untouched
    # queries drift 1.4-2.2x between two same-day runs), so a single
    # shot measures the neighbor, not the engine. Min of three runs on a
    # cache-cleared session is the steady-state engine cost (~20s extra
    # wall over best-of-2 across the 44-query set). clearCache between
    # runs drops intermediates persisted by prior queries so accumulated
    # storage blocks don't pressure execution memory.
    times: dict[str, float] = {}
    median: dict[str, float] = {}
    spread: dict[str, float] = {}
    with _catalog.timed_region():
        for name in HEADLINE:
            runs = []
            for _ in range(3):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                materialize(qs[name](spark, sf_dir))
                runs.append(time.perf_counter() - t0)
            times[name] = round(min(runs), 3)
            # Median-of-3 (VERDICT r10 #7): min is the steady-state engine
            # cost (kept as the cross-round headline), median is the
            # noise-robust central tendency — a round-over-round delta that
            # holds in BOTH is real; one visible only in min is VM drift.
            median[name] = round(sorted(runs)[1], 3)
            spread[name] = round(max(runs) - min(runs), 3)

    total = round(sum(times.values()), 3)
    # BENCH_r01 recorded 21 queries; later rounds grew the headline set.
    # r1_comparable_wall sums exactly those 21 so cross-round comparison
    # is apples-to-apples alongside the full-set total.
    r1_set = {
        "scan_partition_filter", "q1_pricing_summary", "q3_top_unshipped",
        "q5_local_supplier_volume", "join_broadcast_dim", "window_moving_sum",
        "topk_per_group", "agg_rollup", "set_intersect", "fn_json",
        "dedup_exact", "dedup_minhash_verified", "dedup_simhash",
        "dedup_ngram_jaccard", "similarity_cosine_topk", "similarity_ivf_topk",
        "text_tfidf_top_terms", "text_fingerprint_winnow",
        "multimodal_frame_sample", "stream_window_tumbling", "stream_session_window",
    }
    r1_wall = round(sum(v for k, v in times.items() if k in r1_set), 3)
    median_total = round(sum(median.values()), 3)
    r1_median = round(sum(v for k, v in median.items() if k in r1_set), 3)
    full_line = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "r1_comparable_wall": r1_wall,
            "median_total": median_total,
            "r1_comparable_median": r1_median,
            "sf": sf,
            "queries": times,
            "median": median,
            "spread": spread,
        }
    )
    print(full_line)

    def chunk_lines(prefix: str, d: dict[str, float], limit: int = 450) -> list[str]:
        """Pack {prefix+name: time} entries into JSON lines <= limit chars."""
        lines: list[str] = []
        cur: dict[str, float] = {}
        for k, v in d.items():
            cur[prefix + k] = v
            if len(json.dumps(cur)) > limit:
                cur.pop(prefix + k)
                lines.append(json.dumps(cur))
                cur = {prefix + k: v}
        if cur:
            lines.append(json.dumps(cur))
        return lines

    # Spreads first, times after: the tail window keeps the LAST lines,
    # so times survive preferentially over spreads. Within the times
    # chunks, print in REVERSE priority — everything else first, the
    # r1-comparable gate set LAST, immediately before the totals line —
    # so the gate-critical 21 per-query times always fit the driver's
    # 2000-char tail capture (VERDICT r7 next-step 2; the r7 artifact
    # lost exactly the r1-comparable chunk to scroll-out).
    for ln in chunk_lines("d_", spread):
        print(ln)
    for ln in chunk_lines("m_", median):
        print(ln)
    times_other = {k: v for k, v in times.items() if k not in r1_set}
    times_r1 = {k: v for k, v in times.items() if k in r1_set}
    for ln in chunk_lines("t_", times_other):
        print(ln)
    for ln in chunk_lines("t_", times_r1):
        print(ln)
    # max_spread = the single-number drift indicator: the worst (max-min)
    # wall over 3 runs across all queries. Cross-round deltas below this
    # are VM noise, not regression.
    totals_line = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "r1_comparable_wall": r1_wall,
            "median_total": median_total,
            "r1_comparable_median": r1_median,
            "sf": sf,
            "n_queries": len(times),
            "max_spread": round(max(spread.values()), 3) if spread else 0.0,
        }
    )
    assert len(totals_line) < 280, len(totals_line)

    # Full per-query visibility for the driver (r15, VERDICT r14 item 3):
    # the driver's stdout capture keeps only a ~2000-char tail, so the
    # complete times/median/spread dicts are ALSO written to a JSON file
    # next to this script. The stdout contract (chunk lines + final
    # totals line) is unchanged.
    per_query_path = os.path.join(REPO_ROOT, "bench_per_query.json")
    try:
        with open(per_query_path, "w") as f:
            json.dump(
                {
                    "metric": "headline_queries_total_wall",
                    "value": total,
                    "unit": "sec",
                    "r1_comparable_wall": r1_wall,
                    "median_total": median_total,
                    "r1_comparable_median": r1_median,
                    "sf": sf,
                    "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
                    "n_queries": len(times),
                    "max_spread": round(max(spread.values()), 3) if spread else 0.0,
                    "queries": times,
                    "median": median,
                    "spread": spread,
                },
                f,
                indent=1,
            )
        print(f"per-query times written to {per_query_path}", file=sys.stderr)
    except OSError as e:  # read-only checkout must not kill the bench
        print(f"per-query file not written: {e}", file=sys.stderr)

    sys.stdout.flush()
    print(totals_line)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
