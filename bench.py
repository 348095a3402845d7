#!/usr/bin/env python
"""Benchmark harness: times the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) in the engine's own
session, ``session.get_session`` (``local[$SPARK_GRAFT_CPUS]``, driver heap
``$SPARK_GRAFT_DRIVER_MEM``), and prints ONE JSON line:

    {"metric": "total_query_wall_seconds", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1, "iters": 2}

Each per-query number is the MIN of ``$SPARK_GRAFT_BENCH_ITERS`` (default 2)
full passes — single-shot wall times on a shared host swing with load, and
the documented failure mode is one-sided (roaming multi-second stalls INFLATE
whichever query they land on; see BENCH_LOCAL.md and the r14 verdict's
stall-tail analysis), so the min across passes is the robust estimator where
a median of 2 would average the stall in. ``value`` is the sum of the mins.

Each query is forced end-to-end with the noop sink (full physical execution,
zero serialization-to-driver cost), after a warmup action that absorbs JVM /
codegen startup. All diagnostic chatter goes to stderr; stdout carries only
the JSON line so the driver's parser always finds it.

``calib_s`` is the median wall of a fixed synthetic workload (64M-row range
→ xxhash64 → 64-group agg, pinned 32 partitions, no file I/O) sampled at the
start of each pass AND every 20 roster queries within it. It moves only with
host load, so round-over-round comparisons should quote ratios normalized by
calib_s instead of raw walls; the per-sample trace (``calib_chunks``, one
list per pass) localizes a mid-run degradation window instead of averaging
it away.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ITERS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "2")))
# Time-box: stop starting new QUERIES once total measured time exceeds this —
# under heavy host load the passes could outlive an external runner's
# timeout, and a partially-sampled pass beats a killed run reporting nothing.
# Checked per query (not per pass) so a slow host still gets partial
# second-pass coverage; odd passes walk the roster in REVERSE so the roster
# tail — the region a mid-run stall window hurt in the r14 driver artifact —
# receives its second sample first when the budget cuts a pass short.
BUDGET_S = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "600"))
# Calibration cadence inside a pass (every N roster queries), so a mid-run
# host-degradation window is visible in the calib trace instead of being
# averaged into one run-level number.
CALIB_EVERY = 20

# Headline set: every operator family with its most expensive representative —
# scans/aggs, multi-way shuffle joins, as-of, windows, wide/unpivot, top-k,
# text, all four dedup strategies, similarity (exact + LSH scale path).
BENCH_QUERIES = [
    "a1_totals_by_event_type",
    "a3_multi_agg_by_type",
    "a9_summary_stats",
    "a13_histogram",
    "p8_sigma_outliers",
    "t2_top10_parts_by_revenue",
    "j1_revenue_by_nation",
    "j2_star_region_rollup",
    "j5_range_join_ship_lag",
    "j6_asof_join_daily_close",
    "j7_salted_skew_join",
    "olap2_cube_flag_status",
    "w4_running_user_totals",
    "w5_type_rank_by_day",
    "f16_row_sums",
    "f20_unpivot_measures",
    "tx2_quality_by_source",
    "tx6_tfidf_top_terms",
    "pipe1_pretrain_funnel",
    "ing1_traffic_normalize",
    "f18_reproject_epsg2263",
    "mm3_media_features",
    "dd1_exact_dedup",
    "dd2_minhash_lsh",
    "dd3_simhash_groups",
    "dd4_ngram_jaccard",
    "sim1_ann_topk_bruteforce",
    "sim3_ann_topk_lsh",
    "sim4_lsh_neardup_pairs",
    "dd5_semantic_centroid_dedup",
    "st4_first_event_per_key",
    "mm6_audio_window_energy",
    "pipe5_decontaminate",
    "tx9_boilerplate_share",
    "st5_purchase_view_attribution",
    # representatives of the previously-unbenched families
    "olap1_rollup_region_nation",
    "st1_tumbling_hourly",
    "w6_daily_distribution_ranks",
    "pipe4_hash_sample",
    # round-5 additions
    "dd6_dedup_components",
    "pipe6_sequence_pack",
    "a15_quantiles",
    "tx11_repetition_filter",
    "sim6x_kmeans_query_stage",
    "st6_stream_static_enrich",
    "mm8_perceptual_neardup",
    "s13_sorted_layout_scan",
    "ops1_join_key_skew_profile",
    # round-6 additions: the last unbenched family representatives
    "set1_cohort_algebra",
    "sql2_exists_big_spenders",
    "w7_range_frame_weekly",
    "mm5_resize_summary",
    # round-6 new operators (st7 excluded: a real structured stream's
    # startup dominates its wall time and would only measure trigger
    # latency, not engine throughput)
    "s14_partition_upsert",
    "ops2_partition_audit",
    "pipe7_temperature_resample",
    "s15_zorder_layout_scan",
    "olap6_funnel_conversion",
    "olap7_scd2_intervals",
    "dd7_duplicate_spans",
    "sim7_int8_quantized_topk",
    # st9 excluded like st7: a real structured stream's startup dominates
    "pipe8_shard_manifest",
    "olap8_retention_cohorts",
    "a16_mode_median",
    "sql3_shipping_priority",
    "sql4_order_priority_check",
    "f21_geo_cell_counts",
    "sim8_hash_ivf_indexed_topk",
    "dd8_incremental_dedup",
    "s16_incremental_agg_refresh",
    "w9_running_distinct_users",
    "s17_variant_json_scan",
    "ops3_data_quality_checks",
    "pipe9_source_canonicalize",
    "sql5_nation_volume_shipping",
    "sql6_large_volume_customers",
    "olap9_pareto_abc",
    # round-7 additions
    "sql7_promo_revenue_share",
    "sql8_region_market_share",
    "sql9_returned_item_customers",
    "sim9_two_stage_rerank",
    "tx12_zipf_slope",
    "dd9_minhash_calibration",
    "mm9_frame_dedup",
    "j9_bloom_pruned_join",
    "set2_multiset_algebra",
    "w10_rolling_median",
    "olap10_scd2_asof_snapshot",
    "sql10_disjunctive_revenue",
    "sql11_dormant_rich_customers",
    "sql12_local_supplier_volume",
    "sql13_small_quantity_revenue",
    "sql14_top_revenue_supplier",
    "mm10_scene_changes",
    # st11 excluded like st7/st9: real-stream startup dominates wall time
    # round-8 additions: the oracle-checked ML stages (label derivations +
    # split contract; mlx5/mlx6 excluded — their first pass pays a model
    # fit, which would measure MLlib training, not engine throughput)
    "mlx1_volume_label_stage",
    "mlx2_peak_label_stage",
    "mlx3_abnormal_label_stage",
    "mlx4_quality_split_contract",
    "mm11_png_codec_features",
    "sql15_order_count_distribution",
    "sql16_dominant_part_suppliers",
    "sql17_waiting_suppliers",
    # round-9 additions
    "dd5b_two_level_semantic_dedup",
    "sql18_forecast_revenue",
    "sql20_product_type_profit",
    "sql23_min_cost_supplier",
    "tx13_pii_redaction",
    "tx14_context_chunks",
    "w11_sessionize_gap30",
    # round-10 additions
    "j10_fuzzy_customer_match",
    "olap11_window_funnel",
    "w12_hourly_grid_interpolate",
    "a17_weighted_median",
    "olap12_snapshot_diff",
    # round-11 additions (mlx7 excluded like mlx5/mlx6: its first pass pays
    # a model fit, which would measure MLlib training, not engine throughput)
    "pipe11_token_budget_select",
    "pipe12_cluster_canonicalize",
    "tx15_cross_source_contamination",
    "j11_interval_overlap_join",
    "pipe13_neardup_decontaminated_split",
    "tx16_winnowing_fingerprints",
    # round-12 additions (mlx8 excluded like mlx5-mlx7: its first pass pays
    # a model fit, which would measure MLlib training, not engine throughput)
    "mlx9_cv_fold_grid_contract",
    "pipe14_containment_leak_scan",
    # round-13 additions
    "dd10_dup_span_scrub",
    "tx17_heaps_vocab_growth",
    "tx18_bm25_topk",
    "pipe15_stratified_eval_sample",
    # round-14 additions
    "pipe16_semantic_decontaminate",
    "tx19_hybrid_rrf_fusion",
    "tx17b_heaps_vocab_decimated",
    "sim10_mmr_diversified_topk",
    "dd11_cdc_chunk_dedup",
    "pipe17_weighted_sample",
    "pipe17b_quality_weighted_sample",
    "dd11b_cdc_guarded_chunks",
]


def main() -> None:
    from trafficanalysisbigdata_spark.session import get_session

    spark = get_session("trafficanalysisbigdata-bench")
    spark.sparkContext.setLogLevel("ERROR")

    from trafficanalysisbigdata_spark.plans.registry import load_all

    specs = load_all()

    # Warmup: touch the fact table so JVM startup / first-read costs don't
    # land on the first measured query.
    warm = specs["a1_totals_by_event_type"].run(spark, SF_DIR)
    warm.write.format("noop").mode("overwrite").save()

    from trafficanalysisbigdata_spark.plans.registry import release_caches

    def calibrate() -> float:
        """Fixed synthetic workload (pinned partitioning, no file I/O, no
        query code) timed once per pass. Its wall time moves only with host
        load / CPU contention, so cross-round comparisons can normalize by
        the calib_s ratio instead of arguing drift from per-query anecdotes
        (round-10 verdict item #4)."""
        t0 = time.perf_counter()
        (
            spark.range(0, 64_000_000, 1, 32)
            # pmod bounds the summand so 64M-row sums can't overflow a long
            # under ANSI (raw xxhash64 sums did, and an exception here would
            # kill the whole bench before the JSON line emits)
            .selectExpr(
                "pmod(xxhash64(id), 1048576) AS h",
                "pmod(xxhash64(id, 7), 64) AS g",
            )
            .groupBy("g")  # 64 groups, fixed 32-partition shuffle
            .agg({"h": "sum"})
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return time.perf_counter() - t0

    samples: dict[str, list[float]] = {name: [] for name in BENCH_QUERIES}
    calib_samples: list[float] = []
    calib_chunks: list[list[float]] = []
    bench_t0 = time.perf_counter()
    iters_run = 0
    budget_hit = False
    for it in range(ITERS):
        if budget_hit or (it > 0 and time.perf_counter() - bench_t0 > BUDGET_S):
            print(
                f"bench: budget {BUDGET_S}s exhausted after {it} passes",
                file=sys.stderr,
            )
            break
        iters_run = it + 1
        chunk: list[float] = [round(calibrate(), 3)]
        calib_chunks.append(chunk)
        # reverse on odd passes: if the budget cuts this pass short, the
        # roster tail already has its second sample (see BUDGET_S comment)
        roster = BENCH_QUERIES if it % 2 == 0 else list(reversed(BENCH_QUERIES))
        for qi, name in enumerate(roster):
            if it > 0 and time.perf_counter() - bench_t0 > BUDGET_S:
                budget_hit = True
                print(
                    f"bench: budget {BUDGET_S}s exhausted mid-pass {it + 1} "
                    f"after {qi} queries",
                    file=sys.stderr,
                )
                break
            if qi and qi % CALIB_EVERY == 0:
                chunk.append(round(calibrate(), 3))
            spec = specs.get(name)
            if spec is None:
                if it == 0:
                    print(f"bench: unknown query {name!r}, skipping", file=sys.stderr)
                continue
            t0 = time.perf_counter()
            try:
                spec.run(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            except Exception as e:  # keep the JSON line emitting no matter what
                # A transient failure on ANY pass must not doom the query:
                # later passes still run and can produce a sample. -1 is
                # reported only when no pass ever succeeded (samples empty).
                print(f"bench: {name} FAILED (pass {it + 1}): {e}", file=sys.stderr)
                continue
            finally:
                # Queries that persist intermediates (olap9) hand the cache
                # to the harness; release so passes don't pin memory/disk.
                release_caches()
            samples[name].append(time.perf_counter() - t0)
        calib_samples.extend(chunk)

    times = {
        name: (round(min(s), 3) if s else -1.0)
        for name, s in samples.items()
    }
    # The driver's committed artifact truncates the JSON tail at ~2000 chars,
    # which used to drop whichever roster queries happened to sort last.
    # Emit failures first (a truncated-away -1 is an invisible regression),
    # then slowest-first, so the kept prefix is exactly the set that matters
    # for cross-round regression checks. Full roster stays in BENCH_LOCAL.md.
    times = dict(
        sorted(times.items(), key=lambda kv: (kv[1] >= 0, -kv[1], kv[0]))
    )
    ok = {k: v for k, v in times.items() if v >= 0}
    sf_name = os.path.basename(SF_DIR.rstrip("/"))
    try:
        sf = float(sf_name.removeprefix("sf"))
    except ValueError:
        sf = sf_name
    print(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": round(sum(ok.values()), 3),
                "unit": "sec",
                "queries": times,
                "sf": sf,
                "iters": iters_run,
                "calib_s": (
                    round(statistics.median(calib_samples), 3)
                    if calib_samples
                    else -1.0
                ),
                "calib_chunks": calib_chunks,
            }
        )
    )


if __name__ == "__main__":
    main()
