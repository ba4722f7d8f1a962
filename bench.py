"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The codegen layer is reported too: the Janino compiles (Spark's generated
classes) of the cold pass and of each warm pass, per pass and per query,
and the JVM's metaspace after the cold pass.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Round-1 headline set — kept as a stable subset so the r01 baseline
# comparison stays apples-to-apples (reported as r01_subset_wall).
HEADLINE_R01 = [
    "hot_items",
    "hot_pages",
    "order_timeout_states",
    "attribution_interval_join",
    "tx_reconcile_full_outer",
    "user_sessions",
    "user_funnel",
    "user_retention",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q10_returned_items",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "embedding_cosine_topk",
    "embedding_near_dup_lsh",
    "text_quality_score",
    "text_lang_id",
    "multimodal_decode",
]

# Round-2 breadth (VERDICT item 10): the full engine surface, so
# round-over-round regressions anywhere are visible.
HEADLINE = HEADLINE_R01 + [
    "tpch_q4_order_priority",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q14_promo_effect",
    "tpch_q18_large_orders",
    "revenue_rollup",
    "dedup_exact",
    "text_token_count",
    "text_fingerprint",
    "embedding_ivf_topk",
    "multimodal_resize",
    "daily_active_users",
    "hourly_event_volume",
    "stream_hot_items",
    "stream_hot_pages",
    "stream_user_sessions",
    "stream_attribution_join",
    "stream_order_timeout_states",
    "stream_tx_reconcile",
    "asof_last_click",
    "purchases_in_signup_windows",
    "order_value_percentiles",
    "doc_train_test_split",
    "stream_hot_pages_allowed_lateness",
    "tpch_q8_market_share",
    "tpch_q13_customer_distribution",
    "tpch_q19_brand_bands",
    "multimodal_frame_sample",
    "stream_dedup_events",
    "text_pii_scrub",
    "daily_event_type_pivot",
    "rolling_7d_purchase_value",
    "daily_users_approx",
    "dedup_clusters",
    "user_sessions_dynamic_gap",
    "doc_stratified_sample",
    "corpus_curation_stats",
    "decontam_ngram_overlap",
    "text_repetition_signals",
    "pack_training_sequences",
    "doc_chunks_overlap",
    "bm25_keyword_search",
    "stream_mktseg_revenue",
    "embedding_topic_clusters",
    "corpus_vocabulary",
    "dedup_canonical_selection",
    "stream_corpus_ingest",
    "semantic_dedup_verified",
    "embedding_pq_topk",
    "text_lm_quality",
    "doc_quota_sample",
    # round-3 additions
    "corpus_global_shuffle",
    "doc_mixture_sample",
    "split_no_leakage",
    "dedup_incremental",
    "event_transition_matrix",
    "daily_anomaly_days",
    "stream_dedup_incremental",
    "corpus_length_histogram",
    "doc_oov_rate",
    "hot_items_sql",  # SQL-string entry point; same plan family as hot_items
    "tpch_q15_top_supplier",
    "tpch_q17_small_qty_revenue",
    "tpch_q22_lapsed_customers",
    "stream_daily_anomaly",
    "stream_event_transitions",
    "stream_user_sessions_dynamic_gap",
    # round-4 additions
    "pattern_view_click_purchase",
    "pattern_error_burst_recovery",
    "tpch_q12_ship_priority_classes",
    "tpch_q21_waiting_suppliers",
    "dedup_span_exact",
    "source_curation_rollup",
    "stream_span_decontam",
    "hybrid_search_rrf",
    "stream_pattern_view_click_purchase",
    "order_value_percentiles_approx",
    "item_pagerank",
    "classifier_quality_filter",
    "stream_embedding_topic_assign",
    "events_profile",
    "stream_classifier_quality_filter",
    "stream_daily_active_users",
    "stream_pattern_error_burst_recovery",
    # round-5 additions
    "pattern_signup_journey",
    "stream_pattern_signup_journey",
    "pattern_purchase_no_error",
    "stream_pattern_purchase_no_error",
    "pattern_error_streak_recovery",
    "stream_pattern_error_streak_recovery",
    "pattern_optional_click_purchase",
    "stream_pattern_optional_click_purchase",
    "ivf_index_upsert",
    "stream_ivf_upsert",
    "ivf_recall_sweep",
    "pattern_optional_branching",
    # round-6 additions
    "pattern_uncapped_error_run",
    "stream_pattern_uncapped_error_run",
    "pattern_impulse_purchase",
    "stream_pattern_impulse_purchase",
    "pattern_clean_onboarding",
    "stream_pattern_clean_onboarding",
    "stream_pattern_optional_branching",
    "classifier_quality_filter_trained",
    "bpe_train_merges",
    "bpe_token_counts",
    "corpus_collocations_pmi",
    "dedup_sorted_neighborhood",
    "pattern_nonoverlap_episodes",
    "stream_pattern_nonoverlap_episodes",
    "stream_kmeans_assign",
    "revenue_rollup_nation_year",
    "semantic_kmeans_assign",
    "cluster_balanced_sample",
    # round-7 additions
    "pattern_any_view_click_purchase",
    "stream_pattern_any_view_click_purchase",
    "pattern_any_skip_to_next",
    "revenue_cube_mktseg_priority",
    "heavy_hitter_bigrams",
    "stream_pattern_any_skip_to_next",
    "pattern_any_skip_to_first_click",
    "pattern_error_run_until_purchase",
    "stream_heavy_hitter_bigrams",
    "embedding_outliers",
    "time_to_convert_histogram",
    "quality_decile_curriculum",
    "event_path_trigrams",
    "lang_id_confusion",
    "stream_pattern_error_run_until_purchase",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    import __spark_entry__ as entrymod
    from flink_uba_spark.session import get_spark

    spark = get_spark("bench")
    qs = entrymod.queries()
    # full-catalog coverage by construction (VERDICT r6 item 3): any query
    # not in the curated HEADLINE ordering is appended, so new catalog
    # entries can never silently miss the bench
    names = [n for n in HEADLINE if n in qs] + sorted(set(qs) - set(HEADLINE))

    # warm the JVM (codegen/JIT via a tiny end-to-end query), parquet footer
    # caches, and the Python UDF worker pool, so the first measured query
    # doesn't absorb process startup
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    if "hot_items" in qs:
        qs["hot_items"](spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
    spark.range(256).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    if "stream_user_sessions" in qs:
        # one tiny end-to-end stream warms the micro-batch engine, state
        # store providers, and streaming codegen paths once, instead of
        # inside the first measured stream query
        qs["stream_user_sessions"](spark, "/root/testdata/sf0.001").write.format(
            "noop"
        ).mode("overwrite").save()

    jvm = spark._jvm
    janino = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def metaspace_mb() -> float:
        for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
            if pool.getName() == "Metaspace":
                return round(pool.getUsage().getUsed() / 2**20, 1)
        return -1.0

    timings: dict[str, float] = {}
    compiles_cold: dict[str, int] = {}
    for name in names:
        t0, c0 = time.time(), janino.getCount()
        df = qs[name](spark, sf_dir)
        # noop sink: materializes EVERY output column (count() would let
        # Catalyst prune projection work and under-measure)
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t0, 3)
        compiles_cold[name] = janino.getCount() - c0
        print(f"# {name}: {timings[name]}s janino {compiles_cold[name]}", file=sys.stderr)
    metaspace_cold = metaspace_mb()

    # Warm passes re-run every query in the same JVM: the cold pass above
    # charges each query its one-time Janino compile of the plan's
    # generated classes (codegen-heavy plans like dedup_simhash's 32-sum
    # aggregate pay ~3-5s) and the JIT of the fresh classes. A warm run
    # reuses those classes only while Spark's generated-class cache still
    # holds them: the session sizes that cache to the catalog's working
    # set, and janino_compiles_warm shows how many classes each warm pass
    # compiled again (with Spark's default 100 entries, thousands). Cold
    # can only be measured once per JVM, so variance is pinned on the warm
    # side: THREE warm passes, per-query MEDIAN reported plus the min-max
    # spread so a reader can see which queries are noisy rather than
    # regressed. "queries"/"value" stay cold for comparability with
    # BENCH_r01-r03 history.
    n_warm_passes = int(os.environ.get("SPARK_GRAFT_WARM_PASSES", "3"))
    warm_runs: dict[str, list[float]] = {name: [] for name in names}
    warm_compiles: dict[str, list[int]] = {name: [] for name in names}
    for p in range(n_warm_passes):
        for name in names:
            t0, c0 = time.time(), janino.getCount()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            warm_runs[name].append(dt)
            warm_compiles[name].append(janino.getCount() - c0)
            print(f"# warm[{p}] {name}: {dt}s janino {warm_compiles[name][-1]}", file=sys.stderr)

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2

    warm = {name: round(median(runs), 3) for name, runs in warm_runs.items()}
    warm_spread = {
        name: round(max(runs) - min(runs), 3) for name, runs in warm_runs.items()
    }

    # Variance protocol (round 11, VERDICT r10 item 3): two identical r10
    # warm runs spread +/-25%, larger than any real round-over-round
    # delta — so the bench itself carries the ACCEPTANCE BAND. The
    # per-query warm MEDIAN of the interleaved passes is compared against
    # the previous round's recorded medians ($SPARK_GRAFT_BENCH_BASELINE,
    # default: the newest BENCH_local_r*.json beside this script); only
    # >1.5x median-vs-median moves are flagged as regressions — anything
    # inside the band is ambient (GC/page-cache/JIT), not a code delta.
    baseline_path = os.environ.get("SPARK_GRAFT_BENCH_BASELINE")
    if baseline_path is None:
        import glob

        # sort by the PARSED round number, not the raw filename (ADVICE
        # r11: lexical order only works while round numbers stay
        # zero-padded at two digits — r9 vs r100 would pick the wrong
        # baseline); unparsable names sort first and never win
        def _round_no(p):
            m = re.search(r"BENCH_local_r(\d+)\.json$", p)
            return int(m.group(1)) if m else -1

        cands = sorted(
            glob.glob(
                os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH_local_r*.json")
            ),
            key=_round_no,
        )
        baseline_path = cands[-1] if cands else None
    regressions: dict[str, list[float]] = {}
    baseline_used = None
    if baseline_path and os.path.exists(baseline_path):
        try:
            with open(baseline_path) as fh:
                base_warm = json.load(fh).get("queries_warm", {})
            baseline_used = os.path.basename(baseline_path)
            for name, cur in warm.items():
                prev = base_warm.get(name)
                if prev and prev > 0 and cur > 1.5 * prev and cur - prev > 0.5:
                    regressions[name] = [prev, cur, round(cur / prev, 2)]
        except (OSError, ValueError):
            baseline_used = None

    total = round(sum(timings.values()), 3)
    r01_subset = round(sum(timings[n] for n in HEADLINE_R01 if n in timings), 3)
    r01_subset_warm = round(sum(warm[n] for n in HEADLINE_R01 if n in warm), 3)
    print(
        json.dumps(
            {
                "metric": "headline_query_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                # apples-to-apples vs BENCH_r01 (same 20 queries); the full
                # `value` covers the whole expanded surface
                "r01_subset_wall": r01_subset,
                "r01_subset_warm_wall": r01_subset_warm,
                "queries_warm": warm,
                "queries_warm_spread": warm_spread,
                "warm_passes": n_warm_passes,
                "warm_total_wall": round(sum(warm.values()), 3),
                # the codegen layer: Janino compiles per pass (cold, then
                # each warm pass) and per query, and metaspace after cold
                "janino_compiles_cold": sum(compiles_cold.values()),
                "janino_compiles_warm": [
                    sum(c[p] for c in warm_compiles.values()) for p in range(n_warm_passes)
                ],
                "queries_janino_cold": compiles_cold,
                "queries_janino_warm": warm_compiles,
                "metaspace_mb_after_cold": metaspace_cold,
                # acceptance band: >1.5x warm-median moves (and >0.5s
                # absolute — sub-second queries jitter multiplicatively)
                # vs the previous recorded round; empty = no regression
                # outside ambient variance
                "warm_regressions_vs_baseline": regressions,
                "warm_baseline_file": baseline_used,
                "note": (
                    f"value sums {len(names)} queries (round-2 breadth); "
                    f"BENCH_r01's 23.1s covered only 20 — compare it against "
                    f"r01_subset_wall, which re-times exactly those 20 with "
                    f"the same cold-plan methodology. queries_warm re-times "
                    f"every query in the same JVM after the cold pass: the "
                    f"delta is one-time Janino/JIT codegen compile (constant, "
                    f"amortized at scale — e.g. dedup_simhash is ~4s cold vs "
                    f"~1s warm because its 32-sum hash aggregate is "
                    f"expensive to COMPILE, not to run), as far as Spark's "
                    f"generated-class cache kept the cold pass's classes; "
                    f"janino_compiles_warm counts the classes each warm pass "
                    f"compiled again. queries_warm is the "
                    f"per-query MEDIAN of warm_passes runs; "
                    f"queries_warm_spread is each query's max-min across "
                    f"those runs (round-3 VERDICT item 4: cold varies ~1.5x "
                    f"run-to-run on GC/page-cache, the warm median is the "
                    f"stable signal). ~2-3s of the cold subset delta vs r01 is "
                    f"the deliberate round-1-ADVICE change: forced fact-side "
                    f"broadcasts (orders/customer in q3/q5/q7/q10) were "
                    f"removed because they OOM at real SF; AQE now picks the "
                    f"strategy. The dedup/embedding family varies +/-50% "
                    f"run-to-run (GC)."
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
