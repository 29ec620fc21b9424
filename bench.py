#!/usr/bin/env python3
"""Benchmark harness: times the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE compact JSON line:

    {"metric": "...", "value": N, "unit": "sec", "sf": ..., "queries": {...}}

The full per-query map, the drift probes and a two-SF scale curve go to
BENCH_DETAIL_r{N}.json, so the stdout line stays small.

This module is the one home of the timing method; the tools import
:func:`bench_session` and :func:`run_query` instead of copying them.
Each query is warmed at sf0.001 (amortising Janino/JIT as a
cluster-scale job would), then fully materialised through the noop
sink; queries over 3 s keep the min of two runs.  "value" is the sum.

Machine-drift normalisation: five frozen probe queries are re-timed
before, at about 1/3 and 2/3 of, and after the headline loop against
committed reference timings.  ``probe_factor`` (the median ratio over
all passes) normalises the frozen totals, and per-query movers use the
probe pass nearest in time.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import statistics
import time

ROOT = os.path.dirname(os.path.abspath(__file__))

#: Gate-only queries excluded from the headline timing, each with its
#: reason — recorded in the bench JSON so nothing is dropped silently.
EXCLUDED = {
    "docs_corpus_ingest_replay": (
        "gate-only: a certification HARNESS, not an operator — it "
        "replays the streaming CorpusIngest.process_batch loop over "
        "two epochs (12 Spark actions incl. 6 partition-overwrite "
        "table writes and per-epoch history reads), so its ~35 s at "
        "bench SF is ~all fixed per-job/commit overhead that a real "
        "deployment pays once per 30 s micro-batch, not per query.  "
        "Every operator inside it is separately timed in the headline "
        "(docs_quality_filter, docs_exact_dedup, docs_minhash_lsh, "
        "docs_incremental_dedup, docs_corpus_ingest_verdict); "
        "correctness stays driver-gated at sf0.01 with a full chained "
        "2-epoch oracle"
    ),
    "events_stream_dedup_replay": (
        "gate-only: a certification HARNESS for the engine-native "
        "dropDuplicatesWithinWatermark operator — it materializes six "
        "daily feed files, runs a REAL six-micro-batch Structured "
        "Streaming query (file source -> state store -> memory sink) "
        "and its ~15-20 s is ~all fixed per-micro-batch/state-store/"
        "checkpoint overhead that a deployment pays once per trigger "
        "interval, not per query; correctness stays driver-gated at "
        "sf0.01 against the exact distinct-rows oracle"
    ),
    "events_stream_interval_join_replay": (
        "gate-only: a certification HARNESS for the engine-native "
        "watermark-bounded stream-stream interval join — it runs a "
        "REAL six-micro-batch two-source streaming query whose cost "
        "is ~all fixed micro-batch/state-store/checkpoint overhead "
        "(the per-trigger price of a deployment, not an operator "
        "cost); correctness stays driver-gated at sf0.01 against the "
        "exact SQL time-range-join oracle"
    ),
    "events_stream_dedup_evict_replay": (
        "gate-only: a certification HARNESS for the watermark BOUNDARY "
        "regime of dropDuplicatesWithinWatermark (late-drop, "
        "end-of-batch eviction, re-admission) — a real six-micro-batch "
        "streaming run whose cost is ~all fixed per-micro-batch/"
        "state-store/checkpoint overhead, same profile as the other "
        "replay harnesses; correctness stays driver-gated at sf0.01 "
        "against the eviction-rule oracle"
    ),
    "events_stream_interval_join_left_replay": (
        "gate-only: a certification HARNESS for the leftOuter "
        "stream-stream interval join's null-pad-on-watermark path — a "
        "real seven-micro-batch two-source streaming run (six daily "
        "files + a watermark-pusher sentinel epoch) whose cost is ~all "
        "fixed micro-batch/state-store overhead; correctness stays "
        "driver-gated at sf0.01 against the plain LEFT JOIN oracle"
    ),
    "events_stream_interval_join_full_replay": (
        "gate-only: a certification HARNESS for the fullOuter "
        "stream-stream interval join (both null-pad paths — unmatched "
        "clicks AND unmatched purchases) — same seven-micro-batch "
        "sentinel-epoch replay profile as the leftOuter gate, ~all "
        "fixed micro-batch/state-store overhead; correctness stays "
        "driver-gated at sf0.01 against the plain FULL OUTER JOIN "
        "oracle"
    ),
    "events_stream_interval_join_right_replay": (
        "gate-only: a certification HARNESS for the rightOuter "
        "stream-stream interval join's null-pad path (the direct "
        "driver row the round-8 verdict asked for in place of the "
        "fullOuter mirror argument) — same seven-micro-batch "
        "sentinel-epoch replay profile as the other outer-join gates, "
        "~all fixed micro-batch/state-store overhead; correctness "
        "stays driver-gated at sf0.01 against the plain RIGHT JOIN "
        "oracle"
    ),
    "events_stream_static_join_replay": (
        "gate-only: a certification HARNESS for the stateless "
        "stream-STATIC broadcast dimension join (per-micro-batch "
        "enrichment, null-pad on dim misses) — a six-micro-batch "
        "daily-file replay, ~all fixed micro-batch overhead; the "
        "OPERATOR's batch shape (broadcast dim equi-join) is timed "
        "throughout the headline's star-join queries; correctness "
        "stays driver-gated at sf0.01 against the plain LEFT JOIN "
        "oracle"
    ),
    "docs_stream_decontam_replay": (
        "gate-only: a certification HARNESS for STREAMING benchmark "
        "decontamination (per-micro-batch broadcast anti-join on "
        "content fingerprints, planted contaminated copies + novel "
        "probes) — a six-micro-batch replay, ~all fixed micro-batch "
        "overhead; the OPERATOR's batch shape is timed as "
        "docs_decontam; correctness stays driver-gated at sf0.01 "
        "against the NOT EXISTS oracle"
    ),
    "events_stream_sessions_replay": (
        "gate-only: a certification HARNESS for streaming merging-"
        "session_window sessionization (cross-batch session state + "
        "append-mode watermark emission) — a real seven-micro-batch "
        "replay with planted cross-midnight bridge sessions; ~all "
        "fixed micro-batch/state-store overhead; the OPERATOR's batch "
        "shape is timed in the headline as user_sessions; correctness "
        "stays driver-gated at sf0.01 against the gaps-and-islands "
        "oracle"
    ),
    "embedding_cosine_neardup": (
        "gate-only: the synthetic embeddings are near-random, so the "
        "recall-preserving LSH config (b=2, L=40, threshold 0.28) "
        "collides ~all pairs and the query degenerates to all-pairs "
        "exact verification (~17 s) — a corpus artifact, not an "
        "operator cost; the operator's pruning is timed by "
        "embedding_lsh_topk and its recall certified at sf1 "
        "(SF1CHECK.json); correctness stays driver-gated at sf0.01"
    ),
}


#: Round-3's headline composition, FROZEN (methodology lock, round-3
#: verdict task 5): the 125 queries timed in BENCH_r03.json in exactly
#: that loop order.  The headline sum over this list is directly
#: comparable round-over-round even as the registry grows or the
#: correctness gate reorders its window; queries registered after the
#: freeze are timed too, appended AFTER the frozen block, and reported
#: separately (``frozen_total_sec`` vs ``value``).  A drift check in
#: _headline() fails loudly if a frozen name ever leaves the registry.
FROZEN_HEADLINE_ORDER = [
    "docs_tfidf_topterms",
    "docs_unigram_entropy",
    "docs_length_deciles",
    "docs_duplicate_spans",
    "docs_source_topk_sample",
    "user_retention_cohorts",
    "events_value_anomalies",
    "embedding_label_centroids",
    "events_value_psi",
    "events_value_mad",
    "covid_clean",
    "covid_predict",
    "covid_continent_5min",
    "covid_windowed_stats",
    "covid_hotspots",
    "covid_dashboard",
    "covid_top_affected",
    "covid_rankings",
    "covid_enrich",
    "docs_exact_dedup",
    "docs_prefix_neardup",
    "docs_ngram_jaccard",
    "embedding_cosine_topk",
    "docs_quality_by_lang",
    "docs_minhash_lsh",
    "docs_simhash_neardup",
    "docs_media_meta",
    "embedding_lsh_topk",
    "docs_winnow_fingerprints",
    "docs_token_stats",
    "docs_sample_10pct",
    "docs_stratified_sample",
    "docs_language_scores",
    "embedding_ivf_topk",
    "docs_decontam",
    "docs_repetition_stats",
    "docs_chunked",
    "docs_quality_filter",
    "docs_corpus_ingest_verdict",
    "docs_incremental_dedup",
    "corpus_token_budget",
    "docs_dedup_clusters",
    "docs_pii_redaction",
    "docs_sequence_packing",
    "embedding_semantic_dedup",
    "docs_unigram_lm_score",
    "events_zorder_keys",
    "docs_bigram_lm_score",
    "embedding_pq_topk",
    "purchase_graph_pagerank",
    "docs_leakage_free_split",
    "embedding_rrf_topk",
    "embedding_negative_samples",
    "docs_cdc_chunks",
    "corpus_temperature_mix",
    "docs_repeated_span_removal",
    "docs_bm25_topk",
    "embedding_sq8_topk",
    "embedding_knn_label",
    "docs_shuffle_shards",
    "supplier_triangles",
    "part_name_fuzzy_pairs",
    "pricing_summary",
    "revenue_by_nation",
    "top_orders",
    "top_customers_by_revenue",
    "orders_without_lineitems",
    "user_moving_avg",
    "user_value_growth",
    "events_5min_rollup",
    "daily_event_summary",
    "events_json_extract",
    "event_type_rankings",
    "shipping_priority",
    "events_rollup",
    "events_cube",
    "purchase_asof_click",
    "user_sessions",
    "error_only_user_days",
    "value_percentiles",
    "orders_with_big_items",
    "events_sliding_rollup",
    "customer_order_coverage",
    "order_rank_spectrum",
    "daily_event_summary_sketch",
    "events_pivot_by_type",
    "events_unpivot_daily_metrics",
    "user_event_type_sets",
    "orders_above_customer_avg",
    "purchase_window_clicks",
    "purchase_attribution_join",
    "local_supplier_volume",
    "promo_revenue_share",
    "disjunctive_brand_revenue",
    "lineitem_corr_stats",
    "purchase_funnel",
    "big_quantity_orders",
    "idle_rich_customers",
    "user_trailing_week_avg",
    "click_and_purchase_user_days",
    "bloom_pruned_revenue",
    "lineitem_expectations",
    "orders_expectations",
    "events_user_daily_gapfill",
    "orders_merge_preview",
    "orders_snapshot_diff",
    "orders_profile",
    "order_priority_pipeline",
    "nation_pair_trade",
    "regional_market_share",
    "nation_profit_by_year",
    "customer_order_distribution",
    "top_revenue_suppliers",
    "part_supplier_diversity",
    "waiting_sole_late_supplier",
    "events_grouping_sets",
    "events_user_skew_report",
    "customer_revenue_pareto",
    "returned_item_customers",
    "priority_shipping_punctuality",
    "small_quantity_brand_revenue",
    "forecast_revenue_change",
    "min_cost_supplier",
    "important_part_stock",
    "promo_part_suppliers",
]


#: The later frozen blocks, each in the loop order it was first timed
#: in; FROZEN_TIERS below names the series each one closes.
#: Round 4's 16 registrations (BENCH_r04.json order).
FROZEN_R4_APPENDIX = [
    "orders_time_travel",
    "events_incremental_rollup",
    "docs_audio_meta",
    "events_value_ks",
    "docs_weighted_sample",
    "embedding_ivfpq_topk",
    "covid_trend_ols",
    "events_dow_seasonality",
    "events_embargo_split",
    "docs_media_features",
    "docs_thumbnail_plan",
    "embedding_covariance",
    "events_user_heavy_hitters",
    "docs_bpe_pair_counts",
    "docs_bpe_vocab",
    "docs_source_novelty",
]

#: Round 5's first 19 registrations.
FROZEN_R5_APPENDIX = [
    "events_skewed_heavy_hitters_sketch",
    "docs_bpe_tokenize",
    "docs_global_span_dedup",
    "events_value_quantile_sketch",
    "events_userday_hll_distinct",
    "event_type_transitions",
    "events_value_cusum",
    "brand_pair_affinity",
    "docs_k_anonymity",
    "customer_rfm_segments",
    "user_recency_weighted_value",
    "orders_open_backlog",
    "nation_revenue_yoy",
    "events_hourly_profile",
    "docs_filter_funnel",
    "source_overlap_matrix",
    "docs_dup_cluster_sizes",
    "embedding_norm_outliers",
    "user_event_runs",
]

#: Round 5's next 33 registrations.
FROZEN_R5B_APPENDIX = [
    "events_daily_autocorr",
    "orders_benford_audit",
    "nation_order_target_encoding",
    "events_type_dow_mutual_info",
    "nation_customer_gini",
    "lineitem_qty_histogram",
    "orders_fulfillment_survival",
    "brand_return_woe",
    "docs_bigram_pmi",
    "docs_zipf_fit",
    "event_value_welch",
    "cohort_ltv_curve",
    "events_value_ewma",
    "customer_priority_scd2",
    "brand_winsorized_stats",
    "customer_kfold_balance",
    "docs_readability",
    "docs_posting_lists",
    "embedding_mmr_topk",
    "events_walkforward_folds",
    "events_value_bootstrap_ci",
    "events_cuped_adjustment",
    "embedding_hard_negatives",
    "docs_langid_confusion",
    "docs_shard_manifest",
    "events_entropy_rate",
    "events_power_analysis",
    "events_session_bounce",
    "star_schema_integrity",
    "events_wau_mau_stickiness",
    "orders_repeat_intervals",
    "events_theilsen_trend",
    "brand_item_cf_similarity",
]

#: Round 5's last 16 registrations.
FROZEN_R5C_APPENDIX = [
    "lineitem_discount_auc",
    "embedding_retrieval_metrics",
    "events_click_calibration",
    "docs_rater_kappa",
    "docs_temperature_mix_plan",
    "customer_retention_triangle",
    "events_neyman_allocation",
    "events_ab_srm_check",
    "lineitem_pit_priority_mix",
    "user_erasure_audit",
    "brand_copurchase_communities",
    "events_funnel_conversion",
    "customer_growth_accounting",
    "brand_price_elasticity",
    "events_seasonal_decomposition",
    "events_audience_overlap_hll",
]

#: Round 6: the state-store replay certifications.
FROZEN_R6_APPENDIX = [
    "events_sessionize_replay",
    "events_mg_heavy_hitters_replay",
    "events_drift_monitor_replay",
    "events_ewma_state_replay",
]

#: Round 6: the tokenizer-eval registration.
FROZEN_R6B_APPENDIX = [
    "docs_bpe_fertility",
]

#: Round 6: the end-to-end curation waterfall.
FROZEN_R6C_APPENDIX = [
    "docs_curation_waterfall",
]


#: Machine-drift probe.  The bench host's speed drifts x1.1-1.6 for
#: hours at a time, so these five mid-weight frozen queries are re-timed
#: around the headline loop; the median ratio against the reference
#: seconds below is ``probe_factor`` (1.0 = reference-speed machine, 1.3
#: = 30% slower), and every frozen series is also reported divided by
#: it.  Reference seconds are the mean of BENCH_DETAIL_r4/r5 (two runs
#: that agreed within 4% on every probe).  The probes span window-heavy
#: covid parity, explode+agg text, tumbling rollup + sketch, and the
#: banded LSH join.
PROBE_BASELINE_SEC = {
    "covid_predict": 0.956,
    "docs_quality_filter": 1.009,
    "covid_continent_5min": 1.279,
    "daily_event_summary_sketch": 1.331,
    "docs_minhash_lsh": 3.253,
}

#: The frozen series, in headline order: (key prefix, normalised-total
#: key, the names the tier appends).  A tier's series is every name of
#: the tiers up to and including its own, so each stays comparable
#: across rounds however the registry grows.  The number in a key is
#: the registry size the series was frozen at; it times that registry
#: minus the EXCLUDED fixtures of the day.
FROZEN_TIERS = [
    ("frozen", "frozen125", FROZEN_HEADLINE_ORDER),
    ("frozen142", "frozen142", FROZEN_R4_APPENDIX),
    ("frozen161", "frozen161", FROZEN_R5_APPENDIX),
    ("frozen194", "frozen194", FROZEN_R5B_APPENDIX),
    ("frozen210", "frozen210", FROZEN_R5C_APPENDIX),
    ("frozen214", "frozen214", FROZEN_R6_APPENDIX),
    ("frozen216", "frozen216", FROZEN_R6B_APPENDIX),
    ("frozen217", "frozen217", FROZEN_R6C_APPENDIX),
]

#: Heaviest queries, re-run at a second scale factor so the detail file
#: carries a rows-vs-runtime curve: sf0.01 -> sf0.1 is exactly 10x rows,
#: so a plan that scales worse than linearly shows a ratio well above 10
#: (the ~2 s fixed job-overhead floor pulls honest ratios below 10).
SCALE_QUERIES = [
    "docs_minhash_lsh",
    "docs_simhash_neardup",
    "docs_ngram_jaccard",
    "covid_continent_5min",
    "covid_predict",
    "daily_event_summary_sketch",
    "docs_dedup_clusters",
    "embedding_semantic_dedup",
    "docs_curation_waterfall",
]
SCALE_SMALL_DIR = "/root/testdata/sf0.01"
WARM_DIR = os.path.join(os.path.dirname(SCALE_SMALL_DIR), "sf0.001")

#: A timed run after the first happens only while the best run so far
#: is slower than this: a stray full GC or codegen-cache miss would
#: otherwise distort the sum through one expensive query.
RERUN_ABOVE_SEC = 3.0


def _headline() -> list[str]:
    """The frozen tiers in order, then any newer registry queries (minus
    the documented EXCLUDED set) in registration order."""
    from bigdata_covid19_real_time_spark.plans import QUERIES

    pinned = [n for _, _, names in FROZEN_TIERS for n in names]
    missing = [n for n in pinned if n not in QUERIES]
    if missing:
        raise RuntimeError(f"frozen bench queries left the registry: {missing}")
    frozen = set(pinned)
    newer = [n for n in QUERIES if n not in frozen and n not in EXCLUDED]
    return pinned + newer


def bench_session(app_name: str, sf_dir: str, extra_conf: dict | None = None):
    """The bench's session on local[$SPARK_GRAFT_CPUS], warmed up.

    The JVM heap defaults to 24g ($SPARK_GRAFT_DRIVER_MEM) with a
    periodic ContextCleaner GC: the headline loop runs hundreds of query
    executions in one JVM, and an 8g heap let full GCs land inside
    timings (20-50 s outliers on 5 s queries).  One aggregation and one
    parquet scan of ``{sf_dir}/region.parquet`` warm the codegen and
    reader paths so the first timed query does not pay for them.
    """
    from bigdata_covid19_real_time_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name=app_name,
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
        extra_conf={"spark.cleaner.periodicGC.interval": "60s", **(extra_conf or {})},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    return spark


def run_query(spark, name: str, at_dir: str, runs: int = 2) -> float:
    """Seconds for registered query ``name`` at ``at_dir``: the best of
    up to ``runs`` timed noop-sink writes (see RERUN_ABOVE_SEC).

    The query is first run once at sf0.001: the same plan generates the
    same code, so Janino/JIT compilation (up to ~12 s for the widest
    near-dup aggregates) is paid there, as a cluster-scale job amortises
    it over thousands of tasks.  The cache is cleared after every run,
    outside the timing, so operators that persist intermediates do not
    accumulate cached blocks across a loop.
    """
    from bigdata_covid19_real_time_spark.plans import QUERIES

    def noop_write(sf_dir: str) -> None:
        QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()

    if os.path.isdir(WARM_DIR):
        noop_write(WARM_DIR)
        spark.catalog.clearCache()
    best = math.inf
    for _ in range(runs):
        if best <= RERUN_ABOVE_SEC:
            break
        t0 = time.perf_counter()
        noop_write(at_dir)
        best = min(best, round(time.perf_counter() - t0, 3))
        spark.catalog.clearCache()
    return best


def probe_pass(spark, sf_dir: str, position: int) -> dict:
    """One drift-probe pass, taken before headline query ``position``."""
    timings = {n: run_query(spark, n, sf_dir) for n in PROBE_BASELINE_SEC}
    ratio = statistics.median(t / PROBE_BASELINE_SEC[n] for n, t in timings.items())
    return {"position": position, "median_ratio": round(ratio, 3), "timings": timings}


def summarize(timings: dict[str, float], segments: list[dict]) -> dict:
    """The headline totals of one run, from its timings and probe passes.

    Each tier is summed over its full name list, as the recorded runs
    were, so a total never carries an earlier tier's rounding.
    """
    ratios = [
        got / PROBE_BASELINE_SEC[n] for s in segments for n, got in s["timings"].items()
    ]
    probe_factor = round(statistics.median(ratios), 3)
    total = round(sum(timings.values()), 3)
    out: dict = {"value": total, "n_queries": len(timings)}
    normalized = {"value": round(total / probe_factor, 3)}
    names: list[str] = []
    for prefix, norm_key, appendix in FROZEN_TIERS:
        names += appendix
        tier_total = round(sum(timings[n] for n in names if n in timings), 3)
        out[f"{prefix}_total_sec"] = tier_total
        out[f"{prefix}_n"] = sum(1 for n in names if n in timings)
        normalized[norm_key] = round(tier_total / probe_factor, 3)
    out["probe_factor"] = probe_factor
    # a wide min/max spread means a mover list is host noise
    out["probe_spread"] = {
        "min_ratio": round(min(ratios), 3),
        "max_ratio": round(max(ratios), 3),
        "before_median": segments[0]["median_ratio"],
        "after_median": segments[-1]["median_ratio"],
        "pass_medians": [s["median_ratio"] for s in segments],
    }
    out["normalized_totals_sec"] = normalized
    return out


def _vs_prior_round(
    timings: dict, segments: list[dict], summary: dict, this_round: int
) -> dict | None:
    """Per-query movers against the newest earlier BENCH_DETAIL file.

    Each of this run's queries is divided by the probe factor of the
    pass nearest in time (whole-run medians hid 3x intra-run drift), the
    prior side by that round's whole-run factor; movers rank on the
    unrounded ratio's distance from 1.
    """
    probe_factor = summary["probe_factor"]
    pos = {n: i for i, n in enumerate(timings)}

    def segment_factor(name: str) -> float:
        nearest = min(segments, key=lambda s: abs(s["position"] - pos[name]))
        return nearest["median_ratio"] or probe_factor

    for r in range(this_round - 1, 2, -1):
        p = os.path.join(ROOT, f"BENCH_DETAIL_r{r}.json")
        if not os.path.exists(p):
            continue
        with open(p) as fh:
            prior = json.load(fh)
        prior_q = prior.get("queries", {})
        prior_probe = prior.get("drift_probe", {})
        prior_pf = prior_probe.get("probe_factor", 1.0) or 1.0
        common = [n for n in timings if n in prior_q and prior_q[n] > 0]
        ratios = (
            (n, (timings[n] / segment_factor(n)) / (prior_q[n] / prior_pf))
            for n in common
        )
        movers = sorted(ratios, key=lambda kv: abs(math.log(max(kv[1], 1e-6))), reverse=True)
        prior_frozen217 = prior_probe.get("normalized_totals_sec", {}).get("frozen217")
        frozen_ratio = (
            round((summary["frozen217_total_sec"] / probe_factor) / prior_frozen217, 3)
            if prior_frozen217
            else None
        )
        return {
            "prior_round": r,
            "prior_probe_factor": prior_pf,
            "frozen217_normalized_ratio": frozen_ratio,
            "compared_queries": len(common),
            "top_normalized_movers": {n: round(x, 3) for n, x in movers[:5]},
            "normalization_note": (
                f"frozen217 normalized ratio vs r{r}: {frozen_ratio}; "
                "if this lens disagrees in sign with REPLAY_BENCH_r"
                f"{this_round}'s replay-series ratio, the spread is "
                "driven by the top_normalized_movers listed here "
                "(per-query cur_norm/prior_norm; >1 slower, <1 faster) "
                "— this round's side divides by the nearest-in-time "
                "SEGMENT probe factor (drift_probe.segments), the "
                "prior side by that round's whole-run probe_factor; "
                "sub-second scheduler-bound queries still amplify "
                "residual probe error into apparent movement"
            ),
        }
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = bench_session("bench", sf_dir)

    headline = _headline()
    mid_positions = (len(headline) // 3, (2 * len(headline)) // 3)
    segments = [probe_pass(spark, sf_dir, 0)]
    timings: dict[str, float] = {}
    for i, name in enumerate(headline):
        if i in mid_positions:
            segments.append(probe_pass(spark, sf_dir, i))
        timings[name] = run_query(spark, name, sf_dir)
    segments.append(probe_pass(spark, sf_dir, len(headline)))

    # rows-vs-runtime curve for the heaviest plans at the small SF
    scale: dict[str, dict[str, float]] = {}
    if os.path.isdir(SCALE_SMALL_DIR) and os.path.realpath(sf_dir) != os.path.realpath(
        SCALE_SMALL_DIR
    ):
        for name in SCALE_QUERIES:
            small = run_query(spark, name, SCALE_SMALL_DIR)
            large = timings.get(name) or run_query(spark, name, sf_dir)
            scale[name] = {
                "small_sec": small,
                "large_sec": large,
                "ratio": round(large / small, 2) if small > 0 else None,
            }

    summary = summarize(timings, segments)
    probe_factor = summary["probe_factor"]
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(ROOT, "BENCH_r*.json"))
        if (m := re.match(r"BENCH_r(\d+)\.json$", os.path.basename(p)))
    ]
    this_round = (max(rounds) + 1) if rounds else 3
    detail_path = os.path.join(ROOT, f"BENCH_DETAIL_r{this_round}.json")
    tiers = {k: v for k, v in summary.items() if k.startswith("frozen")}
    headline_keys = {
        "metric": "headline_queries_total_sec",
        "value": summary["value"],
        "unit": "sec",
        "sf": sf,
        "warmed": True,
        "min_of": 2,
        "n_queries": summary["n_queries"],
    }
    with open(detail_path, "w") as f:
        json.dump(
            {
                **headline_keys,
                **tiers,
                "drift_probe": {
                    "baseline_sec": PROBE_BASELINE_SEC,
                    "baseline_provenance": "mean of BENCH_DETAIL_r4/r5 per-query timings (two pre-drift runs agreeing within 4%)",
                    "before": segments[0]["timings"],
                    "after": segments[-1]["timings"],
                    "probe_factor": probe_factor,
                    "probe_spread": summary["probe_spread"],
                    "segments": segments,
                    "normalized_totals_sec": summary["normalized_totals_sec"],
                },
                "order": "frozen r3 list + frozen r4/r5/r5b/r5c/r6 appendices + newer registrations appended",
                "vs_prior_round": _vs_prior_round(timings, segments, summary, this_round),
                "excluded": EXCLUDED,
                "queries": timings,
                "scale": {
                    "small_sf_dir": SCALE_SMALL_DIR,
                    "rows_factor": 10,
                    "queries": scale,
                },
            },
            f,
            indent=1,
        )

    # stdout: the headline and the 30 heaviest queries, so the line
    # always fits a log tail; the full map lives in the detail file
    heaviest = dict(sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:30])
    print(
        json.dumps(
            {
                **headline_keys,
                **{k: v for k, v in tiers.items() if k.endswith("_total_sec")},
                "probe_factor": probe_factor,
                "frozen_total_sec_normalized": summary["normalized_totals_sec"]["frozen125"],
                "frozen217_total_sec_normalized": summary["normalized_totals_sec"]["frozen217"],
                "excluded": sorted(EXCLUDED),
                "queries": heaviest,
                "detail_file": os.path.basename(detail_path),
            }
        )
    )


if __name__ == "__main__":
    main()
