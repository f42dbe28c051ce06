"""Benchmark harness — runs the headline queries and prints ONE JSON line.

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"<name>": sec, ...}, "sf": <scale_factor>}

Data dir: $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), master
local[$SPARK_GRAFT_CPUS]. Each query executes fully (count() drives the
whole plan; results are not collected to keep driver transfer out of
the measurement).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from chicago_business_owners_data_engineering_spark import registry
from chicago_business_owners_data_engineering_spark.session import get_spark

# Headline set: the flagship path plus one representative per operator
# family. Brute-force O(n²) baselines (dd03/sim02) are deliberately
# excluded — their scalable counterparts (dd04/sim03) are included.
BENCH_QUERIES = [
    "flagship_ownership_histogram",
    "a01_dataset_summary",
    "a06_grouped_multi_agg",
    "a16_shannon_entropy",
    "a18_word_frequency",
    "j02_disjunctive_join",
    "j04_left_outer_join",
    "j07_fact_fact_join",
    "w02_row_number_first_per_key",
    "w06_group_scores",
    "o06_topk_per_group",
    "o04_pagination",
    "wh01_daily_agg",
    "ups01_upsert_latest_wins",
    "dd02_exact_dedup_rows",
    "dd04_minhash_lsh_pairs",
    "dd05_simhash",
    "sim01_bruteforce_topk",
    "sim03_ivf_topk",
    "tx01_quality_score",
    "tx04_fingerprint",
    "mm02_decode_features",
    "tp01_hash_split",
    "tp02_doc_chunks",
    "tp03_bigram_freq",
    "st01_sessionization",
    "j08_asof_join",
    "sim06_scalar_quantization",
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_supplier_volume",
    "skew01_salted_agg",
]

# Extended set: every other bench query, one ordered manifest in the
# order the operators shipped. Same measurement protocol as the headline
# set; reported on its own detail line. Compare per-query medians in
# query_stats, not totals across manifest changes.
BENCH_EXTENDED = [
    "sim08_hybrid_search",
    "tx09_unigram_surprisal",
    "tp10_curriculum_order",
    "dq04_distribution_drift",
    "tp08_source_mixture_sample",
    "dd06_neardup_components",
    "mon02_slo_burn_rate",
    "dq15_profile_drift",
    "inc04_incremental_neardup_probe",
    "st03_funnel_conversion",
    "ab02_srm_check",
    "tx17_repetition_signals",
    "f26_interval_merge",
    "st04_cohort_retention",
    "er05_blocking_quality",
    "mon03_freshness_lag",
    "ts14_ewma_anomaly",
    "tp20_source_overlap_matrix",
    "f27_time_to_convert",
    "er01_blocked_fuzzy_pairs",
    "er02_entity_clusters",
    "inc01_incremental_rollup",
    "bf01_bloom_join_prefilter",
    "ml01_kmeans_lloyd",
    "ml02_cluster_representatives",
    "ml03_semantic_dedup",
    "er03_entity_revenue",
    "sim09_pq_topk",
    "tp11_length_buckets",
    "tp12_weighted_sample",
    "dd08_components_largestar",
    "dd09_duplicate_spans",
    "wh03_snapshot_diff",
    "sim10_opq_topk",
    "tp13_global_shuffle",
    "inc02_incremental_components",
    "ts07_gap_fill",
    "j11_scd2_point_in_time",
    "dd10_span_dedup_apply",
    "ts08_event_transitions",
    "gr01_pagerank",
    "gr02_triangle_counts",
    "tx11_bm25_search",
    "dd11_char_span_dedup",
    "dd12_prefix_filter_jaccard",
    "tp14_leakage_safe_split",
    "tx12_textrank_keywords",
    "tp15_temperature_mixture",
    "sim11_mmr_rerank",
    "gr03_weighted_pagerank",
    "gr04_personalized_pagerank",
    "dq05_expectation_quarantine",
    "gr05_kcore",
    "sim12_ivf_mmr_rerank",
    "sim13_knn_join",
    "dq06_k_anonymity",
    "dq07_k_anonymity_suppress",
    "gr06_onion_layers",
    "ml04_density_dedup",
    "sim14_pq_knn_join",
    "tx13_bigram_surprisal",
    "dq08_ks_drift",
    "dq09_mann_whitney",
    "ml05_fasttext_quality",
    "dd13_containment_join",
    "tx14_bpe_merges",
    "tx15_bpe_tokenize",
    "dq10_mad_outliers",
    "ts09_seasonal_naive_backtest",
    "dq11_benford_digits",
    "gr07_lpa_communities",
    "ml06_threshold_sweep",
    "ab01_experiment_readout",
    "gr08_bfs_hops",
    "ts10_linear_trend",
    "tp16_dsir_resample",
    "gr09_link_prediction",
    "tx16_collocations",
    "dq12_key_discovery",
    "dq13_l_diversity",
    "ts11_cusum_changepoint",
    "er04_golden_record",
    "inc03_incremental_distinct",
    "gr10_degree_assortativity",
    "tp17_decontaminate_train",
    "ts12_weekday_seasonality",
    "dd14_ngram_novelty",
    "dq14_referential_orphans",
    "ml08_reliability_bins",
    "st02_last_touch_attribution",
    "u06_arrow_udf_bucket",
    "sim15_ivf_recall_eval",
    "a30_grouped_string_agg",
    "j12_null_safe_join",
    "dd15_simhash_hamming_pairs",
    "gr11_clustering_coefficient",
    "wh04_scd2_merge",
    "f25_id_gap_islands",
    "ts13_seasonal_anomaly",
    "opt01_or_join_rule",
    "opt02_fused_counts_rule",
    "ab03_cuped_readout",
    "ts15_seasonal_strength",
    "ts16_peak_concurrency",
    "mb01_market_basket",
    "st05_rfm_segments",
    "tx18_lexical_diversity",
    "dq16_format_conformance",
    "sim16_range_search",
    "j13_interval_overlap_join",
    "dd16_weighted_jaccard_pairs",
    "dq17_row_invariants",
    "ts17_autocorrelation",
    "wh05_cdc_apply",
    "st06_cohort_ltv",
    "u07_pandas_iter_udf",
    "f30_unpivot_metrics",
    "ts18_rolling_wau",
    "mon04_error_budget",
    "tx19_langid_confusion",
    "f31_mom_change",
    "gov01_pseudonymize",
    "gov02_erasure_audit",
    "st07_markov_transitions",
    "tp21_stable_eval_panel",
    "tx20_heaps_curve",
    "mb02_frequent_triples",
    "ts19_interarrival",
    "gov03_retention_sweep",
    "sim17_ivf_sq_batch_topk",
    "gr12_harmonic_centrality",
    "inc05_incremental_topk",
    "st08_session_paths",
    "a33_quantile_sketch_checked",
    "sim18_filtered_ann",
    "u08_apply_in_arrow",
    "st09_stickiness",
    "f32_equiwidth_histogram",
    "j14_nearest_event_join",
    "tx21_source_vocab_jaccard",
    "ml09_knn_classifier_eval",
    "tp22_pack_efficiency",
    "dd17_lsh_tuning_eval",
    "tp23_pipeline_report",
    "tp24_epoch_budget",
    "tx22_rank_decay",
    "sim19_source_centroid_drift",
    "a34_weighted_median",
    "wh06_partition_skew_audit",
    "f33_variant_json",
    "f34_try_arithmetic",
    "f35_collated_group",
    "j15_lateral_topk",
    "a35_percentile_disc",
    "a36_grouped_mode",
    "st10_session_window_native",
    "tp25_curriculum_phases",
    "wh07_snapshot_diff",
]


def run_pipeline_e2e(sf_dir: str) -> dict[str, object]:
    """Time the full warehouse CLI (ingestion → warehouse → analytics).

    The flagship end-to-end path (the reference's run_pipeline.py
    ``--mode full`` analog) measured at bench SF against the reference's
    300 s "slow pipeline" monitoring threshold
    (cbddl/src/monitoring/pipeline_monitor.py:68). The warehouse mode
    (historically ~85% of the total, with 2× run-to-run variance) is
    broken down per stage (bronze/quality/dims/facts/gold/validate) so
    a regression is attributable, not just visible.
    """
    import os as _os
    import shutil
    import tempfile

    from chicago_business_owners_data_engineering_spark.cli import (
        run_analytics_mode,
        run_ingestion_mode,
    )
    from chicago_business_owners_data_engineering_spark.plans.warehouse import (
        run_warehouse_pipeline,
    )

    spark = get_spark("bench")
    out = tempfile.mkdtemp(prefix="bench_e2e_")
    timings: dict[str, object] = {}
    try:
        t0 = time.time()
        run_ingestion_mode(spark, sf_dir, out)
        timings["ingestion"] = round(time.time() - t0, 3)

        stage_timings: dict[str, float] = {}
        t0 = time.time()
        validation = run_warehouse_pipeline(
            spark, sf_dir, _os.path.join(out, "warehouse"), stage_timings=stage_timings
        )
        checks = validation.collect()
        timings["warehouse"] = round(time.time() - t0, 3)
        timings["warehouse_stages"] = stage_timings
        if not all(r["passed"] for r in checks):
            timings["warehouse_validation"] = "FAILED"

        t0 = time.time()
        run_analytics_mode(spark, sf_dir, out)
        timings["analytics"] = round(time.time() - t0, 3)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return timings


def run_vector_e2e(sf_dir: str) -> dict[str, float]:
    """Time the second flagship composition: the staged vector pipeline
    (cluster → dedup → PQ encode → index write → serve one query)
    behind ``cli.py --mode vector``."""
    import shutil
    import tempfile

    from chicago_business_owners_data_engineering_spark.cli import run_vector_mode

    spark = get_spark("bench")
    out = tempfile.mkdtemp(prefix="bench_vec_")
    try:
        t0 = time.time()
        run_vector_mode(spark, sf_dir, out)
        return {"vector": round(time.time() - t0, 3)}
    finally:
        shutil.rmtree(out, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark("bench")
    # warm the JVM + parquet footers so measurements reflect execution
    registry.QUERIES["a01_dataset_summary"](spark, sf_dir).count()
    # warm the Python/Arrow worker pool (long-lived on a real cluster;
    # first mapInPandas otherwise pays ~4 s of one-time worker forking)
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, schema="id long"
    ).count()

    # MEDIAN-of-3 per query (PERF.md's protocol: compare medians across
    # rounds, not single totals — the committed artifact can no longer
    # be a cold single run). Run 1 pays one-time whole-stage-codegen
    # compilation; runs 2-3 are steady state. Each run rebuilds the
    # DataFrame, so driver-side plan construction + analysis stays
    # inside the measurement. ``queries`` carries the median (the
    # headline value is the sum of medians); ``query_stats`` carries
    # {min, median, runs} per query so noise is visible in the artifact
    # itself; ``value_min`` (sum of mins) is the continuity metric
    # comparable to the best-of-N values recorded in BENCH_r01–r04.
    def run_set(
        names: list[str], n_runs: int = 3
    ) -> tuple[dict[str, float], dict[str, dict]]:
        timings: dict[str, float] = {}
        stats: dict[str, dict] = {}
        for name in names:
            fn = registry.QUERIES[name]
            samples = []
            for _ in range(n_runs):
                t0 = time.time()
                fn(spark, sf_dir).count()
                samples.append(time.time() - t0)
            med = sorted(samples)[len(samples) // 2]
            timings[name] = round(med, 3)
            stats[name] = {
                "median": round(med, 3),
                "min": round(min(samples), 3),
                # max ≈ the cold first rep; each rep rebuilds and
                # re-persists its intermediates, so no rep reuses an
                # earlier rep's cached relation.
                "max": round(max(samples), 3),
                "runs": len(samples),
            }
        return timings, stats

    # Headline set: 5 runs. The r07 drift probe (PERF.md) showed
    # sub-second queries still dropping through rep 5-7 (C2 JIT tiers)
    # with 2-5× run-to-run spread on this box — median-of-3 medians
    # land on a warmup rep often enough to fake a 2%/round drift.
    timings, stats = run_set(BENCH_QUERIES, n_runs=5)
    # drop the headline set's last pins (e.g. dd04's per-doc relation)
    # so the extended medians do not depend on what ran before them
    spark.catalog.clearCache()
    extended, ext_stats = run_set(BENCH_EXTENDED)
    e2e = run_pipeline_e2e(sf_dir)
    vec = run_vector_e2e(sf_dir)

    # One JSON line PER metric group, headline group LAST: the driver's
    # tail capture keeps only the END of stdout, so the headline must be
    # the final line AND that line must be small. This channel has now
    # broken twice (r03: one mega-line outgrew the buffer; r05: the
    # median-of-3 query_stats ballooned the final line past the ~2,000
    # char tail window, so it was truncated from the front and
    # `BENCH_r05.parsed` came back null). Protocol since r06:
    #   1. every DETAIL line (queries + query_stats) prints first;
    #   2. the LAST line is a COMPACT headline (<200 chars, no
    #      queries/query_stats — those live one line up in
    #      `headline_queries_detail`);
    #   3. before exit, a self-check asserts the last emitted line
    #      round-trips through json.loads and is < 1,000 chars, so any
    #      future protocol regression fails THIS process instead of
    #      silently nulling the round's official record.
    emitted: list[str] = []

    def emit(metric: str, queries: dict[str, float], stats: dict[str, dict] | None = None, **extra: object) -> None:
        payload = {
            "metric": metric,
            "value": round(sum(queries.values()), 3),
            "unit": "sec",
            "queries": queries,
            "sf": sf,
            **extra,
        }
        if stats is not None:
            payload["value_min"] = round(sum(s["min"] for s in stats.values()), 3)
            payload["query_stats"] = stats
        line = json.dumps(payload)
        emitted.append(line)
        print(line, flush=True)

    emit("extended_queries_total_runtime", extended, ext_stats)
    stage_detail = e2e.pop("warehouse_stages", {})
    validation_flag = e2e.pop("warehouse_validation", "passed")
    emit(
        "pipeline_e2e_runtime",
        {k: v for k, v in e2e.items() if isinstance(v, (int, float))},
        warehouse_stages=stage_detail,
        warehouse_validation=validation_flag,
    )
    emit("vector_e2e_runtime", vec)
    emit("headline_queries_detail", timings, stats)
    # The final headline: value = sum of per-query medians, value_min =
    # sum of per-query mins (continuity with the best-of-N totals
    # recorded in BENCH_r01-r04) — PLUS the per-query medians
    # themselves, at 2 decimals (VERDICT r10 #1). The driver keeps only
    # a 2,000-char stdout TAIL and parses the LAST JSON line; the r06
    # "compact headline" protocol dropped ``queries`` from that line to
    # stay small, which made PERF_r09/r10's per_query comparison
    # impossible (the full-precision detail line one row up outgrows
    # the tail and arrives front-truncated). 32 names at 2-decimal
    # medians fit the tail with ~45% headroom (measured ~1.1 KB; the
    # self-check below enforces < 1800 so a future query rename or
    # growth fails HERE, in-session). The full-precision stats stay on
    # `headline_queries_detail` for committed logs.
    headline = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "value_min": round(sum(s["min"] for s in stats.values()), 3),
        "unit": "sec",
        "sf": sf,
        "queries": {k: round(v, 2) for k, v in timings.items()},
    }
    line = json.dumps(headline)
    emitted.append(line)
    print(line, flush=True)

    # Self-check (exit non-zero on violation — a broken artifact channel
    # must fail loudly in-session, never silently at round close).
    last = emitted[-1]
    parsed = json.loads(last)  # raises if unparseable
    assert len(last) < 1800, f"final bench line is {len(last)} chars (>= 1800)"
    assert parsed["metric"] == "headline_queries_total_runtime" and "value" in parsed
    assert set(parsed["queries"]) == set(BENCH_QUERIES), "headline queries incomplete"


if __name__ == "__main__":
    main()
