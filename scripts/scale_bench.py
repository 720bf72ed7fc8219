"""Measured scaling exponents: run a representative query slice at
1×/10×/100× of sf0.1 and report how runtime grows with data size.

The x10/x100 dirs come from ``scripts/make_scale_data.py`` (facts
replicate with key offsets, dims stay — the TPC-H scaling model).
Each query runs ``bench.py``-style (noop sink, min of N passes) at
every factor; the printed exponent is log(t_K/t_1)/log(K) for the
largest K the query ran at. With Spark's ~0.3 s fixed job overhead a
healthy distributed plan shows an exponent well under 1; anything
approaching ~1.1+ (time growing faster than data) is a scaling cliff
to investigate.

Queries whose cost is quadratic BY CONTRACT (exact all-pairs
embedding verify) or whose gate state is driver-memory-bound
(streaming one-batch runs) are capped at x10 via MAX_FACTOR, with the
reason recorded in the output.

Usage:
    python scripts/scale_bench.py [--passes N] [--out SCALING.json]
        [--only name1,name2]
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as contract
from eventstreamer_spark.obs import run_query
from eventstreamer_spark.session import get_spark

FACTORS: dict[int, str] = {
    1: "/root/testdata/sf0.1",
    10: "/tmp/es_scale/x10",
    100: "/tmp/es_scale/x100",
}

# Representative slice: every operator family, weighted toward the
# queries the round-3 judge named as the likely super-linear cliffs.
QUERIES: tuple[str, ...] = (
    # relational / TPC-H shapes
    "pricing_summary", "star_join_revenue", "q9_profit_by_nation",
    "q21_waiting_suppliers", "q13_order_count_distribution",
    "topk_per_group", "window_functions_orders", "cube_lineitem",
    "scd2_merge_customers", "salted_skew_join", "asof_join_events_orders",
    # dedup family
    "exact_dedup", "minhash_lsh_neardup", "simhash_neardup",
    "ngram_jaccard_neardup", "dedup_clusters", "embedding_neardup",
    # ANN family
    "ann_bruteforce_topk", "ann_lsh_topk", "ivf_centroid_assign",
    "ivf_topk_search",
    # text / hygiene
    "tfidf_top_terms", "token_frequencies", "bpe_token_counts",
    "benchmark_decontamination", "cross_lingual_contamination",
    "duplicate_span_histogram", "fuzzy_name_matches",
    # events analytics + windows
    "funnel_analysis", "user_retention_cohorts", "tumbling_window_stats",
    # pipelines
    "curation_pipeline", "assembly_pipeline",
    # streaming (one-batch gate runs)
    "stream_tumbling_stats", "push_time_stream_parity",
    # round-4 additions
    "minhash_containment", "ivf_adaptive_topk", "moving_average_revenue",
    "weekly_active_users", "correlation_stats", "first_touch_attribution",
    "char_bigram_diversity", "q5_local_supplier_volume",
    "q7_nation_trade_flow",
    # round-5 additions
    "embedding_neardup_prefiltered", "ann_recall_fixed_probes",
    "stream_late_data_policy", "dedup_canonical_selection",
    "udtf_chunk_stats", "mixture_temperature_weights",
    "multimodal_payload_dedup", "json_ingest_corrupt_audit",
    "time_hierarchy_rollup", "parquet_schema_evolution",
    "stream_foreachbatch_upsert",
    # round-6 additions
    "substring_dedup_rewrite", "bpe_learned_merges", "domain_cap_filter",
    "semantic_dedup", "neardup_prefilter_recall", "bpe_apply_segmentation",
    "bigram_perplexity", "dedup_method_agreement", "capped_session_windows",
    "stream_capped_sessions", "incremental_neardup_ingest",
    "stream_static_ingest_dedup",
    # round-7 additions
    "quality_classifier_scores", "ingest_index_maintenance",
    "winnowing_fingerprints", "winnowing_candidates",
    "token_budget_mixture", "corpus_build_pipeline",
    # round-7 continuation additions
    "dsir_importance_weights", "bucketed_band_index_join",
    "stream_classifier_scores", "selection_method_agreement",
    "selection_pipeline", "twostage_rerank_topk", "countmin_heavy_hitters",
    "vocab_growth_curve", "sq8_quantization_audit", "weighted_sample_topk",
    "gumbel_topk_resample", "stream_countmin_topk",
    "pq_quantization_audit", "pq_adc_topk",
    # round-8 additions
    "ivf_pq_topk", "pq_recall_at_k", "funnel_recall_at_k",
    "paragraph_dedup", "semantic_decontamination",
    "bpe_fertility_by_lang", "cluster_balanced_sample", "stream_ann_topk",
    # round-9 additions
    "ivfadc_residual_topk", "paragraph_dedup_rewrite",
    "sampled_centroid_training", "bloom_dedup_probe",
    "mmr_diverse_topk", "classifier_calibration_audit",
    "stream_bloom_probe", "kmv_distinct_audit",
    "isotonic_calibration_map", "domain_shift_matrix",
    "population_drift_audit", "stream_drift_monitor",
    "span_corruption_pairs", "ivf_staleness_audit", "ivf_nprobe_sweep",
    "shard_skew_audit", "bm25_topk",
    # round-10 additions
    "pq_rerank_topk", "graded_retrieval_eval", "dedup_savings_report",
    "packing_efficiency_audit", "srp_angle_calibration",
    "curriculum_stage_assignment", "stream_bm25_topk",
    "minhash_band_tuning", "data_quality_constraints",
    "domain_excess_reweight", "corpus_snapshot_diff",
    "embedding_anisotropy_audit",
    # round-11 additions
    "pq_rerank_np4", "opq_permute_audit", "hybrid_rrf_fusion",
    "length_bucket_batching",
    # round-12 additions
    "stream_rrf_fusion", "index_refresh_pipeline", "windowed_emit_json",
    "rrf_k_sweep", "zorder_pruning_audit", "bloom_file_skipping_audit",
    # round-13 additions (zorder/bloom uncapped since r13: the real
    # range-partitioned layout write replaced the single-task rank)
    "compaction_bin_packing_audit", "partition_pruning_audit",
    "analyze_table_stats",
    # round-14 additions: the four newly-migrated global-rank queries
    # never scale-checked before BECAUSE of the single-task shape
    # (selection_method_agreement/length_bucket_batching are above),
    # zipf's array-position rank, and the ANALYZE consumer
    "decile_value_share", "gini_value_concentration",
    "ntile_customer_balance", "zipf_slope", "stats_driven_plan_audit",
)

# name -> (max factor, reason)
MAX_FACTOR: dict[str, tuple[int, str]] = {
    "embedding_neardup": (10, "exact all-pairs verify kernel: O(n^2) by contract; the LSH/IVF prefilter is the scale route (dedup.py)"),
    "stream_tumbling_stats": (10, "one-batch gate run holds all window state in the in-memory test provider; production uses RocksDB"),
    "push_time_stream_parity": (10, "same in-memory gate state provider bound"),
    "neardup_prefilter_recall": (10, "runs the exact all-pairs calibration kernel alongside the prefilter: O(n^2) by contract"),
    "twostage_rerank_topk": (10, "coarse stage scans q x n prefix pairs by contract (exact funnel baseline); SRP/IVF are the WHO-prune scale routes"),
    "pq_adc_topk": (10, "ADC code scan is q x n by contract (16x less data than exact); IVF is the WHO-prune that cuts n (IVF-PQ)"),
    "pq_recall_at_k": (10, "exact brute-force ground truth is O(q x n) by contract, like every recall audit; the retrievers it measures scale separately"),
    "funnel_recall_at_k": (10, "exact brute-force ground truth plus two O(q x n) coarse scans by contract (recall audit tier)"),
    "stream_ann_topk": (10, "complete-mode memory sink holds every query's gathered candidates during the gate run; production serving emits per-batch and keeps no cross-batch state"),
    "ivf_staleness_audit": (10, "exact ground truth is O(q x n) by contract (recall audit tier); the two IVF searches it scores scale separately"),
    "ivf_nprobe_sweep": (10, "exact ground truth is O(q x n) by contract (recall audit tier); the swept searches scale separately"),
    "graded_retrieval_eval": (10, "exact brute-force ground truth is O(q x n) by contract (eval audit tier); the retrievers it grades scale separately"),
    "srp_angle_calibration": (10, "the exact-cosine pass over every (query, corpus) pair is O(q x n) by contract (estimator calibration tier)"),
    "index_refresh_pipeline": (10, "exact ground truth is O(q x n) by contract (the re-verify stage of the refresh loop); the gated retrain and both searches scale separately"),
    "rrf_k_sweep": (10, "exact brute-force ground truth is O(q x n) by contract (eval audit tier); the three retrievers it fuses scale separately"),
}
# stream_bm25_topk was capped at x10 through round 10 (complete-mode
# memory sink held every query's gathered scores during the gate run,
# exp 0.585). The round-11 foreachBatch re-plan emits each batch's
# top-k and keeps no cross-batch state — the measured artifact now IS
# the per-batch production contract, so the query runs uncapped.
# fuzzy_name_matches was capped at x10 in the first round-4 run
# (0.9 s → 16.2 s: the replica catalog recycles part names and
# identical names defeat blocking). After the distinct-name collapse
# in fuzzy_match_best it measures flat (1.9/1.2/1.9 s at x1/x10/x100)
# and runs uncapped.


def main() -> int:
    argv = sys.argv[1:]
    passes = 2
    out_path = None
    only = None
    if "--passes" in argv:
        i = argv.index("--passes"); passes = int(argv[i + 1]); del argv[i:i + 2]
        if passes < 1:
            print("--passes must be >= 1", file=sys.stderr)
            return 2
    if "--out" in argv:
        i = argv.index("--out"); out_path = argv[i + 1]; del argv[i:i + 2]
    if "--only" in argv:
        i = argv.index("--only"); only = set(argv[i + 1].split(",")); del argv[i:i + 2]

    spark = get_spark("eventstreamer-scale-bench")
    qs = contract.queries()
    names = [n for n in QUERIES if only is None or n in only]
    missing = [n for n in names if n not in qs]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)
        return 2

    results: dict[str, dict] = {}
    for factor in sorted(FACTORS):
        sf_dir = FACTORS[factor]
        if not os.path.isdir(sf_dir):
            print(f"skip x{factor}: {sf_dir} missing", file=sys.stderr)
            continue
        # warm the JVM/footers once per factor
        contract.entry(spark).limit(1).collect()
        for name in names:
            cap, reason = MAX_FACTOR.get(name, (100, ""))
            rec = results.setdefault(name, {"t": {}, "capped": reason})
            if factor > cap:
                continue
            best = None
            failed = False
            for _ in range(passes):
                run = run_query(spark, name, qs[name], sf_dir)
                if run.error is not None:
                    print(f"x{factor} {name} FAILED: {run.error}", file=sys.stderr)
                    failed = True
                    break
                best = run.total_s if best is None else min(best, run.total_s)
            if failed:
                # Explicit failure marker — never a fake timing (ADVICE r4).
                rec["t"][str(factor)] = {"failed": True}
                continue
            rec["t"][str(factor)] = round(best, 3)
            print(f"x{factor:<4} {name:<32} {best:8.2f}s", flush=True)

    for name, rec in results.items():
        t = rec["t"]
        ks = sorted(
            int(k) for k in t
            if isinstance(t[k], (int, float)) and t[k] > 0
        )
        if len(ks) >= 2 and t[str(ks[0])] > 0:
            k0, k1 = ks[0], ks[-1]
            rec["exponent"] = round(
                math.log(t[str(k1)] / t[str(k0)]) / math.log(k1 / k0), 3
            )
    payload = {"passes": passes, "factors": {str(k): v for k, v in FACTORS.items()}, "queries": results}
    line = json.dumps(payload)
    print(line)
    if out_path:
        with open(out_path, "w") as f:
            f.write(line + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
