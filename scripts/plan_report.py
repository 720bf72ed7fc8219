"""Dump `.explain(formatted)` for the headline queries into PLANS.md.

The plan-shape tests (tests/test_plans.py) assert the properties;
this artifact lets a reviewer read the actual physical plans the
assertions run against — pushdown, pruning, broadcast placement,
exchange counts — without spinning up a session.

    python scripts/plan_report.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINERS = [
    # name -> why this plan is worth reading
    ("tumbling_window_stats", "Tier A flagship: single shuffle, map-side partials"),
    ("pricing_summary", "pushdown + pruning + whole-stage codegen"),
    ("star_join_revenue", "all dimensions broadcast; fact never shuffles for joins"),
    ("shipping_priority_topk", "Q3 shape: pushed date filters + TakeOrdered top-k"),
    ("nation_trade_volume", "Q7 shape: one fact-fact shuffle pair, 4 broadcast dims"),
    ("minhash_lsh_neardup", "LSH band equi-join; no cartesian anywhere"),
    ("embedding_neardup", "block-tiled exact pairs: one explode + one keyed shuffle into Arrow"),
    ("ivf_topk_search", "IVF probe search: centroids broadcast, corpus probed not scanned"),
    ("approx_aggregates", "sketch pass isolated from distinct twins (no Expand)"),
    ("push_time_parity", "one hash exchange into a single Arrow-batched python stage"),
    ("multimodal_metadata_stats", "binary payload pruned out of the scan"),
    ("fuzzy_name_matches", "distinct-name collapse before verify; bucketed candidates; per-probe argmin"),
    ("ohlc_bars", "single hash aggregate; open/close via min_by/max_by total order"),
    ("q5_local_supplier_volume", "Q5: one fact-fact shuffle; customer/supplier/nation-region broadcast; same-nation residual"),
    ("moving_average_revenue", "RANGE-frame window over the daily aggregate, never the fact"),
    ("weekly_active_users", "sliding count-distinct via row-local contribution explode"),
    ("correlation_stats", "five exact moments in ONE map-side-combined shuffle"),
    ("first_touch_attribution", "per-user channel table broadcasts into the orders scan"),
    ("minhash_containment", "shared-postings counting join (shuffled hash, pinned); measured plan choice"),
    ("centroid_distance_matrix", "corpus reduces to k×dim, only the tiny table self-joins"),
    ("ivf_adaptive_topk", "adaptive k=ceil(sqrt(n)) IVF: centroid table broadcast, probe-pruned corpus"),
    ("simhash_multiblock_neardup", "C(6,2) block-pair keys: 15-key equi-join, complete for hamming<=3"),
    ("embedding_neardup_prefiltered", "SRP-band candidates: bucket equi-join + pair dedup BEFORE the exact verify"),
    ("ann_recall_fixed_probes", "fixed 32-probe TakeOrdered set broadcast twice; corpus streamed once per pass"),
    ("time_hierarchy_rollup", "year/quarter/month rollup: ONE Expand + one aggregate, no per-level scans"),
    ("substring_dedup_rewrite", "span-hash equi-join candidates; per-doc cover union; row-local rewrite"),
    ("domain_cap_filter", "one hash shuffle on the domain key: both windows + the agg ride it; no range partitioning"),
    ("semantic_dedup", "per-cluster Arrow pair scoring after broadcast-scored assignment; no corpus product"),
    ("bigram_perplexity", "(doc,pair)-grain pre-aggregate feeds the model equi-joins; vocab size broadcasts"),
    ("capped_session_windows", "gap+cap sessionizer: one key shuffle into a per-key Arrow linear walk"),
    ("dedup_method_agreement", "three candidate generators union at pair grain; one group-by on the id pair"),
    ("incremental_neardup_ingest", "asymmetric ingestion dedup: batch band keys broadcast; corpus never shuffles"),
    ("bloom_dedup_probe", "packed-word Bloom membership: equi-join on word id, 64x narrower than digests"),
    ("mmr_diverse_topk", "broadcast LSH candidates into a bounded per-query Arrow MMR kernel"),
    ("kmv_distinct_audit", "KMV sketch: TakeOrdered partial top-k, k rows move, no global sort"),
    ("isotonic_calibration_map", "O(B^3) PAV minimax fit on the constant bin table; broadcast non-equi joins"),
    ("span_corruption_pairs", "training-pair generation as a zero-exchange row-local projection"),
    ("index_refresh_pipeline", "measure -> int64 gate -> gated retrain -> re-verify; one checkpointed corpus"),
    ("rrf_k_sweep", "3-row K fanout broadcast over the bounded checkpointed rank lists"),
    ("zorder_pruning_audit", "REAL layout read-back (r13): 64-file footer stats; broadcast 4-box probe + matching replay"),
    ("compaction_bin_packing_audit", "two real partitioned writes; packing planned on the 96-row fragment-stats table"),
    ("partition_pruning_audit", "real month-partitioned write; per-month aggregates + broadcast 4-range joins"),
    ("windowed_emit_json", "one (key, window) aggregate: per-field micro-unit sums + first-event min, no explode, no join"),
    ("decile_value_share", "parallel_rank: range exchange + broadcast partition offsets (AQE runs the offsets side's copy of the range exchange as a ReusedExchange) + broadcast grand total summed from the per-user aggregate (its hash exchange reused), so the rank chain runs once; no one-task sort"),
    ("selection_method_agreement", "r14 stacked rank: ONE range exchange ranks all three methods; per-method rank = global - offset"),
    ("stats_driven_plan_audit", "ANALYZE consumer: the report rows carry the measured SMJ->BHJ decision (plans read pre-AQE in-query)"),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as contract
    from eventstreamer_spark.session import get_spark

    spark = get_spark("eventstreamer-plans")
    qs = contract.queries()
    out = [
        "# Physical plans (generated by scripts/plan_report.py)",
        "",
        f"Source: `{sf_dir}`; plans are the post-AQE-planning form the",
        "plan-shape tests assert against. Regenerate after operator changes:",
        "`python scripts/plan_report.py`.",
        "",
    ]
    import contextlib
    import io

    for name, why in HEADLINERS:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {name}", "", f"_{why}_", "", "```", buf.getvalue().rstrip(), "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(HEADLINERS)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
