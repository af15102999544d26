"""The workload mixes over the 50 driver-registry queries.

Every driver query belongs to exactly one mix, chosen by the layer that
does most of its work (``queries``). A timed run executes the mix's
``core``: a fixed subset that exercises the same layers and fits the
run budget (each run starts a fresh JVM and pays 25-35 s of session
start and warm passes before it measures). The self-test runs every query of
every mix.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Mix:
    queries: tuple[str, ...]
    core: tuple[str, ...]


MIXES = {
    # lazy plans drained by the sink: JVM scan, join, aggregate and window
    # codegen, few jobs, no Python workers
    "relational": Mix(
        queries=(
            "q01_pricing_summary",
            "q03_top_orders",
            "q32_sole_fault_suppliers",
            "q33_front_loaded_supply",
            "q35_dynamic_partition_pruning",
            "q36_top_supplier",
            "q37_zorder_box_scan",
            "q38_small_quantity_revenue",
            "q39_important_part_values",
            "w08_sliding_distinct_users",
            "e22_interpolate",
            "e23_rolling_anomaly",
            "e24_ewma",
            "e27_cusum_shift",
            "e34_last_touch_attribution",
            "a07_sql_surface",
            "a08_asof_join",
            "a14_multimodal_meta",
            "a26_welch_ttest",
            "a28_bootstrap_ci",
            "a36_mann_whitney",
            "a37_hll_distinct_store",
            "a38_interval_overlap_join",
            "a39_moment_store",
            "a40_quantile_store",
            "a41_comoment_store",
            "p03_observed_funnel",
        ),
        core=(
            "q01_pricing_summary",
            "q36_top_supplier",
            "a14_multimodal_meta",
            "a38_interval_overlap_join",
            "a39_moment_store",
            "e27_cusum_shift",
        ),
    ),
    # eager work outside the lazy plan: operators that run many Spark actions
    # inside the call (driver-bound loops), ship work to Python workers and
    # LSH shuffles, or drain micro-batch streams (triggers, WAL commits, state
    # stores, file sinks on the stream thread). The iterative query timed is
    # t30 (14 eager jobs, all inside the call): its DuckDB oracle takes
    # 0.3 s, g06's 6.3 s and g03's 12 s, and every run checks its core
    # against the oracle.
    "operators": Mix(
        queries=(
            "g01_pagerank",
            "g02_hits",
            "g03_triangle_count",
            "g06_kcore_peel",
            "g08_connected_components",
            "s09_kmeans",
            "t30_bpe_train_batched",
            "t33_unigram_lm_train",
            "d01_exact_dedup",
            "d16_containment_pairs",
            "d23_semantic_decontamination",
            "s14_pq_adc_topk",
            "t27_heavy_phrases",
            "t34_tokenizer_eval",
            "a34_polymorphic_udtf",
            "m03_mapreduce_api_wordcount",
            "e38_streamed_upsert_snapshot",
            "e39_streamed_outer_join",
            "e40_streamed_observed_metrics",
            "e41_streamed_quantile_ingest",
            "e42_streamed_moment_ingest",
            "e43_streamed_comoment_ingest",
            "m07_streamed_results_sink",
        ),
        core=(
            "t30_bpe_train_batched",
            "m03_mapreduce_api_wordcount",
            "d01_exact_dedup",
            "e42_streamed_moment_ingest",
        ),
    ),
}
