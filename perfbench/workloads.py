"""The benchmark's workloads: which registered queries each one runs.

Every op is one query from ``projectone_spark.queries``, built and then
forced with a ``noop`` write.  A workload is a closed loop with one client:
the next op is sent only after the previous one has finished.  The seed
sets the order of the ops within a pass and nothing else; the program only
ever sees the fixed test tables.
"""

from __future__ import annotations

import random

WORKLOADS: dict[str, tuple[str, ...]] = {
    # The custom write path: an SCD1 upsert streamed into the store, a
    # streamed dedup folded into the store through MERGE INTO, MERGE INTO,
    # selective overwrite, a CDC backfill run as a task, and a write gated
    # by row expectations.  Writers, cdc, store commits and the streams'
    # triggers do the work.  functions.* do almost none: st12's per-batch
    # content_hash (functions.dedup) and estimate_tokens
    # (functions.sampling) only build column expressions, so this is the
    # workload a change to the curation tail should leave flat.
    "ingest_write": (
        "st02_stream_scd1_upsert",
        "st12_stream_dedup_merge",
        "s10_merge_into",
        "s16_selective_overwrite",
        "f03_cdc_backfill",
        "v01_row_expectations",
    ),
    # The roadmap's streaming tail target: an ANN index maintained from a
    # stream's micro-batches, with tens of Spark jobs, eager localCheckpoint
    # materializations, functions.embeddings and store index and model
    # artifacts.  Writers do almost nothing here, so this is the workload a
    # change to the write path should leave flat.
    "curation_tail": ("st17_stream_index_maintenance",),
    # The full tail the roadmap names (f13: 2a, t21: 2b, st17: 2c, e23: 2d)
    # with p14 as a compute-bound contrast.  A run takes about three
    # minutes, so it is run by hand rather than in BENCHMARK.json.
    "curation_full": (
        "f13_training_batches",
        "t21_tokenizer_fertility",
        "st17_stream_index_maintenance",
        "e23_quantizer_retrain_swap",
        "p14_ngram_decontamination",
    ),
    # Short read-only TPC-H-shaped SQL over parquet, where per-query driver
    # work (plan analysis, conf writes on every load, shuffles wider than
    # the cores) is a large share of each op.  No writes and no streams:
    # the control for the write path and the tail.  Run by hand, like
    # curation_full.
    "analytics_read": tuple(
        "q01_pricing_summary q02_top_revenue_orders q03_region_revenue "
        "q04_revenue_forecast q05_priority_semi_join "
        "q06_customers_without_orders q07_top_orders_per_customer "
        "q08_customer_running_total q09_priority_rollup q10_cohort_set_ops "
        "q11_distinct_agg q12_events_hourly q13_sessionize q14_promo_revenue "
        "q15_top_supplier q16_supplier_variety q17_small_quantity_revenue "
        "q18_large_orders q19_disjunctive_predicates q20_bulk_part_suppliers "
        "q21_waiting_suppliers q22_idle_rich_customers q23_cube_grouping "
        "q24_status_pivot q25_asof_last_view q26_range_join_ship_lag "
        "q27_exact_percentiles q28_moving_window_revenue q29_unpivot "
        "q30_grouping_sets q31_variant_json q32_rank_family q33_event_funnel "
        "q34_priority_late_orders q35_two_nation_volume "
        "q36_range_interval_frame q37_customer_distribution q38_market_share "
        "q39_product_profit q40_returned_item_customers "
        "q41_skew_salted_pipeline q42_min_cost_supplier q43_important_stock "
        "q44_waiting_suppliers q45_dormant_customers".split()),
}


def pass_order(workload: str, seed: int) -> list[str]:
    """The workload's ops in the order the seed gives them."""
    ops = list(WORKLOADS[workload])
    random.Random(seed).shuffle(ops)
    return ops
