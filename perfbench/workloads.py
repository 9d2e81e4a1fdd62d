"""The benchmark's workloads: which registry keys run, at which scale."""

from __future__ import annotations

from dataclasses import dataclass

# q1 is the agg_basic pricing summary; the other 21 shapes are the sql_* keys.
TPCH_KEYS = (
    "agg_basic",
    "sql_customer_distribution_q13",
    "sql_discount_revenue_or_q19",
    "sql_forecast_revenue_q6",
    "sql_idle_rich_customers_q22",
    "sql_important_stock_q11",
    "sql_large_volume_in_q18",
    "sql_local_supplier_volume_q5",
    "sql_market_share_q8",
    "sql_min_cost_supplier_q2",
    "sql_order_priority_exists_q4",
    "sql_parts_supplier_count_q16",
    "sql_potential_promotion_q20",
    "sql_product_profit_q9",
    "sql_promo_revenue_q14",
    "sql_returned_revenue",
    "sql_shipmode_priority_q12",
    "sql_shipping_priority_q3",
    "sql_small_quantity_scalar_q17",
    "sql_top_supplier_scalar_q15",
    "sql_volume_shipping_q7",
    "sql_waiting_suppliers_q21",
)

# Streaming replays, iterative operators and Python-worker operators.
PIPELINE_KEYS = (
    "stream_session_window",
    "stream_stream_join",
    "stream_cdc_upsert_view",
    "stream_sessionize_stateful",
    "graph_connected_components",
    "dedup_cluster_cc",
    "graph_hits_scores",
    "win_rank_topk_pergroup",
    "sim_cosine_topk",
    "udf_pandas_scalar",
    "multimodal_image_decode",
    "dedup_simhash",
    "pipeline_curate_corpus",
    "text_tfidf_topk",
)

# Six TPC-H shapes that between them cover scan-aggregate, multi-way
# joins, top-n, outer join with nested aggregation, and IN / EXISTS /
# NOT EXISTS subqueries.
TPCH_CORE_KEYS = (
    "agg_basic",
    "sql_shipping_priority_q3",
    "sql_local_supplier_volume_q5",
    "sql_customer_distribution_q13",
    "sql_large_volume_in_q18",
    "sql_waiting_suppliers_q21",
)

# One key per pipeline mechanism: a stateful replay that leaves a
# memory-sink view, an iterative operator over pinned edges (HITS; it
# costs less per run than connected components, which also pins), and a
# mapInPandas decode in Spark's Python workers.
PIPELINE_CORE_KEYS = (
    "stream_sessionize_stateful",
    "graph_hits_scores",
    "multimodal_image_decode",
)


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    keys: tuple[str, ...]
    timeout_s: int = 150  # per measured process


WORKLOADS = {
    w.name: w
    for w in (
        Workload("tpch6-sf0.001", 0.001, TPCH_CORE_KEYS),
        Workload("pipeline3-sf0.001", 0.001, PIPELINE_CORE_KEYS),
        # The full suites: too long for a 180 s run on a 4-core host, so
        # they are run by hand rather than listed in BENCHMARK.json.
        Workload("tpch-sf0.001", 0.001, TPCH_KEYS, timeout_s=600),
        Workload("tpch-sf0.1", 0.1, TPCH_KEYS, timeout_s=900),
        Workload("pipeline-sf0.1", 0.1, PIPELINE_KEYS, timeout_s=900),
    )
}
