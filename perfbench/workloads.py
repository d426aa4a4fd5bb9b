"""The benchmark's workloads.

A workload is a fixed list of operations. One pass runs every operation
once, in an order drawn from the run's seed; the measured phase runs
whole passes. Query operations read the tables that ``datagen`` writes
at ``SCALES[size]``; the ``etl_pg`` operations import the seeded inputs
of ``ETL_SIZES[size]``. ``size`` is ``bench`` for real runs and ``tiny``
for the benchmark's own tests.
"""

from __future__ import annotations

from dataclasses import dataclass

SCALES = {"bench": 0.1, "tiny": 0.001}

ETL_SIZES = {
    "bench": {"sirene": 40_000, "fantoir_groups": 10_000, "deces": 70_000, "curate_docs": 2_500},
    "tiny": {"sirene": 500, "fantoir_groups": 200, "deces": 500, "curate_docs": 500},
}

ETL_OPS = ("import_sirene", "import_fantoir", "import_deces", "curate_corpus")


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...] = ()
    etl: tuple[str, ...] = ()
    tables: tuple[str, ...] = ()
    # untimed passes before the measured phase (size bench; tiny runs one).
    # The declared workloads run 30-40 s of them on a 4-core VM, long
    # enough for the JVM's compiled code to settle after the first, cold
    # pass; one pass of tpch or llm_ops alone takes about that long.
    warmup_passes: int = 1

    @property
    def ops(self) -> tuple[str, ...]:
        return self.queries + self.etl


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "tpch",
            "the 22 TPC-H-style queries: lazy plans whose time is Spark "
            "execution; the control that bypasses builders, kernels, caches, "
            "sinks and streaming",
            queries=(
                "q1_pricing_summary",
                "q2_min_cost_supplier",
                "q3_shipping_priority",
                "q4_order_priority",
                "q5_local_supplier_volume",
                "q6_forecast_revenue",
                "q7_nation_volume",
                "q8_market_share",
                "q9_product_profit",
                "q10_returned_items",
                "q11_important_parts",
                "q12_ship_delay",
                "q13_customer_distribution",
                "q14_promo_revenue",
                "q15_top_supplier",
                "q16_supplier_part_counts",
                "q17_small_quantity_revenue",
                "q18_large_volume_customers",
                "q19_disjunctive_filter",
                "q20_part_promotion",
                "q21_waiting_supplier",
                "q22_global_sales",
            ),
            tables=("region", "nation", "customer", "supplier", "part", "orders", "lineitem"),
        ),
        Workload(
            "llm_ops",
            "dedup, similarity, text and embedding queries: eager builders, "
            "pandas-UDF kernels and the ann/text-band index caches",
            queries=(
                "doc_textrank_keywords",
                "emb_hubness_profile",
                "emb_near_dup_pairs",
                "emb_ivfpq_topk_indexed",
                "doc_cluster_dedup_indexed",
            ),
            tables=("customer", "documents", "embeddings"),
        ),
        Workload(
            "etl_pg",
            "seeded SIRENE, FANTOIR and deces imports into PostgreSQL plus "
            "the curation funnel: the only write-heavy workload",
            etl=ETL_OPS,
            warmup_passes=3,
        ),
        Workload(
            "stream_replay",
            "availableNow micro-batch replays with state stores, "
            "checkpoints and maintained stores: per-batch fixed costs",
            queries=(
                "events_stream_trending",
                "events_stream_enriched_segments",
                "user_scd2_stream",
            ),
            tables=("events", "orders", "lineitem", "customer", "documents"),
            warmup_passes=3,
        ),
    )
}
