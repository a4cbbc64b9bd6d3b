#!/usr/bin/env python
"""Capture .explain('formatted') for a set of registered queries into
plans/r<N>/<query>_<suffix>.txt (round-N optimization evidence).

Usage: python scripts/capture_plans.py --round N <suffix> [query ...]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

DEFAULT = [
    "q1_pricing_summary", "q5_revenue_by_nation", "wordcount_per_doc",
    "join_lineitem_part_supplier", "top10_customers_by_revenue",
    "window_rank_orders", "rollup_lineitem_flags", "events_tumbling_1h",
    "top_bigrams", "dedup_exact_docs", "minhash_lsh_neardup",
    "similarity_bruteforce_topk", "cube_orders_status_priority",
    "q3_shipping_priority", "q6_forecast_revenue", "q7_nation_trade",
    "q10_returned_items", "q14_promo_revenue_share", "q15_top_supplier",
    "q17_small_qty_revenue", "q18_large_orders", "q19_disjunctive_brand",
    "q20_restock_candidates", "q22_idle_customers",
    "correlation_qty_price", "variance_order_prices",
    "event_value_outliers", "window_running_revenue",
    "window_moving_avg_events", "agg_orders_stats", "agg_events_by_type",
    "agg_global_lineitem", "exact_span_dedup_docs",
    "dup_ngram_fraction_docs", "source_overlap_matrix",
    "winnow_fingerprints_docs", "wordcount_global", "wordcount_topk",
    "ngram_containment_pairs", "decontaminate_vs_holdout",
    "revenue_by_month", "events_customer_enrichment",
]


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Write formatted plans of registered queries to "
                    "plans/r<N>/<query>_<suffix>.txt.")
    ap.add_argument("--round", type=int, required=True,
                    help="optimization round N (output dir plans/rN)")
    ap.add_argument("suffix", help="file suffix, e.g. before / after")
    ap.add_argument("queries", nargs="*",
                    help="registry names (default: the standard set)")
    args = ap.parse_args()

    from mapreduce_4_spark.plans import REGISTRY
    from mapreduce_4_spark.session import get_spark

    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", f"r{args.round}")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"capture-plans-r{args.round}")
    for name in args.queries or DEFAULT:
        df = REGISTRY[name].builder(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"))
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print("wrote", path, flush=True)


if __name__ == "__main__":
    main()
