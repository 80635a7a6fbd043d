#!/usr/bin/env python
"""Formatted physical plans, so plan shapes (pushdown, broadcast,
exchanges, codegen) are reviewable without running Spark.

Usage: python tools/dump_plans.py [--vanilla] [OUT_DIR SUFFIX [query ...]]

With no OUT_DIR, regenerate PLANS.md from ``QUERIES`` (sf0.01 inputs).
With one, write OUT_DIR/<query>_<SUFFIX>.txt per query (default: the
``bench.py`` headline set, sf0.1 inputs); run it once per checkout, e.g.
SUFFIX=before and SUFFIX=after, and diff.  ``$SPARK_GRAFT_SF_DIR``
overrides the inputs.  Plans come from ``get_spark``'s tuned session;
``--vanilla`` uses a bare ``SparkSession.builder.getOrCreate()``, whose
join strategies can differ.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
USAGE = "usage: python tools/dump_plans.py [--vanilla] [OUT_DIR SUFFIX [query ...]]"
QUERIES = [
    "q1_pricing_summary",
    "q5_region_revenue",
    "flagship_ratio_rank",
    "p5_date_range_filter",
    "j1_broadcast_dim_join",
    "w1_lag_deltas",
    "w3_rank_null_parity",
    "dedup_ngram_jaccard",
    "ann_cosine_topk",
    "events_sessionize",
    "q7_volume_shipping",
    "q11_value_concentration",
    "dedup_embedding_cosine",
    "docs_repetition",
    "embedding_quantization",
    "ann_ivf_topk",
    "events_interval_join",
    "sample_stratified",
    "orders_upsert_merge",
    "events_rolling_hour",
    "q21_waiting_supplier",
    "docs_decontaminate",
    "docs_substring_dedup",
    "ann_srp_lsh_topk",
    "docs_classifier_score",
    "docs_bloom_decontaminate",
    "dedup_incremental",
    "events_cms_heavy_hitters",
    "graph_pagerank",
    "events_value_trend",
    "docs_token_entropy",
    # round 5
    "dedup_prefix_filter",
    "dedup_sorted_neighborhood",
    "graph_triangles",
    "graph_label_propagation",
    "graph_bfs_distance",
    "docs_bm25_search",
    "events_incident_overlap",
    "basket_association_rules",
    "orders_pareto_frontier",
    "events_cusum_changepoints",
    "docs_classifier_auc",
    "events_kmv_type_overlap",
    # round 6
    "graph_kcore",
    "graph_common_neighbors",
    "docs_rake_keywords",
    "ann_pq_adc_topk",
    "docs_pmi_pairs",
    "classifier_pr_thresholds",
    "classifier_calibration_bins",
    "events_theilsen_trend",
    "files_compaction_plan",
    "layout_zonemap_skipping",
    "graph_resource_allocation",
    "events_quantile_sketch",
    "events_mv_incremental",
    "mv_join_incremental",
    "mv_join_retraction",
    "aspep_extended_pipeline",
    "docs_source_kl_drift",
    # round 6, batches 3-5
    "docs_dsir_weights",
    # round 9: the sketch-only approx-median headline slot and the
    # row-group-spread simhash signature pass
    "a1_grouped_median_sketch",
    "dedup_simhash",
    "dedup_semantic",
    "events_bootstrap_ci",
    "docs_logreg_train",
    "items_cooccurrence_topk",
    "docs_blocklist_phrases",
    "events_welch_ttest",
    "layout_range_partition",
    "classifier_conformal",
    "events_cuped_adjustment",
    "user_rate_shrinkage",
    "docs_nb_crossval",
    "customer_k_anonymity",
    "lineitem_reconciliation",
    "embedding_jl_audit",
    "events_ucb1_replay",
    "events_ips_offpolicy",
    "media_phash_dedup",
    "events_forecast_backtest",
    "linkage_entity_clusters",
    "layout_hash_partition",
    "components_incremental",
    "referential_integrity_audit",
    "events_value_psi",
]


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue().rstrip()


def main() -> None:
    from bench import BENCH_QUERIES, SF_DIR as BENCH_SF_DIR

    from aspep_etl_spark.plans.contract import SPARK_QUERIES

    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    if vanilla:
        args.remove("--vanilla")
    names = args[2:] or (BENCH_QUERIES if args else QUERIES)
    unknown = [n for n in names if n not in SPARK_QUERIES]
    if len(args) == 1 or unknown:
        sys.exit(f"unknown queries: {unknown}\n{USAGE}" if unknown else USAGE)
    sf_dir = BENCH_SF_DIR if args else SF_DIR
    if vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.appName("dump-plans").getOrCreate()
    else:
        from aspep_etl_spark.session import get_spark

        spark = get_spark(app_name="dump-plans")
    if args:
        os.makedirs(args[0], exist_ok=True)
        for name in names:
            path = os.path.join(args[0], f"{name}_{args[1]}.txt")
            with open(path, "w") as f:
                f.write(formatted_plan(SPARK_QUERIES[name](spark, sf_dir)) + "\n")
            print(f"wrote {path}")
        spark.stop()
        return
    out = [
        "# PLANS — formatted physical plans of headline queries",
        "",
        "Generated by `python tools/dump_plans.py` (sf0.01 inputs; AQE plans",
        "shown pre-execution, `isFinalPlan=false`).  Things to check per",
        "PERF.md: `PushedFilters`/`ReadSchema` on scans, `BroadcastHashJoin`",
        "for dims, partial+final `HashAggregate`, one `Exchange` per window",
        "family.",
        "",
    ]
    for name in QUERIES:
        plan = formatted_plan(SPARK_QUERIES[name](spark, sf_dir))
        out += [f"## {name}", "", "```", plan, "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {len(QUERIES)} plans")
    spark.stop()


if __name__ == "__main__":
    main()
