#!/usr/bin/env python
"""Scale-tier bench: times the dedup / ANN / iterative / sketch /
streaming queries — the ones whose scaling is the interesting property
(candidate-pair growth, iteration costs, sketch merges, state growth) —
at ``$SPARK_GRAFT_SF_DIR`` and prints one JSON line.

Same loop and policy as bench.py (``aspep_etl_spark/measure.py``).  After
the timed passes, an untimed ``count()`` per query records ``rows_out``,
so ``tools/bench_compare.py`` can judge pair emitters on work per
emitted row.  A map-shaped or bucketed query should scale ~linearly in
rows; superlinear growth flags a candidate-generation blow-up.

Usage: SPARK_GRAFT_SF_DIR=... python tools/bench_tier.py [query ...]
(no names: the whole tier).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TIER_QUERIES = [
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "dedup_incremental",
    "dedup_clusters",
    "graph_pagerank",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "events_cms_heavy_hitters",
    "events_kmv_distinct",
    "events_rolling_distinct_users",
    "events_rolling_distinct_users_kmv",
    "orders_price_deciles_scaled",
    "customer_abc_analysis_scaled",
    "customer_rfm_segments_scaled",
    # ANN variants, tokenizer training, graph ops, posting-list novelty —
    # each with its own candidate/iteration scaling
    "ann_pq_adc_topk",
    "ann_mmr_topk",
    "docs_bpe_merges",
    "docs_ngram_novelty",
    "graph_weighted_sssp",
    "graph_hits",
    # data-selection scan, in-cluster quadratic screen, x40 replicate
    # expansion, pair fan-out, LPA + modularity aggs
    "docs_dsir_weights",
    "dedup_semantic",
    "events_bootstrap_ci",
    "docs_pmi_pairs",
    "graph_modularity",
    "events_agms_join_size",
    # bounded-state distinct sketch + rollup-by-merge, blocked record
    # linkage (pair fan-out), bucketed-join layout
    "events_hll_distinct",
    "events_hll_daily_rollup",
    "customer_record_linkage",
    "layout_bucketed_join",
    # GD training rounds, basket pair fan-out, tokenize-once blocklist
    # probe, one-scan K-fold CV, scoring scans
    "docs_logreg_train",
    "items_cooccurrence_topk",
    "docs_blocklist_phrases",
    "docs_nb_crossval",
    "docs_nb_crossval_capped",
    "classifier_conformal",
    "embedding_jl_audit",
    "lineitem_reconciliation",
    "components_incremental",
    # the full ASPEP chain, the linkage -> ER chain, streaming MV
    # maintenance and three capped scale twins
    "aspep_extended_pipeline",
    "linkage_entity_clusters",
    "streaming_mv_maintenance",
    "ann_negative_samples_scaled",
    "docs_source_kl_drift_capped",
    "dedup_ngram_jaccard_capped",
    "mv_join_incremental",
    # the rest of the incremental-MV triangle, and streaming MV under a
    # 10x batch count (state/merge growth, not just data growth)
    "mv_join_retraction",
    "mv_join_dim_update",
    "streaming_mv_many_batches",
    # the non-MV streaming maintenance paths; each drives the real
    # streaming engine (file-stream readers, checkpoints, state store)
    # per micro-batch
    "streaming_sessionize",
    "streaming_debounce",
    "streaming_dedup",
    "streaming_rate_limit",
    "streaming_stream_join",
    "streaming_cms_heavy_hitters",
    "streaming_hourly_rollup",
]


def main() -> None:
    from aspep_etl_spark import measure
    from aspep_etl_spark.cache import free_cached_blocks
    from aspep_etl_spark.plans.contract import SPARK_QUERIES
    from aspep_etl_spark.session import get_spark

    names = sys.argv[1:] or TIER_QUERIES
    unknown = [n for n in names if n not in SPARK_QUERIES]
    if unknown:
        raise SystemExit(f"unknown query name(s): {', '.join(unknown)}")

    spark = get_spark(app_name="aspep-etl-spark-bench-tier", extra_conf=measure.SPARK_CONF)
    gate = measure.quiet_gate()
    run = measure.spark_runner(spark, SF_DIR)
    result = measure.measure(run, names, measure.jit_clock(spark))
    rows_out = {}
    for name in names:
        rows_out[name] = SPARK_QUERIES[name](spark, SF_DIR).count()
        free_cached_blocks(spark)
    line = measure.report("scale_tier_total", gate, result, SF_DIR, rows_out=rows_out)
    print(json.dumps(line))
    spark.stop()


if __name__ == "__main__":
    main()
