#!/usr/bin/env python
"""End-to-end demo: the INCREMENTAL ingest pipeline — a new crawl batch
screened against the already-indexed corpus (exact dedup vs corpus,
incremental near-dup via posting-list index, benchmark decontamination,
quality gate, hashed-classifier gate, group-leakage-safe split) — with
the stage funnel and the best corpus match for each rejected near-dup.

Usage: python examples/run_incremental_ingest.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from aspep_etl_spark.operators.dedup import incremental_jaccard_matches
    from aspep_etl_spark.plans.curation import ingest_batch, llm_ingest_funnel
    from aspep_etl_spark.session import get_spark
    from aspep_etl_spark.sources.registry import load_table

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="llm-incremental-ingest")

    print("== ingest funnel ==")
    llm_ingest_funnel(spark, sf_dir).orderBy("stage").show(truncate=False)

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter((F.col("doc_id") % 5 != 4) & (F.col("doc_id") >= 25))
    delta = docs.filter(F.col("doc_id") % 5 == 4)
    print("== near-dup rejections: best corpus match per new doc ==")
    incremental_jaccard_matches(
        corpus, delta, "doc_id", "text", n=3, threshold=0.5
    ).orderBy(F.desc("best_jaccard"), "doc_id").show(10, truncate=False)

    st = ingest_batch(spark, sf_dir)
    print("== admitted batch sample ==")
    st["admitted"].select("doc_id", "source", "split").orderBy("doc_id").show(10)
    spark.stop()


if __name__ == "__main__":
    main()
