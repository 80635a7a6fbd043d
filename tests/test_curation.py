"""Integration semantics of the composed curation pipeline — the funnel
oracle checks the COUNTS; these tests check the membership invariants the
counts can't see."""

from __future__ import annotations

from pyspark.sql import functions as F

from aspep_etl_spark.operators.text import passes_quality, quality_metrics
from aspep_etl_spark.plans.curation import curate_documents, ingest_batch, llm_ingest_funnel


def test_curation_stage_invariants(spark, sf_dir):
    st = curate_documents(spark, sf_dir)
    corpus = {r["doc_id"] for r in st["corpus"].select("doc_id").collect()}
    s1 = {r["doc_id"] for r in st["exact"].select("doc_id").collect()}
    s2 = {r["doc_id"] for r in st["neardup"].select("doc_id").collect()}
    s3 = {r["doc_id"] for r in st["decontam"].select("doc_id").collect()}
    s4 = {r["doc_id"] for r in st["quality"].select("doc_id").collect()}

    # monotone shrinking chain of subsets
    assert s4 <= s3 <= s2 <= s1 <= corpus
    assert len(s1) < len(corpus) or len(s2) < len(s1)  # something deduped

    # exact-dedup survivors: one per distinct text, the min id
    texts = st["corpus"].groupBy("text").agg(F.min("doc_id").alias("m"))
    assert s1 == {r["m"] for r in texts.collect()}

    # no two surviving near-dup docs share identical text
    n_texts = st["neardup"].select("text").distinct().count()
    assert n_texts == len(s2)

    # curated output: every doc has exactly one split and no raw PII left
    curated = st["curated"]
    assert curated.filter(~F.col("split").isin("train", "val", "test")).count() == 0
    leaked = curated.filter(
        F.col("text").rlike("[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}")
    ).count()
    assert leaked == 0
    assert curated.count() == len(s4)


class TestIngestFunnel:
    """Integration checks for the incremental ingest funnel (the day-2
    counterpart of the curation funnel)."""

    def test_stage_counts_monotone_and_coherent(self, spark, sf_dir):
        rows = {r["stage"]: r["n_docs"] for r in llm_ingest_funnel(spark, sf_dir).collect()}
        order = ["0_batch", "1_exact", "2_neardup", "3_decontam", "4_quality",
                 "5_classifier"]
        for a, b in zip(order, order[1:]):
            assert rows[b] <= rows[a], (a, b, rows)
        # split tail partitions the classifier survivors exactly
        split_total = sum(v for k, v in rows.items() if k.startswith("6_"))
        assert split_total == rows["5_classifier"]

    def test_no_corpus_doc_admitted(self, spark, sf_dir):
        st = ingest_batch(spark, sf_dir)
        bad = st["admitted"].filter(F.col("doc_id") % 5 != 4)
        assert bad.count() == 0


def test_quality_gate_bounds(spark):
    """``passes_quality`` keeps each bound itself (20 tokens, stopword
    ratio 0.35, mean token length 2.0 and 12.0) and drops just past it."""
    cases = {
        "20_tokens": ("abcd " * 20, True),
        "19_tokens": ("abcd " * 19, False),
        "ratio_0.35": ("the " * 7 + "abcd " * 13, True),
        "ratio_0.4": ("the " * 8 + "abcd " * 12, False),
        "len_2.0": ("ab " * 20, True),
        "len_1.95": ("ab " * 19 + "b", False),
        "len_12.0": ("abcdefghijkl " * 20, True),
        "len_12.05": ("abcdefghijkl " * 19 + "abcdefghijklm", False),
    }
    docs = spark.createDataFrame([(k, t) for k, (t, _) in cases.items()], ["case", "text"])
    kept = docs.filter(passes_quality(quality_metrics(F.col("text")))).collect()
    assert {r["case"] for r in kept} == {k for k, (_, keep) in cases.items() if keep}
