"""Empty-input behavior: filtered-to-zero frames are routine at scale
(a partition with no matching rows, a day with no events) — every core
operator must degrade to an empty result, never raise."""

from __future__ import annotations

from pyspark.sql import functions as F


def _empty_docs(spark):
    return spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )


def _empty_events(spark):
    return spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def test_dedup_family_on_empty(spark):
    from aspep_etl_spark.operators.dedup import (
        embedding_near_dup_pairs_bucketed,
        exact_dedup,
        incremental_jaccard_matches,
        jaccard_pairs,
        levenshtein_pairs,
        minhash_lsh_pairs,
        prefix_filter_pairs,
        simhash,
        sorted_neighborhood_pairs,
    )
    from aspep_etl_spark.operators.similarity import srp_lsh_topk

    docs = _empty_docs(spark)
    assert exact_dedup(docs, ["text"], "doc_id").count() == 0
    assert jaccard_pairs(docs, "doc_id", "text", 3, 0.5).count() == 0
    assert minhash_lsh_pairs(docs, "doc_id", "text", 3, 64, 16, 0.5).count() == 0
    assert simhash(docs, "doc_id", "text").count() == 0
    assert levenshtein_pairs(docs, "doc_id", "text").count() == 0
    assert prefix_filter_pairs(docs, "doc_id", "text", 3, 0.5).count() == 0
    assert sorted_neighborhood_pairs(docs, "doc_id", "text").count() == 0
    assert incremental_jaccard_matches(docs, docs, "doc_id", "text").count() == 0

    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    for screen in ("gemm", "fold"):
        for collapse in (True, False):
            out = embedding_near_dup_pairs_bucketed(
                emb, screen=screen, collapse_exact=collapse
            )
            assert out.columns == ["id_a", "id_b", "cosine"]
            assert out.count() == 0, (screen, collapse)
    assert srp_lsh_topk(emb, emb).count() == 0


def test_components_and_asof_on_empty(spark):
    from aspep_etl_spark.operators.asof import as_of_join
    from aspep_etl_spark.operators.components import connected_components

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0

    ev = _empty_events(spark)
    out = as_of_join(
        ev.selectExpr("event_id", "user_id", "ts"),
        ev.selectExpr("user_id", "ts", "value", "event_id"),
        key="user_id",
        ts="ts",
        payload={"value": "prev_value"},
    )
    assert out.count() == 0


def test_windows_sampling_merge_on_empty(spark):
    from aspep_etl_spark.operators.sampling import hash_sample, split_column
    from aspep_etl_spark.operators.setops import upsert_latest
    from aspep_etl_spark.streaming.dedup import debounce_batch
    from aspep_etl_spark.streaming.events import sessionize

    ev = _empty_events(spark)
    assert sessionize(ev).count() == 0
    assert debounce_batch(ev).count() == 0
    assert hash_sample(ev, ["event_id"], 0.5).count() == 0
    assert ev.select(split_column(["event_id"], {"a": 0.5, "b": 0.5})).count() == 0
    base = spark.createDataFrame([], "k long, v double, version int")
    assert upsert_latest(base, base, ["k"], "version").count() == 0


def test_text_and_interval_on_empty(spark):
    from aspep_etl_spark.operators.ranges import interval_join
    from aspep_etl_spark.operators.text import analyze_documents, chunk_documents

    docs = _empty_docs(spark)
    assert analyze_documents(docs).count() == 0
    assert chunk_documents(docs).count() == 0

    ev = _empty_events(spark)
    iv = spark.createDataFrame([], "iid long, w_start timestamp, w_end timestamp")
    assert interval_join(ev, iv, "ts", "w_start", "w_end").count() == 0


def test_round4_operators_on_empty(spark):
    from aspep_etl_spark.operators.bloom import bloom_build, bloom_probe
    from aspep_etl_spark.operators.classifier import score_documents
    from aspep_etl_spark.operators.dedup import incremental_jaccard_matches
    from aspep_etl_spark.operators.pagerank import pagerank

    docs = _empty_docs(spark)
    assert score_documents(docs).count() == 0

    # empty filter: probes against it must all miss, not error
    empty_keys = spark.createDataFrame([], "k string")
    bloom = bloom_build(empty_keys, "k", m_bits=1024, k=3)
    assert bloom.count() == 0
    probes = spark.createDataFrame([("something",)], "k string")
    probed = bloom_probe(probes, "k", bloom, m_bits=1024, k=3).collect()
    assert len(probed) == 1 and not probed[0]["bloom_pass"]

    # empty delta batch and empty corpus both degrade to zero matches
    some = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    assert incremental_jaccard_matches(some, docs, "doc_id", "text").count() == 0
    assert incremental_jaccard_matches(docs, some, "doc_id", "text").count() == 0

    # empty edge relation: no nodes, empty ranks, no division blow-up
    edges = spark.createDataFrame([], "src string, dst string")
    assert pagerank(edges, iters=2).count() == 0


def test_ivf_topk_on_empty_corpus(spark):
    """No corpus rows means no centroids to probe: the empty top-k frame,
    not an analysis error on an empty centroid array."""
    from aspep_etl_spark.operators.similarity import ivf_topk

    schema = "vec_id long, embedding array<float>"
    empty = spark.createDataFrame([], schema)
    queries = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], schema)
    for q in (empty, queries):
        out = ivf_topk(empty, q)
        assert out.columns == ["query_id", "neighbor_id", "cosine", "knn_rank"]
        assert out.count() == 0


def test_kmeans_and_pq_adc_on_empty_corpus(spark):
    """An empty corpus trains no centroids (and an initial table empties
    after one update): assignment and PQ-ADC return their empty output
    schema, not an analysis error on an empty centroid array."""
    from aspep_etl_spark.operators.clustering import lloyd_kmeans_assign, seeded_id_init
    from aspep_etl_spark.operators.similarity import pq_adc_topk

    schema = "vec_id long, embedding array<float>"
    empty = spark.createDataFrame([], schema)
    for init in (seeded_id_init(empty, "vec_id", "embedding", 4), [(0, [1.0, 0.0])]):
        out = lloyd_kmeans_assign(empty, "vec_id", "embedding", init, iters=2)
        assert out.schema.simpleString() == "struct<vec_id:bigint,cluster:int>"
        assert out.count() == 0

    queries = spark.createDataFrame([(1, [1.0] * 64), (2, [0.5] * 64)], schema)
    for q in (empty, queries):
        out = pq_adc_topk(empty, q, k=5)
        assert out.columns == ["query_id", "neighbor_id", "cosine", "knn_rank"]
        assert out.count() == 0
