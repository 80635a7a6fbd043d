"""cache.py block bookkeeping: a checkpoint frees exactly the round it
supersedes, the session sweep clears everything, every iterative
registry query keeps its inputs cached across rounds and leaves at most
its final checkpoint, and no module outside cache.py diffs ids by hand."""

from __future__ import annotations

import pathlib
import re

import pytest
from pyspark.sql import functions as F

from aspep_etl_spark.cache import (
    checkpoint,
    free_cached_blocks,
    persistent_rdd_ids,
    release,
)

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "aspep_etl_spark"


def test_checkpoint_frees_only_superseded(spark):
    """The superseding checkpoint frees the earlier one's RDD and nothing
    else — not even a persisted input first materialized inside the
    earlier checkpoint's own job (what an id diff around it would catch)."""
    free_cached_blocks(spark)
    src = spark.range(100).withColumn("x", F.col("id") % 7).persist()
    first = checkpoint(src.groupBy("x").count())
    cached = persistent_rdd_ids(spark)
    assert len(cached) == 2  # src's cache + first's checkpoint
    second = checkpoint(first.withColumn("y", F.col("count") * 2), supersedes=first)
    remaining = persistent_rdd_ids(spark)
    assert len(remaining & cached) == 1  # src survives, first is gone
    assert len(remaining - cached) == 1  # second's checkpoint
    assert second.count() == 7
    assert src.count() == 100
    with pytest.raises(ValueError):
        release(second.select("x"))  # a projection has no RDD of its own
    release(second)
    with pytest.raises(ValueError):
        release(second)  # already freed
    free_cached_blocks(spark)


def test_session_sweep_clears_everything_and_reports_count(spark):
    free_cached_blocks(spark)
    spark.range(10).persist().count()
    df = spark.range(20).withColumn("x", F.col("id") * 2).localCheckpoint()
    assert df.count() == 20
    assert len(persistent_rdd_ids(spark)) >= 2
    n = free_cached_blocks(spark)
    assert n >= 2
    assert persistent_rdd_ids(spark) == set()


def test_operators_leave_bounded_blocks(spark, sf_dir):
    """connected_components frees superseded rounds internally: after
    consuming its output, at most the final label frame (plus nothing
    else) remains registered."""
    free_cached_blocks(spark)
    from aspep_etl_spark.operators.components import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20)] + [(100, 101)], "id_a: long, id_b: long"
    )
    out = connected_components(pairs)
    assert out.count() == 23  # 21-node chain + 2-node island
    assert len(persistent_rdd_ids(spark)) <= 1
    free_cached_blocks(spark)


# registry queries that reach an iterative operator → how many checkpoint
# RDDs may stay registered once the result is collected: the final round
# the returned frame reads, one per operator call (none for the BPE
# trainer, whose merge table is built on the driver).
# graph_personalized_pagerank is left out: sf0.001 has no nation-0
# supplier, so it returns before its first checkpoint.
ITERATIVE_QUERIES = {
    "graph_pagerank": 1,
    "graph_label_propagation": 1,
    "graph_bfs_distance": 1,
    "graph_weighted_sssp": 1,
    "graph_kcore": 1,
    "graph_local_clustering": 1,
    "docs_bpe_merges": 0,
    "dedup_clusters": 1,
    "linkage_entity_clusters": 1,
    "components_incremental": 2,
    "ann_mmr_topk": 1,
}


@pytest.mark.parametrize("name", sorted(ITERATIVE_QUERIES))
def test_iterative_query_block_lifetime(spark, sf_dir, monkeypatch, name):
    """(a) A cached input (a named RDD) registered at one round's
    checkpoint is still registered at every later round, unless the
    query unpersisted it itself; (b) after ``collect()`` at most the
    final checkpoints (unnamed RDDs) remain."""
    from aspep_etl_spark.plans.contract import SPARK_QUERIES

    free_cached_blocks(spark)
    jsc = spark.sparkContext._jsc

    def named() -> set[int]:
        return {int(k) for k, r in jsc.getPersistentRDDs().items() if r.name()}

    rounds: list[set[int]] = []
    unpersisted: set[int] = set()
    frame = type(spark.range(0))  # the session's concrete DataFrame class
    real_checkpoint, real_unpersist = frame.localCheckpoint, frame.unpersist

    def spy_checkpoint(self, *a, **kw):
        out = real_checkpoint(self, *a, **kw)
        rounds.append(named())
        return out

    def spy_unpersist(self, *a, **kw):
        before = named()
        out = real_unpersist(self, *a, **kw)
        unpersisted.update(before - named())
        return out

    monkeypatch.setattr(frame, "localCheckpoint", spy_checkpoint)
    monkeypatch.setattr(frame, "unpersist", spy_unpersist)
    SPARK_QUERIES[name](spark, sf_dir).collect()
    monkeypatch.undo()

    assert len(rounds) >= 2, "expected an iterative checkpoint chain"
    for i, ids in enumerate(rounds):
        for j in range(i + 1, len(rounds)):
            lost = ids - unpersisted - rounds[j]
            assert not lost, f"cached RDDs {sorted(lost)} freed by round {j} of {i}+"
    unnamed = [k for k, r in jsc.getPersistentRDDs().items() if not r.name()]
    assert len(unnamed) <= ITERATIVE_QUERIES[name], f"checkpoints left: {unnamed}"
    free_cached_blocks(spark)


def test_one_block_lifetime_mechanism():
    """Only cache.py touches RDD ids: every other module frees blocks
    through ``checkpoint``/``release`` or ``DataFrame.unpersist``."""
    pat = re.compile(r"\b(persistent_rdd_ids|unpersist_rdds)\(")
    hits = [
        f"{p.relative_to(PACKAGE)}:{n}"
        for p in sorted(PACKAGE.rglob("*.py"))
        if p.name != "cache.py" or p.parent != PACKAGE
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if pat.search(line)
    ]
    assert hits == []
