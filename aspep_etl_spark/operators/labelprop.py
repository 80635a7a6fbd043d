"""[EXT] Deterministic synchronous label propagation (community
detection) over an undirected edge relation.

Fourth member of the iterative-graph family (connected components,
PageRank, triangle census) — same hard-won loop discipline as
``operators/pagerank.py``: per-round eager ``localCheckpoint`` to
truncate the join-on-derived-self lineage, invariant frames persisted
once, each round checkpointed through ``cache.checkpoint`` superseding
the last (peak storage = 2 label frames regardless of iteration count).

Unlike classic LPA (random tie-breaks, asynchronous updates), every
round here is fully deterministic: node v adopts the most frequent
label among its neighbors, ties broken by SMALLEST label — so a fixed
iteration count lands on identical labels in any engine, making the
whole algorithm DuckDB-oracle-checkable as unrolled CTEs (the PageRank
rounded-fixpoint trick, but exact: all arithmetic is integer).

Scale shape: each round is one join of the symmetrized edge relation
with the current (node, label) frame on the neighbor key plus one
count aggregate and one per-node top-1 window — all shuffles on the
node key, so bucketing both frames by node makes every round
co-located.  No driver-side data at all.

Every endpoint of an edge list has degree ≥ 1 by construction, so the
"isolated node keeps its own label" branch cannot arise; callers with
genuinely isolated nodes should union them back afterwards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import checkpoint


def label_propagation(
    edges: DataFrame, u: str = "u", v: str = "v", iters: int = 4
) -> DataFrame:
    """Communities after ``iters`` synchronous min-tie-break LPA rounds
    from the identity labeling.  ``edges`` is an undirected edge list
    (each pair once, either orientation).  Returns (node, community)."""
    sym = (
        edges.select(F.col(u).alias("u"), F.col(v).alias("v"))
        .union(edges.select(F.col(v).alias("u"), F.col(u).alias("v")))
        .persist()
    )
    labels = checkpoint(
        sym.select(F.col("u").alias("node")).distinct().withColumn("lbl", F.col("node"))
    )

    top1 = Window.partitionBy("node").orderBy(F.desc("__c"), F.asc("lbl"))
    for _ in range(iters):
        neigh = sym.join(
            labels.withColumnRenamed("node", "v"), "v"
        ).select(F.col("u").alias("node"), "lbl")
        labels = checkpoint(
            neigh.groupBy("node", "lbl")
            .agg(F.count("*").alias("__c"))
            .withColumn("__rn", F.row_number().over(top1))
            .filter(F.col("__rn") == 1)
            .select("node", "lbl"),
            supersedes=labels,
        )
    sym.unpersist()
    return labels.select("node", F.col("lbl").alias("community"))
