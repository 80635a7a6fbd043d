"""[EXT] Deterministic fixed-iteration PageRank over an edge relation.

Third member of the iterative-algorithm family (with
``operators/components.py`` connected components and
``operators/eigen.py`` power iteration), and built with the same
discipline those two earned the hard way:

- per-iteration ``localCheckpoint(eager=True)`` truncates the
  join-on-derived-self lineage (a bare persist leaves the logical plan
  growing superlinearly per round),
- each round checkpoints through ``cache.checkpoint``, superseding the
  last, so peak storage is 2 rank frames at any iteration count,
- every aggregation boundary is ROUNDED (`round_dp`), which is what
  makes a floating-point fixpoint reproducible in a second engine: the
  DuckDB oracle unrolls the same iterations as CTEs and must land on
  identical doubles.

Scale shape: each iteration is one join of the edge relation with the
current (node, rank) frame plus one aggregate on dst — i.e. two
shuffles per iteration, both on the node key, so pre-partitioning both
frames by node (bucketing at lake scale) makes every round co-located.
The degree frame is computed once.  No driver-side data beyond the
single node-count scalar (same documented pattern as
``contract.py``'s docs.count()).

Dangling nodes (out-degree 0) contribute no mass; callers wanting the
classic redistribute-dangling-mass variant should symmetrize edges
first (the contract query does), which eliminates dangling nodes by
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import checkpoint


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
    round_dp: int = 9,
) -> DataFrame:
    """Ranks after ``iters`` synchronous PageRank iterations from the
    uniform distribution.  Returns (node, rank)."""
    # The edge relation (often itself a join, e.g. orders x lineitem in
    # the contract query) and the derived node/degree frames are read by
    # EVERY iteration — persist them once or each round re-executes the
    # whole upstream build (measured 11.5 s -> ~5 s at sf0.1).  They are
    # released before returning: the final rank frame is checkpointed,
    # so it no longer depends on them.
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).persist()

    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    deg = e.groupBy("src").agg(F.count("*").alias("out_deg")).persist()
    n_nodes = nodes.count()  # driver scalar: one number, documented pattern
    if n_nodes == 0:
        # empty graph: return the empty (node, rank) frame rather than
        # letting ANSI mode fault on the 1/0 teleport constant
        for f in (deg, nodes, e):
            f.unpersist()
        return nodes.withColumn("rank", F.lit(0.0))

    ranks = checkpoint(
        nodes.withColumn("rank", F.round(F.lit(1.0) / F.lit(float(n_nodes)), round_dp))
    )

    teleport = F.lit((1.0 - damping)) / F.lit(float(n_nodes))
    for _ in range(iters):
        contribs = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("out_deg")).alias("contrib"),
            )
        )
        agg = contribs.groupBy("node").agg(F.sum("contrib").alias("__s"))
        ranks = checkpoint(
            nodes.join(agg, "node", "left").select(
                "node",
                F.round(
                    teleport + F.lit(damping) * F.coalesce(F.col("__s"), F.lit(0.0)),
                    round_dp,
                ).alias("rank"),
            ),
            supersedes=ranks,
        )
    for f in (deg, nodes, e):
        f.unpersist()
    return ranks


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
    round_dp: int = 9,
) -> DataFrame:
    """Personalized PageRank: random-walk-with-restart TO THE SEED SET
    (``seeds`` carries a ``node`` column) — the recommendation /
    expansion variant (rank mass concentrates near the seeds instead of
    spreading uniformly).  Same loop discipline as ``pagerank`` (eager
    localCheckpoints, invariant persists, per-round block frees, rounded
    fixpoint → unrolled-CTE oracle); the only deltas are the seed-
    restricted init (1/|S| on seeds, 0 elsewhere) and teleport term."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).persist()
    s = seeds.select("node").distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(s.withColumn("__seed", F.lit(1)), "node", "left")
        .select("node", F.coalesce("__seed", F.lit(0)).alias("__seed"))
        .persist()
    )
    deg = e.groupBy("src").agg(F.count("*").alias("out_deg")).persist()
    n_seeds = nodes.agg(F.sum("__seed")).collect()[0][0] or 0  # driver scalar
    if n_seeds == 0:
        for f in (deg, nodes, e):
            f.unpersist()
        return nodes.select("node").withColumn("rank", F.lit(0.0))

    inv_s = 1.0 / float(n_seeds)
    teleport = F.when(
        F.col("__seed") == 1, F.lit(1.0 - damping) * F.lit(inv_s)
    ).otherwise(F.lit(0.0))
    ranks = checkpoint(
        nodes.select(
            "node",
            F.round(
                F.when(F.col("__seed") == 1, F.lit(inv_s)).otherwise(F.lit(0.0)),
                round_dp,
            ).alias("rank"),
        )
    )

    for _ in range(iters):
        contribs = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("out_deg")).alias("contrib"),
            )
        )
        agg = contribs.groupBy("node").agg(F.sum("contrib").alias("__s"))
        ranks = checkpoint(
            nodes.join(agg, "node", "left").select(
                "node",
                F.round(
                    teleport + F.lit(damping) * F.coalesce(F.col("__s"), F.lit(0.0)),
                    round_dp,
                ).alias("rank"),
            ),
            supersedes=ranks,
        )
    for f in (deg, nodes, e):
        f.unpersist()
    return ranks
