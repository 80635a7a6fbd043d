"""[EXT] Connected components over a pair/edge table — the clustering step
after near-dup pair generation (dedup.py): every document in a component is
a duplicate-family member and one survivor per component is kept.

Scale design
------------
Iterative min-label propagation in DataFrame ops (no GraphX/graphframes
dependency).  Each round:

1. neighbor-min: every node takes the minimum label among itself and its
   direct neighbors — one shuffle on the edge join;
2. pointer-jump: every node then takes its LABEL's label
   (``label = label_of(label)``) — the classic shortcut that collapses
   chains, giving O(log diameter) convergence instead of O(diameter)
   (Kiveris et al., "Connected Components in MapReduce and Beyond",
   SoCC'14 — the large-star/small-star family).

Each round ends in an eager ``localCheckpoint`` of the label frame: that
single materialization both TRUNCATES LINEAGE (a bare ``persist`` leaves
the logical plan growing join-on-derived-self per iteration — analysis
time compounds superlinearly on deep graphs) and serves as the
convergence action (the changed-flag is computed inside the round and
probed with a ``limit(1).count()`` on the already-materialized frame, so
there is no extra per-round join).  The loop is in the driver but ALL
data movement is distributed joins.

Block lifetime: each round checkpoints through ``cache.checkpoint``,
superseding the previous round, so peak storage is 2 label frames
regardless of round count.  The FINAL label frame's blocks stay alive
deliberately: the returned DataFrame depends on them until the caller
consumes it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import checkpoint


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Label every node reachable through ``pairs`` with the minimum node
    id of its component.  Output: ``(node, component)``, one row per
    distinct node appearing in any pair.

    Deterministic: component labels are min-ids, independent of execution
    order.  Raises if the fixpoint is not reached in ``max_iters`` rounds
    (pointer-jumping makes that ~log2(longest chain), so 25 covers any
    realistic graph).
    """
    # the src/dst union reads `pairs` TWICE — persist it so an expensive
    # upstream (e.g. the blocked-linkage candidate plan feeding
    # linkage_entity_clusters) evaluates once; released in the finally
    # alongside edges
    pairs = pairs.persist()
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    labels = cp = checkpoint(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    try:
        for _ in range(max_iters):
            # 1) neighbor-min: min(component) over {self} ∪ neighbors
            neigh = (
                edges.join(labels, edges.dst == labels.node)
                .groupBy("src")
                .agg(F.min("component").alias("__nc"))
            )
            stepped = labels.join(neigh, labels.node == neigh.src, "left").select(
                "node",
                F.col("component").alias("__old"),
                F.least(
                    F.col("component"), F.coalesce(F.col("__nc"), F.col("component"))
                ).alias("component"),
            )
            # 2) pointer-jump: component = component-of(component); the
            # changed-flag rides along so convergence needs no extra join
            lookup = stepped.select(
                F.col("node").alias("__ln"), F.col("component").alias("__lc")
            )
            cp = checkpoint(
                stepped.join(lookup, stepped.component == F.col("__ln"), "left").select(
                    "node",
                    F.coalesce(F.col("__lc"), F.col("component")).alias("component"),
                    (
                        F.coalesce(F.col("__lc"), F.col("component"))
                        != F.col("__old")
                    ).alias("__chg"),
                ),
                supersedes=cp,
            )
            changed = cp.filter(F.col("__chg")).limit(1).count()
            labels = cp.select("node", "component")
            if changed == 0:
                return labels
        raise RuntimeError(f"connected_components did not converge in {max_iters} rounds")
    finally:
        edges.unpersist()
        pairs.unpersist()
