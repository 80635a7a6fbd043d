"""[EXT] Triangle counting over a similarity (kNN) graph.

Two classic scale patterns composed:

1. **kNN graph construction** from a bipartite co-occurrence relation
   (supplier–part here): per-group pair generation on the shared key —
   the same bounded posting-list shape as n-gram dedup
   (``operators/dedup.py``), with a df cap guarding hot keys — then a
   per-node top-k by co-occurrence weight.  The kNN step is what makes
   triangle counting meaningful on a dense co-occurrence graph: the raw
   co-supply graph is near-complete (every supplier pair shares ~17
   parts at sf0.1), so its triangle count is the degenerate n³/6; the
   k-strongest-partner graph is sparse by construction at EVERY scale.
2. **Degree-ordered triangle enumeration** (the standard distributed
   algorithm, cf. Suri & Vassilvitskii's MapReduce formulation): orient
   each edge from the lower-(degree, id) endpoint to the higher, join
   oriented wedges (a→b, a→c), close them against the oriented edge
   (b→c).  Orientation bounds every node's out-degree by O(√m), so the
   wedge join is O(m^{3/2}) worst case instead of Σ deg² — the
   difference between feasible and not on skewed degree distributions.

Every step is deterministic (count ties broken by key), so the whole
count is DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import checkpoint


def cooccurrence_knn_edges(
    pairs_src: DataFrame,
    group_col: str,
    node_col: str,
    k: int = 10,
    max_group_size: int = 256,
) -> DataFrame:
    """Undirected kNN edge list (u < v) from a bipartite (group, node)
    relation: nodes sharing a group are candidate partners, weighted by
    the number of shared groups; each node keeps its ``k`` strongest
    partners (weight desc, partner id asc); an edge exists when EITHER
    endpoint selected it.  Groups above ``max_group_size`` nodes are
    dropped (hot-key guard — same policy as ``shingle_df_cap``)."""
    ps = pairs_src.select(
        F.col(group_col).alias("g"), F.col(node_col).alias("n")
    ).distinct()
    sizes = ps.groupBy("g").agg(F.count("*").alias("__gsz"))
    ps = ps.join(
        F.broadcast(sizes.filter(F.col("__gsz") <= max_group_size).select("g")),
        "g",
    )
    pairs = (
        ps.alias("a")
        .join(ps.alias("b"), "g")
        .filter(F.col("a.n") < F.col("b.n"))
        .groupBy(F.col("a.n").alias("u"), F.col("b.n").alias("v"))
        .agg(F.count("*").alias("w"))
    )
    sym = pairs.select("u", "v", "w").unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    )
    wk = Window.partitionBy("u").orderBy(F.desc("w"), F.asc("v"))
    top = sym.withColumn("__r", F.row_number().over(wk)).filter(F.col("__r") <= k)
    return (
        top.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        ).distinct()
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact triangle count of an undirected simple graph given as a
    (u < v) edge list: degree-ordered orientation + wedge-close join.
    Returns one row: n_nodes, n_edges, n_triangles, and the global
    clustering coefficient (3·triangles / open+closed wedges of the
    UNDIRECTED graph, rounded 6)."""
    nodes = edges.select(F.col("u").alias("n")).unionByName(
        edges.select(F.col("v").alias("n"))
    )
    deg = nodes.groupBy("n").agg(F.count("*").alias("d"))
    # degree joins are plain hash joins (NOT forced broadcast: the degree
    # relation is node-cardinality — AQE may still broadcast it when small)
    e = (
        edges.join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
    )
    # orient from lower (degree, id) to higher — out-degree ≤ O(√m)
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    )
    wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), "s")
        .filter(F.col("e1.t") < F.col("e2.t"))
        .select(F.col("e1.t").alias("b"), F.col("e2.t").alias("c"))
    )
    closing = oriented.select(
        F.col("s").alias("b"), F.col("t").alias("c")
    ).unionByName(oriented.select(F.col("t").alias("b"), F.col("s").alias("c")))
    tri = wedges.join(closing, ["b", "c"]).agg(F.count("*").alias("n_triangles"))
    stats = F.broadcast(edges.agg(F.count("*").alias("n_edges"))).crossJoin(
        F.broadcast(deg.agg(
            F.count("*").alias("n_nodes"),
            F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("__wedges"),
        ))
    )
    return (
        stats.crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.col("__wedges"), 6
            ).alias("clustering_coefficient"),
        )
    )


def local_clustering(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient of an undirected simple
    graph given as a (u < v) edge list: the node-grain refinement of
    ``triangle_count``.  Same degree-ordered orientation and
    wedge-close join, but each closed triangle credits its three
    corners; lcc(v) = 2·T(v)/(d(v)·(d(v)−1)) for d(v) ≥ 2, NULL below.
    Integer counts until the one final division, so the result is
    DuckDB-oracle hash-exact.  Output: (node, degree, n_triangles, lcc)."""
    nodes = edges.select(F.col("u").alias("n")).unionByName(
        edges.select(F.col("v").alias("n"))
    )
    deg = nodes.groupBy("n").agg(F.count("*").alias("d"))
    e = (
        edges.join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # the oriented edge list is read by the wedge self-join AND both
    # closing branches — an eager fence stops the kNN-construction
    # lineage (window + joins) being recomputed four times; the result's
    # checkpoint supersedes it
    oriented = checkpoint(
        e.select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), "s")
        .filter(F.col("e1.t") < F.col("e2.t"))
        .select(
            F.col("s").alias("a"),
            F.col("e1.t").alias("b"),
            F.col("e2.t").alias("c"),
        )
    )
    closing = oriented.select(
        F.col("s").alias("b"), F.col("t").alias("c")
    ).unionByName(oriented.select(F.col("t").alias("b"), F.col("s").alias("c")))
    tri = wedges.join(closing, ["b", "c"])
    corners = (
        tri.select(F.col("a").alias("n"))
        .unionByName(tri.select(F.col("b").alias("n")))
        .unionByName(tri.select(F.col("c").alias("n")))
    )
    tcount = corners.groupBy("n").agg(F.count("*").alias("t"))
    joined = deg.join(tcount, "n", "left")
    t = F.coalesce(F.col("t"), F.lit(0)).cast("long")
    return checkpoint(
        joined.select(
            F.col("n").alias("node"),
            F.col("d").cast("long").alias("degree"),
            t.alias("n_triangles"),
            F.when(
                F.col("d") >= 2,
                (F.lit(2) * t).cast("double")
                / (F.col("d") * (F.col("d") - 1)).cast("double"),
            ).alias("lcc"),
        ),
        supersedes=oriented,
    )
