"""[EXT] Deterministic Lloyd's KMeans over embedding columns
(SURVEY.md §2.11; the IVF bucket layout viewed as an operator).

Why not ``pyspark.ml.clustering.KMeans`` here: its k-means|| init draws
per-partition random samples, so the result depends on input partitioning
and cannot be cross-checked against an independent engine.  This operator
is Lloyd's algorithm with a fully pinned-down contract — deterministic
init, a fixed iteration count, and every centroid component / distance
rounded to ``round_dp`` decimals — which makes the whole clustering
reproducible bit-for-bit in ANSI SQL (the DuckDB oracle for
`embedding_clusters` unrolls the identical iterations as CTEs).

Scale design: each iteration is one broadcast of the k×dim centroid
literal over a map-only corpus scan (assignment is a JVM array
expression — no Python, no shuffle) plus one aggregation shuffle for the
centroid update.  The per-iteration driver collect is the k×dim centroid
table — metadata-scale, the same thing ``pyspark.ml`` KMeans collects
every iteration.

Rounding is load-bearing, not cosmetic: float summation order differs
across partitions and engines; rounding centroids and distances at each
step absorbs that noise so assignment decisions (argmin with tie-break on
cluster id) are identical everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sqdist_expr(vec: str, centroid: list[float], dp: int) -> F.Column:
    """round(v·v + c·c − 2 v·c, dp) — the same algebraic form the SQL
    oracle uses, so both engines round the same quantity.

    The centroid rides in the plan as a k×dim literal array — fine for
    coarse-quantizer scales (k·dim ≲ 10⁵ components); a non-finite
    component would serialize as invalid SQL, so fail loudly instead."""
    import math

    if not all(math.isfinite(x) for x in centroid):
        raise ValueError(f"non-finite centroid component: {centroid!r}")
    c_arr = f"array({', '.join(f'{x!r}D' for x in centroid)})"
    cc = sum(x * x for x in centroid)
    return F.round(
        F.expr(
            f"aggregate(transform({vec}, x -> x * x), 0D, (a, v) -> a + v)"
            f" + {cc!r}D"
            f" - 2 * aggregate(zip_with({vec}, {c_arr}, (x, y) -> x * y), 0D, (a, v) -> a + v)"
        ),
        dp,
    )


def centroid_array(structs: list[F.Column], element: str) -> F.Column:
    """``array(*structs)``, one struct per centroid.  An empty input trains
    no centroids, and a bare ``array()`` is ``array<void>``, whose fields
    cannot be extracted: then the result is an empty ``array<element>``, so
    every caller degrades to an empty (or unassigned) result."""
    return F.array(*structs) if structs else F.array().cast(f"array<{element}>")


def _assign(v: DataFrame, centroids: list[tuple[int, list[float]]], dp: int) -> DataFrame:
    """Add `cluster`: argmin of rounded sq-distance, ties → lowest cluster
    id, as ``array_min`` over a (distance, cluster) struct array — struct
    ordering compares d first, then cl, which IS the argmin-with-tie-break.
    One map-only pass; the centroid table rides in the plan as a literal
    (the broadcast degenerate case).

    Deliberately NOT a folded ``when(cand < best, ...)`` chain: each fold
    level embeds the prior tree twice (condition + otherwise), so the
    expression grows O(2^k) — measured 17 s of codegen at k=8, dim=64
    where this form takes ~2 s.  No centroids leave ``cluster`` null."""
    cands = centroid_array(
        [
            F.struct(
                _sqdist_expr("vec", c, dp).alias("d"), F.lit(cl).alias("cl")
            )
            for cl, c in centroids
        ],
        "struct<d:double,cl:int>",
    )
    return v.withColumn("cluster", F.array_min(cands)["cl"])


def lloyd_kmeans(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    init_centroids: list[tuple[int, list[float]]],
    iters: int = 3,
    round_dp: int = 6,
    keep_cols: tuple[str, ...] = (),
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Run ``iters`` Lloyd's update steps from ``init_centroids`` (list of
    (cluster_id, centroid)); return the final assignment frame
    (id, *keep_cols, cluster) AND the final centroid table — callers like
    IVF need the centroids to route queries.  Empty clusters drop out of
    the centroid table, exactly as an AVG-per-cluster SQL formulation
    drops them."""
    v = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("vec"),
    )
    centroids = sorted(init_centroids)
    for _ in range(iters):
        assigned = _assign(v, centroids, round_dp)
        upd = (
            assigned.select("cluster", F.posexplode("vec").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg("val"), round_dp).alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("cm"))
            .select("cluster", F.expr("transform(cm, s -> s.m)").alias("c"))
        )
        centroids = sorted(
            (r["cluster"], [float(x) for x in r["c"]]) for r in upd.collect()
        )
    out = _assign(v, centroids, round_dp).select(id_col, *keep_cols, "cluster")
    return out, centroids


def lloyd_kmeans_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    init_centroids: list[tuple[int, list[float]]],
    iters: int = 3,
    round_dp: int = 6,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Assignment-only view of :func:`lloyd_kmeans`."""
    out, _ = lloyd_kmeans(
        df, id_col, vec_col, init_centroids, iters, round_dp, keep_cols
    )
    return out


def seeded_id_init(
    df: DataFrame, id_col: str, vec_col: str, k: int
) -> list[tuple[int, list[float]]]:
    """Deterministic init without a label column: centroid j = the vector
    of the j-th smallest ``id_col``.  Expressible identically in SQL
    (row_number over (order by id)); the driver pull is k rows."""
    rows = df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    return [(j, [float(x) for x in r[vec_col]]) for j, r in enumerate(rows)]


def seeded_label_init(
    df: DataFrame, id_col: str, vec_col: str, label_col: str, k: int
) -> list[tuple[int, list[float]]]:
    """Deterministic spread init: centroid j = the vector of the minimum
    ``id_col`` among rows with ``label_col`` = j, for j < k.  Expressible
    identically in SQL (row_number over (partition by label order by id))."""
    from pyspark.sql import Window

    w = Window.partitionBy(label_col).orderBy(id_col)
    rows = (
        df.filter(F.col(label_col) < k)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col(label_col).alias("cl"), F.col(vec_col).alias("c"))
        .collect()
    )
    return sorted((int(r["cl"]), [float(x) for x in r["c"]]) for r in rows)
