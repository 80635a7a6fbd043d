"""[EXT] Similarity search over embedding columns (SURVEY.md §2.11).

Baseline: brute-force cosine top-k — a broadcast of the (small) query set
against a map-only scan of the corpus; exact, O(corpus × queries).

Scale path: IVF-style partitioned search — KMeans coarse centroids, corpus
bucketed by nearest centroid (shuffle once, reusable), queries probe only
the ``n_probe`` nearest buckets.  At 100 TB the bucketed corpus is the
stored layout and each query touches a few percent of it.

Dot products run as JVM array expressions (`zip_with`+`aggregate`) in
double precision — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..cache import checkpoint
from .candidates import attach, dedup_pairs


def _dot(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        f" 0D, (acc, v) -> acc + v)"
    )


def with_norm(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Project (id, vec, norm) with the L2 norm precomputed once."""
    return df.select(
        F.col(id_col),
        F.col(vec_col).alias("vec"),
        F.sqrt(
            F.expr(
                f"aggregate(transform({vec_col}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
                f" 0D, (acc, v) -> acc + v)"
            )
        ).alias("norm"),
    )


def cosine_expr(vec_a: str, vec_b: str, norm_a: str, norm_b: str) -> Column:
    return F.when(
        (F.col(norm_a) > 0) & (F.col(norm_b) > 0),
        _dot(vec_a, vec_b) / (F.col(norm_a) * F.col(norm_b)),
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared top-k tail of every ANN variant: per-query row_number over
    (cosine DESC, neighbor_id ASC — the deterministic tie-break), capped
    at ``k``, canonical output projection."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "knn_rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set, scan the corpus once,
    rank per query.  Ties break on neighbor id for determinism; self-matches
    are excluded.  Output: (query_id, neighbor_id, cosine, knn_rank)."""
    c = with_norm(corpus, id_col, vec_col).withColumnsRenamed(
        {id_col: "neighbor_id", "vec": "vec_n", "norm": "norm_n"}
    )
    q = with_norm(queries, id_col, vec_col).withColumnsRenamed(
        {id_col: "query_id", "vec": "vec_q", "norm": "norm_q"}
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(cosine_expr("vec_q", "vec_n", "norm_q", "norm_n"), 4))
    )
    return _rank_topk(scored, k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
    round_dp: int = 6,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — fully deterministic.

    1. The deterministic Lloyd's coarse quantizer
       (``operators/clustering.py``: id-seeded init, fixed iterations,
       rounded updates) learns ``n_centroids`` centroids — NOT
       ``pyspark.ml`` KMeans, whose k-means|| init depends on input
       partitioning and cannot be cross-checked by an independent engine.
    2. Corpus rows are assigned to their nearest centroid (stored layout —
       at scale, write the corpus ``partitionBy("ivf_bucket")`` once and
       amortize across every query batch).
    3. Each query probes its ``n_probe`` nearest buckets (map-only
       ``array_sort``+``slice`` over the centroid literal) and ranks only
       those buckets' vectors.

    Approximate: recall < 1 when a true neighbor lives outside the probed
    buckets — the standard IVF trade.  Deterministic: the DuckDB oracle
    (`ann_ivf_topk`) unrolls the identical quantizer and probes the same
    buckets, so the result is hash-exact, not just "close".
    """
    from .clustering import _assign, _sqdist_expr, centroid_array, lloyd_kmeans, seeded_id_init

    init = seeded_id_init(corpus, id_col, vec_col, n_centroids)
    _, centroids = lloyd_kmeans(
        corpus.select(id_col, vec_col), id_col, vec_col, init,
        iters=iters, round_dp=round_dp,
    )

    def _vecd(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("vec"),
        )

    norm = F.sqrt(
        F.expr("aggregate(transform(vec, x -> x * x), 0D, (acc, v) -> acc + v)")
    )
    # Corpus bucketing is the map-only argmin expression over the centroid
    # literal — ONE scan, no join, no shuffle (at scale, persist this as the
    # stored layout with partitionBy("bucket") and amortize across batches).
    c = _assign(_vecd(corpus), centroids, round_dp).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("vec").alias("vec_n"),
        norm.alias("norm_n"),
        F.col("cluster").alias("bucket"),
    )
    # Each query row fans out to its n_probe buckets in the same map-only
    # pass that computes its norm; each corpus row lives in exactly one
    # bucket, so (query, neighbor) pairs stay unique.
    cands = centroid_array(
        [
            F.struct(
                _sqdist_expr("vec", cv, round_dp).alias("d"),
                F.lit(int(cl)).alias("cl"),
            )
            for cl, cv in centroids
        ],
        "struct<d:double,cl:int>",
    )
    q = _vecd(queries).select(
        F.col(id_col).alias("query_id"),
        F.col("vec").alias("vec_q"),
        norm.alias("norm_q"),
        F.explode(F.slice(F.array_sort(cands), 1, n_probe)).alias("p"),
    ).withColumn("bucket", F.col("p.cl")).drop("p")

    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(cosine_expr("vec_q", "vec_n", "norm_q", "norm_n"), 4))
    )
    return _rank_topk(scored, k)


def srp_planes(
    dim: int, n_planes: int, n_tables: int, seed: int = 42
) -> list[list[list[float]]]:
    """Deterministic Rademacher (±1) hyperplanes for signed-random-
    projection LSH, derived per-component from sha256 — reproducible
    across engines, sessions, and languages, so an independent oracle can
    rebuild the identical tables.  Embedded as plan literals
    (n_tables × n_planes × dim ≤ a few thousand doubles — same size class
    as the IVF centroid literal, same documented bound)."""
    import hashlib

    return [
        [
            [
                1.0
                if hashlib.sha256(f"srp|{seed}|{t}|{p}|{d}".encode()).digest()[0] % 2 == 0
                else -1.0
                for d in range(dim)
            ]
            for p in range(n_planes)
        ]
        for t in range(n_tables)
    ]


def srp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SRP-LSH approximate cosine top-k — the hash-bucketed scale path
    (complementing ``ivf_topk``: no training pass, pure hashing).

    Each of ``n_tables`` hash tables assigns a vector the ``n_planes``-bit
    signature of its dot-product signs against deterministic Rademacher
    hyperplanes; cosine-similar vectors collide with probability
    ``(1 − θ/π)^n_planes`` per table, and multi-table union recovers the
    recall a single table loses.  Candidates = corpus∕query pairs sharing
    a (table, bucket); only candidates get the exact cosine, then per-query
    top-k.  One shuffle on (table, bucket) + one on the candidate key —
    never a cross join; at scale the corpus signatures are the stored
    layout (write once ``partitionBy("srp_table", "srp_bucket")``).

    REGIME: SRP-LSH is the high-cosine path (near-dup retrieval — at
    cos ≥ 0.95 the default 8×8 config collides with p ≈ 0.99; recall ≥
    0.95 pinned in ``tests/test_similarity.py`` on clustered data).  On
    near-orthogonal corpora (this testdata tops out at cos ≈ 0.5) the
    collision bound (1 − θ/π)^8 collapses and recall is inherently low —
    measured 0.04–0.12 @ top-5 here; that is the algorithm, not a bug.
    Far-neighbor top-k at scale belongs to ``ivf_topk``, whose recall IS
    pinned against brute force on this corpus.

    The signature arrays are persisted before the posexplode
    (MATERIALIZATION FENCE — see ``jaccard_pairs``: exploding would
    re-evaluate all n_tables × n_planes dot products per emitted row).
    Deterministic end-to-end: the DuckDB oracle rebuilds the same planes
    and buckets, so the driver check is hash-exact, not "close".
    """
    planes = srp_planes(dim, n_planes, n_tables, seed)

    def bucket_expr(t: int) -> Column:
        bits: Column = F.lit(0)
        for p in range(n_planes):
            lit = "array(" + ",".join(f"{v}D" for v in planes[t][p]) + ")"
            dot = F.expr(
                f"aggregate(zip_with(vec, {lit}, (x, y) -> CAST(x AS DOUBLE) * y),"
                f" 0D, (acc, v) -> acc + v)"
            )
            bits = bits + F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
        return bits

    def signatures(df: DataFrame, idn: str) -> tuple[DataFrame, DataFrame]:
        # dim guard: zip_with NULL-PADS a length mismatch instead of
        # erroring, which would NULL every dot, put every vector in bucket
        # 0, and silently degrade the candidate join to a cross product —
        # fail loudly at the first row instead
        buckets = F.when(
            F.size("vec") == F.lit(dim),
            F.array(*[bucket_expr(t) for t in range(n_tables)]),
        ).otherwise(
            F.raise_error(
                F.format_string(
                    f"srp_lsh_topk: dim=%s but vector length %s — pass the "
                    f"embedding's true dimension",
                    F.lit(dim),
                    F.size("vec"),
                )
            )
        )
        sigs = with_norm(df, id_col, vec_col).select(
            F.col(id_col).alias(idn),
            "vec",
            "norm",
            buckets.alias("__buckets"),
        ).persist()  # fence: feeds the explode AND the re-attach
        exploded = sigs.select(
            idn, F.posexplode("__buckets").alias("srp_table", "srp_bucket")
        )
        return sigs, exploded

    c_sigs, c_b = signatures(corpus, "neighbor_id")
    q_sigs, q_b = signatures(queries, "query_id")

    cand = (
        c_b.join(q_b, ["srp_table", "srp_bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    scored = (
        cand.join(
            q_sigs.select("query_id", F.col("vec").alias("vec_q"), F.col("norm").alias("norm_q")),
            "query_id",
        )
        .join(
            c_sigs.select(
                "neighbor_id", F.col("vec").alias("vec_n"), F.col("norm").alias("norm_n")
            ),
            "neighbor_id",
        )
        .withColumn("cosine", F.round(cosine_expr("vec_q", "vec_n", "norm_q", "norm_n"), 4))
    )
    return _rank_topk(scored, k)


# ---------------------------------------------------------------------------
# BLAS filter-refine kernels (round 5).
#
# The sf1 dress rehearsal measured the interpreted `aggregate(zip_with(...))`
# cosine fold at ~µs/pair (CodegenFallback — never compiled), which is fine
# for the ANN queries' bounded candidate sets but made the canopy dedup's
# ~10⁸-candidate verify stage the single slowest thing in the engine (308 s
# at sf1 AFTER the AQE fan fix).  The classic answer is FILTER-REFINE:
#
#   screen every in-bucket pair with one per-bucket numpy gemm
#   (U @ U.T — vectors cross Arrow ONCE per bucket, ~100× cheaper per
#   pair than the interpreted fold), admitting pairs at threshold − 1e-6;
#   then REFINE the tiny surviving set through the exact JVM ordered
#   fold that the DuckDB oracle replays, so emitted values stay
#   hash-exact (numpy's pairwise summation differs from the ordered
#   fold by ~ulp·d — far inside the margin, never inside the contract).
# ---------------------------------------------------------------------------


def collect_leader_matrix(leaders: DataFrame, bucket_col: str, vec_col: str):
    """Collect the (tiny, ≤ canopy cap) leader table into a
    deterministically-ordered numpy matrix — the documented bounded
    driver collect (same budget class as the KMeans centroids)."""
    import numpy as np

    rows = leaders.select(bucket_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows]) if rows else np.empty((0, 0))
    order = np.argsort(ids)
    return ids[order], mat[order]


def assign_buckets_gemm(
    vectors: DataFrame,
    leader_ids,
    leader_mat,
    id_col: str,
    n_assign: int,
    tie_eps: float = 1e-9,
    tie_cap: int = 8,
) -> DataFrame:
    """(id, bucket) assignment of every vector to its ``n_assign``
    nearest leaders by cosine — one numpy gemm per Arrow batch against
    the broadcast leader matrix instead of n·L interpreted folds.
    Ties (and degenerate zero-norm rows, whose sims are all equal)
    break toward the SMALLEST leader id: the leader columns are
    id-sorted and the argsort is stable — the same (sim desc, bucket
    asc) rule as the JVM row_number path.

    Near-tie slack: numpy's pairwise summation differs from the exact
    JVM fold by ~d·ulp, so a leader the fold ranks inside the top
    ``n_assign`` can land just BELOW the gemm's n_assign-th sim.  To
    keep the gemm candidate set a superset of the fold path's, every
    leader within ``tie_eps`` of the n_assign-th sim is ALSO assigned
    (``tie_eps=1e-9`` is ~1e5× the d=64 float64 summation noise and far
    below any real inter-leader sim gap).  The extra assignments are
    capped at ``n_assign + tie_cap`` per vector so an all-equal-sims
    degenerate row (e.g. zero-norm) cannot fan out to every leader;
    if a pathological corpus has more than ``tie_cap`` near-ties the
    two paths may diverge — the pinned gemm-vs-fold set-equality test
    (tests/test_dedup_properties.py) is the regression guard."""
    import numpy as np
    import pandas as pd

    ln = np.linalg.norm(leader_mat, axis=1, keepdims=True)
    ln[ln == 0] = np.inf
    lu_t = (leader_mat / ln).T
    k = min(n_assign, len(leader_ids))
    limit = min(k + tie_cap, len(leader_ids))

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            xn = np.linalg.norm(x, axis=1, keepdims=True)
            xn[xn == 0] = np.inf
            sims = (x / xn) @ lu_t
            order = np.argsort(-sims, axis=1, kind="stable")[:, :limit]
            osims = np.take_along_axis(sims, order, axis=1)
            # top-k always; positions k..limit only within tie_eps of kth
            mask = osims >= (osims[:, k - 1 : k] - tie_eps)
            mask[:, :k] = True
            rows, cols = np.nonzero(mask)
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(
                {
                    id_col: ids[rows],
                    "bucket": leader_ids[order[rows, cols]],
                }
            )

    return vectors.select(id_col, "vec").mapInPandas(fn, f"{id_col} long, bucket long")


def gemm_screen_pairs(
    assign: DataFrame,
    vectors: DataFrame,
    id_col: str,
    bucket_col: str = "bucket",
    threshold: float = 0.95,
    margin: float = 5e-5 + 1e-6,
    block_rows: int = 1024,
) -> DataFrame:
    """All in-bucket pairs whose numpy cosine clears ``threshold −
    margin`` — the screen half of filter-refine.  One
    ``applyInPandas`` group per bucket; the upper-triangle gemm runs in
    ``block_rows`` row-blocks so a hot bucket of k vectors peaks at
    O(block_rows·k) floats, not k².  Zero-norm rows yield NaN sims and
    screen out.  Output: bare (id_a < id_b), de-duplicated across
    buckets on the numbered id_a fence (``candidates.dedup_pairs``) —
    feed straight to the exact fold for refinement, no further
    repartition needed.

    The default ``margin`` is NOT a bare ulp guard: the refine filter
    (and the DuckDB oracle) accept ``round(cosine, 4) >= threshold``,
    i.e. raw cosine >= threshold − 5e-5 (HALF_UP boundary), so the
    screen must admit down to ``threshold − 5e-5`` or boundary pairs
    that round UP to the threshold would be silently dropped — a
    data-dependent recall loss vs the rounded-threshold contract.
    5e-5 covers the rounding slack; the extra 1e-6 covers gemm-vs-fold
    float noise (~d·ulp).  Callers screening against an UNROUNDED
    accept rule can pass ``margin=1e-6``."""
    import numpy as np
    import pandas as pd

    thr = threshold - margin
    joined = assign.join(vectors.select(id_col, "vec"), id_col)

    def fn(pdf):
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": np.array([], dtype=np.int64),
                                 "id_b": np.array([], dtype=np.int64)})
        x = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            u = x / np.linalg.norm(x, axis=1, keepdims=True)
        ids = pdf[id_col].to_numpy()
        out_a, out_b = [], []
        for i0 in range(0, n, block_rows):
            i1 = min(i0 + block_rows, n)
            s = u[i0:i1] @ u.T  # (block, n)
            ri, ci = np.nonzero(s >= thr)  # NaN compares False
            keep = ci > (ri + i0)  # strict upper triangle, no self
            ia, ib = ids[ri[keep] + i0], ids[ci[keep]]
            out_a.append(np.minimum(ia, ib))
            out_b.append(np.maximum(ia, ib))
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
        )

    return dedup_pairs(joined.groupBy(bucket_col).applyInPandas(fn, "id_a long, id_b long"))


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_candidates: int = 100,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_sub: int = 4,
    round_dp: int = 6,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC) — the memory-compressed scale path that pairs with the PQ
    codebooks of `embedding_pq_codes`: Jégou et al.'s IVF-PQ second
    half, filter-refine shaped like the gemm dedup screen.

    0. NORMALIZE: vectors are L2-normalized first, so squared L2
       distance is monotone in cosine (‖a−b‖² = 2 − 2·cos) and the ADC
       screen ranks by the same quantity the refine step scores —
       without this, PQ on raw vectors ranks by magnitude-dominated L2
       and cosine recall collapses (measured 0.24 → 0.96 on testdata).
       Zero-norm vectors pass through unnormalized (their cosine is
       NULL downstream and the refine drops them).
    1. TRAIN: split the unit vectors into ``n_sub`` contiguous
       subspaces and learn a deterministic ``k_codes`` Lloyd codebook
       per subspace (operators/clustering.py: id-seeded init, fixed
       iterations, rounded updates — cross-engine reproducible).
       Codebooks are driver-scalar sized (n_sub · k_codes · dim/n_sub
       floats).
    2. ENCODE: each corpus vector compresses to ``n_sub`` small codes —
       one map-only pass; at 100 TB the code table is the stored index
       (dim·4 bytes → n_sub bytes per vector) and the raw vectors are
       only touched by the refine step.
    3. SCREEN (ADC): per query, a distance TABLE of rounded squared
       distances query-half ↔ centroid (n_sub · k_codes rows — tiny,
       broadcast); approximate distance of query q to vector x is
       round(Σ_s dt_s[code_s(x)], round_dp) — the corpus-side scan
       touches only the code columns, never the vectors.  Top
       ``n_candidates`` per query by (adc, id) — deterministic.
    4. REFINE: re-score ONLY the candidates with the exact JVM-fold
       cosine (rounded 4), rank, emit top ``k``.

    Everything (init, iterations, table lookups, tie-breaks) is
    deterministic, so the DuckDB twin replays the identical pipeline
    and the output is hash-exact — recall vs brute force is data-
    dependent (pinned separately in tests/test_similarity.py), but the
    EMITTED rows are reproducible bit-for-bit.
    Output: (query_id, neighbor_id, cosine, knn_rank).
    """
    from .clustering import _sqdist_expr, centroid_array, lloyd_kmeans, seeded_id_init

    sub_dim = dim // n_sub

    def _sliced(df: DataFrame, id_alias: str) -> DataFrame:
        # Norm as its OWN column, referenced from the division lambda —
        # NEVER inline the norm fold inside the transform: higher-order
        # functions are CodegenFallback (interpreted), and an inlined fold
        # re-evaluates once PER ELEMENT (64× the work; caught by jstack on
        # the sf1 tier run as an 800 s single task).
        base = (
            df.select(
                F.col(id_col).alias(id_alias),
                F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("__v"),
            )
            .withColumn(
                "__n",
                F.sqrt(
                    F.expr("aggregate(transform(__v, x -> x * x), 0D, (a, v) -> a + v)")
                ),
            )
            .withColumn(
                "__u",
                F.when(
                    F.col("__n") > 0, F.expr("transform(__v, x -> x / __n)")
                ).otherwise(F.col("__v")),
            )
        )
        return base.select(
            id_alias,
            *[
                F.expr(f"slice(__u, {s * sub_dim + 1}, {sub_dim})").alias(f"h{s}")
                for s in range(n_sub)
            ],
        )

    # persisted: Lloyd training is multi-pass (iters collect jobs per
    # subspace) — without the fence every pass re-normalizes the corpus
    # through the interpreted folds (at 100 TB: train on a sample or
    # materialize the unit vectors once as the stored layout)
    halves = _sliced(corpus, id_col).persist()
    q_halves = _sliced(queries, "query_id")
    codes = None
    dts = []
    for s in range(n_sub):
        sub = halves.select(id_col, F.col(f"h{s}"))
        init = seeded_id_init(sub, id_col, f"h{s}", k_codes)
        assigned, cents = lloyd_kmeans(
            sub, id_col, f"h{s}", init, iters=iters, round_dp=round_dp
        )
        assigned = assigned.withColumnRenamed("cluster", f"code{s}")
        codes = assigned if codes is None else codes.join(assigned, id_col)
        # per-query ADC distance table: one row per (query, code)
        dts.append(
            q_halves.select(
                "query_id",
                F.explode(
                    centroid_array(
                        [
                            F.struct(
                                F.lit(cl).alias(f"code{s}"),
                                _sqdist_expr(f"h{s}", c, round_dp).alias(f"d{s}"),
                            )
                            for cl, c in cents
                        ],
                        f"struct<code{s}:int,d{s}:double>",
                    )
                ).alias("e"),
            ).select("query_id", f"e.code{s}", f"e.d{s}")
        )
    # the (id, code…) table IS the compressed index — materialize it once
    # (eager, narrow: one id + n_sub small ints per vector) and release
    # the unit-vector fence; downstream touches codes + raw vectors only
    codes = codes.localCheckpoint()
    halves.unpersist()
    cand = codes
    for s, dt in enumerate(dts):
        on = ["query_id", f"code{s}"] if s else [f"code{s}"]
        cand = cand.join(F.broadcast(dt), on)
    cand = (
        cand.filter(F.col("query_id") != F.col(id_col))
        .withColumn(
            "adc",
            F.round(sum(F.col(f"d{s}") for s in range(n_sub)), round_dp),
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc(id_col))
            ),
        )
        .filter(F.col("__rn") <= n_candidates)
        .select("query_id", F.col(id_col).alias("neighbor_id"))
    )
    c = with_norm(corpus, id_col, vec_col).withColumnsRenamed(
        {id_col: "neighbor_id", "vec": "vec_n", "norm": "norm_n"}
    )
    q = with_norm(queries, id_col, vec_col).withColumnsRenamed(
        {id_col: "query_id", "vec": "vec_q", "norm": "norm_q"}
    )
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cosine", F.round(cosine_expr("vec_q", "vec_n", "norm_q", "norm_n"), 4)
        )
    )
    return _rank_topk(scored, k)


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k ([EXT]) — the
    retrieval re-ranker that trades pure relevance for diversity
    (Carbonell & Goldstein 1998): greedily pick the candidate maximizing
    ``λ·sim(q, d) − (1−λ)·max_{s∈S} sim(d, s)`` against the
    already-selected set S.

    MMR is inherently sequential in k, but NOT in the corpus: the
    corpus-scale work is the relevance pool (``brute_force_topk`` here;
    any ANN variant slots in at scale), after which the greedy loop runs
    on a per-query POOL of ``pool`` candidates — pool² pairwise sims and
    k bounded DataFrame steps, each one broadcast-sized join + argmin
    window, all JVM-side.  Per-query state never leaves the cluster.

    Determinism: relevance and pairwise sims are the rounded(4) exact
    fold cosines, the MMR score rounds to 6, ties break on neighbor id —
    so the unrolled k-step DuckDB twin is hash-exact.
    Output: (query_id, neighbor_id, relevance, mmr_rank).
    """
    rel = brute_force_topk(corpus, queries, k=pool, id_col=id_col, vec_col=vec_col)
    rel = rel.select("query_id", "neighbor_id", F.col("cosine").alias("rel")).persist()
    # pairwise sims among each query's pool (pool² per query, bounded)
    cv = with_norm(corpus, id_col, vec_col)
    a = rel.select("query_id", F.col("neighbor_id").alias("a"))
    b = rel.select("query_id", F.col("neighbor_id").alias("b"))
    pool = a.join(b, "query_id").filter(F.col("a") != F.col("b"))
    pair = (
        attach(pool, (cv, cv), id_col, {"a": "_a", "b": "_b"}, {"vec": "vec", "norm": "norm"})
        .withColumn("sim", F.round(cosine_expr("vec_a", "vec_b", "norm_a", "norm_b"), 4))
        .select("query_id", "a", "b", "sim")
        .persist()
    )
    w_rel = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("neighbor_id"))
    # Each greedy step references the previous selection THREE times
    # (exclusion filter, max-sim join, union) — left lazy, the plan tree
    # grows 3^k copies of the corpus-scale pool stage (measured: the sf1
    # tier run wedged for 40+ min).  A checkpoint per step materializes
    # the ≤ k·n_queries-row selection eagerly and supersedes the last,
    # the same per-round discipline as the other iterative operators.
    selected = checkpoint(
        rel.withColumn("__rn", F.row_number().over(w_rel))
        .filter(F.col("__rn") == 1)
        .select("query_id", "neighbor_id", "rel", F.lit(1).alias("mmr_rank"))
    )
    w_score = Window.partitionBy("query_id").orderBy(
        F.desc("mmr"), F.asc("neighbor_id")
    )
    for t in range(2, k + 1):
        # drop candidates already selected for their query (any position)
        remaining = (
            rel.join(
                selected.select(
                    "query_id", F.col("neighbor_id").alias("__sel")
                ).groupBy("query_id").agg(F.collect_set("__sel").alias("__sels")),
                "query_id",
            )
            .filter(~F.array_contains("__sels", F.col("neighbor_id")))
            .drop("__sels")
        )
        max_sim = (
            remaining.alias("r")
            .join(
                pair.alias("p"),
                (F.col("p.query_id") == F.col("r.query_id"))
                & (F.col("p.a") == F.col("r.neighbor_id")),
            )
            .join(
                selected.select(
                    F.col("query_id").alias("sq"), F.col("neighbor_id").alias("sb")
                ),
                (F.col("sq") == F.col("r.query_id")) & (F.col("p.b") == F.col("sb")),
            )
            .groupBy(F.col("r.query_id").alias("query_id"),
                     F.col("r.neighbor_id").alias("neighbor_id"),
                     F.col("r.rel").alias("rel"))
            .agg(F.max("p.sim").alias("max_sim"))
        )
        pick = (
            max_sim.withColumn(
                "mmr",
                F.round(
                    F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * F.col("max_sim"), 6
                ),
            )
            .withColumn("__rn", F.row_number().over(w_score))
            .filter(F.col("__rn") == 1)
            .select("query_id", "neighbor_id", "rel", F.lit(t).alias("mmr_rank"))
        )
        selected = checkpoint(selected.unionByName(pick), supersedes=selected)
    out = checkpoint(
        selected.select(
            "query_id", "neighbor_id", F.col("rel").alias("relevance"),
            F.col("mmr_rank").cast("long").alias("mmr_rank"),
        ),
        supersedes=selected,
    )
    # safe to release only AFTER the eager checkpoint above materialized
    # the result — an unpersist before the caller's action would force
    # full pool recomputes at execution time
    rel.unpersist()
    pair.unpersist()
    return out
