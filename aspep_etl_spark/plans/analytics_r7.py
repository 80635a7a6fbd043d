"""[EXT] Round-6 batch 3: data-selection, semantic-dedup, resampling-
statistics, and community-quality contract queries, each with a
hash-exact DuckDB twin.

- ``docs_dsir_weights`` — hashed n-gram importance weights for
  data-selection (the DSIR recipe, Xie et al. 2023, arXiv:2302.03169):
  score every document by how much more likely its tokens are under a
  TARGET domain's hashed-unigram distribution than under the raw-corpus
  distribution.  Features are md5-hash buckets (256), so the "model" is
  a 256-row broadcast relation and scoring rides ONE token scan — the
  same zero-shuffle map-only shape as ``docs_classifier_score``, which
  is exactly why DSIR is the selection method that runs at 100 TB.
  Per-token log10 ratios fold in position order on both engines (the
  ``docs_nb_classify`` recipe); the ratio itself is ONE exact division
  of BIGINT products, so the only cross-engine slack is libm's sub-ulp
  log10, absorbed by ``round(score, 6)``.
- ``dedup_semantic`` — SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
  duplicate pruning inside KMEANS clusters instead of LSH buckets.
  Reuses the deterministic Lloyd's assignment of ``embedding_clusters``
  (so the DuckDB twin replays the identical clustering via the shared
  ``plans/lloyd_sql.py`` CTE builder), then drops every vector with a
  smaller-id in-cluster neighbor at rounded cosine ≥ t.  Quadratic work
  is confined to a cluster (the canopy argument, ``operators/dedup.py``);
  at corpus scale k grows with n so cluster sizes stay bounded, and the
  in-cluster screen is the gemm filter-refine kernel's job.
- ``events_bootstrap_ci`` — Poisson-bootstrap confidence intervals for
  the per-type mean event value.  The classic bootstrap resamples the
  dataset B times — impossible at 100 TB; the Poisson bootstrap
  (Chamandy et al. 2012, "Estimating uncertainty for massive data
  streams") draws each row's replicate multiplicity w ~ Poisson(1)
  INLINE from a hash, making all B replicates ONE pass with a mergeable
  partial aggregate.  The weight is a pure integer comparison chain
  against hard-coded Poisson(1) CDF thresholds (scaled to 1e6 — no
  float anywhere), values enter as ``floor(value·100)`` BIGINTs, so
  every replicate mean is ONE division of two BIGINTs and the CI bounds
  are order statistics (selection, never interpolation) of the 40
  replicate means — bit-exact on both engines.
- ``events_mannwhitney`` — Mann–Whitney U between the click and
  purchase value distributions, computed at VALUE-GRAIN: 2·U1 =
  Σ_v a(v)·(2·B_less(v) + b(v)) over the distinct-value grid, so the
  statistic is exact BIGINT arithmetic (average-rank tie handling
  included — no ranks ever materialize) and the raw events are touched
  once.  The grid cumsum is a global-window shape bounded by the
  distinct clipped values (≤ 100·value-range buckets), the documented
  dim-grain window budget; effect size (rank-biserial) is one final
  division.
- ``graph_modularity`` — Newman modularity of the LPA communities on
  the supplier co-supply kNN graph: per community, Q_c = m_c/m −
  (d_c/2m)².  Computed as the INTEGER numerator 4·m·m_c − d_c² over the
  common denominator 4m², so per-community contributions are one exact
  BIGINT/BIGINT division — the community-quality audit that closes the
  LPA → quality loop (and Σ q_c is the global Q).  Three keyed
  hash-aggs over the edge list; the oracle extends the unrolled
  ``_LPA_SQL`` rounds.

Reference parity: all [EXT] — the reference (``process_aspep/``) has no
data-selection, semantic-dedup, resampling, or graph-quality tier.
Determinism rules are the module-level ones from ``analytics_extra.py``:
integer arithmetic until one final division wherever possible;
identically-ordered left folds otherwise; md5-prefix integers for every
hash draw.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..sources.registry import fan_for_compute, load_table as _t
from .lloyd_sql import lloyd_assign_prefix
from .xxh64_sql import PRELUDE as _XXH_PRELUDE
from .xxh64_sql import classifier_wts_ctes as _cls_wts


_WORD_RE = "[a-z0-9]+"


def _md5i(col):
    """The md5-prefix 32-bit integer both engines agree on."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


# --------------------------------------------------------------------------
# docs_dsir_weights
# --------------------------------------------------------------------------

_DSIR_BUCKETS = 256
_DSIR_TARGET_LANG = "en"


def docs_dsir_weights(spark, sf_dir):
    """DSIR hashed-unigram importance weight per document ([EXT] — the
    data-selection operator): log10 likelihood ratio of the doc's tokens
    under the target-domain (lang = 'en') vs raw-corpus hashed-bucket
    unigram models, Laplace-smoothed.  The 256-bucket model is a
    broadcast relation; scoring is one token scan + ordered position
    fold, ``round(·, 6)`` absorbing libm log10 slack."""
    docs = fan_for_compute(_t(spark, sf_dir, "documents"))
    # two persist fences (r8; measured 8.4 → 6.0 s at sf1): the array
    # frame fences the regexp from posexplode's per-emitted-element
    # re-evaluation (the documented explode trap), and the token frame
    # fences the per-token md5 bucketing from its THREE consumers
    # (raw model, target model, scoring fold).  Multi-query callers
    # sweep with cache.free_cached_blocks as usual.
    arr = docs.select(
        "doc_id",
        "lang",
        F.regexp_extract_all(F.lower("text"), F.lit(_WORD_RE), 0).alias(
            "__toks"
        ),
    ).persist()
    # r9: bucket hash re-keyed md5 → native xxhash64 (the md5→hex→conv
    # chain ran per token OCCURRENCE and was the scan's dominant cost at
    # sf1; xxhash64 is one codegen'd JVM hash).  The DuckDB twin hashes
    # once per DISTINCT word via the XXH64 macro and joins back —
    # 256 divides 2^64, so unsigned-mod equals pmod.
    tok = (
        arr.select("doc_id", "lang", F.posexplode("__toks").alias("pos", "w"))
        .withColumn(
            "b",
            F.pmod(
                F.xxhash64(F.concat(F.lit("dsir|"), F.col("w"))),
                F.lit(_DSIR_BUCKETS),
            ),
        )
        .persist()
    )
    raw_b = tok.groupBy("b").agg(F.count("*").alias("cr"))
    tgt_b = (
        tok.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("b")
        .agg(F.count("*").alias("ct"))
    )
    raw_tot = raw_b.agg(F.sum("cr").alias("r_tot"))
    tgt_tot = tgt_b.agg(F.sum("ct").alias("t_tot"))
    model = (
        raw_b.join(tgt_b, "b", "left")
        .na.fill({"ct": 0})
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(tgt_tot))
        .select(
            "b",
            F.log10(
                ((F.col("ct") + 1) * (F.col("r_tot") + _DSIR_BUCKETS)).cast(
                    "double"
                )
                / ((F.col("cr") + 1) * (F.col("t_tot") + _DSIR_BUCKETS)).cast(
                    "double"
                )
            ).alias("term"),
        )
    )
    folded = (
        tok.join(F.broadcast(model), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "term"))),
                    lambda s: s["term"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("s"),
        )
    )
    return folded.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.round("s", 6).alias("dsir_score"),
    )


_DSIR_SQL = f"""{_XXH_PRELUDE}
WITH words AS MATERIALIZED (
  SELECT doc_id, lang,
         generate_subscripts(regexp_extract_all(lower(text), '{_WORD_RE}'), 1)
           AS pos,
         unnest(regexp_extract_all(lower(text), '{_WORD_RE}')) AS w
  FROM documents
), dwh AS MATERIALIZED (
  SELECT w,
         (xx_bytes(xx_strbytes('dsir|' || w), 42::HUGEINT)
           % {_DSIR_BUCKETS})::BIGINT AS b
  FROM (SELECT DISTINCT w FROM words)
), tok AS MATERIALIZED (
  SELECT doc_id, lang, pos, b FROM words JOIN dwh USING (w)
), raw_b AS (
  SELECT b, count(*)::BIGINT AS cr FROM tok GROUP BY b
), tgt_b AS (
  SELECT b, count(*)::BIGINT AS ct FROM tok
  WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY b
), tots AS (
  SELECT (SELECT sum(cr) FROM raw_b)::BIGINT AS r_tot,
         (SELECT coalesce(sum(ct), 0) FROM tgt_b)::BIGINT AS t_tot
), model AS MATERIALIZED (
  SELECT raw_b.b,
         log10((((coalesce(ct, 0) + 1) * (r_tot + {_DSIR_BUCKETS}))::DOUBLE)
               / (((cr + 1) * (t_tot + {_DSIR_BUCKETS}))::DOUBLE)) AS term
  FROM raw_b LEFT JOIN tgt_b ON raw_b.b = tgt_b.b, tots
)
SELECT doc_id, lang, count(*)::BIGINT AS n_tokens,
       round(list_reduce(list_prepend(0.0::DOUBLE,
               list(term ORDER BY pos)), (acc, x) -> acc + x), 6)
         AS dsir_score
FROM tok JOIN model USING (b)
GROUP BY doc_id, lang
"""


# --------------------------------------------------------------------------
# dedup_semantic
# --------------------------------------------------------------------------

_SEM_THRESHOLD = 0.42
_SEM_K = 4
_SEM_ITERS = 3


def dedup_semantic(spark, sf_dir):
    """SemDeDup ([EXT]): semantic near-dup pruning inside deterministic
    KMeans clusters.  A vector is DROPPED when a smaller-id vector in
    the SAME cluster has rounded cosine ≥ t with it (the keep-first
    survivorship rule of ``dedup_exact``).  Emits every vector with its
    cluster and keep flag.  The synthetic embeddings top out at cosine
    ≈ 0.51, so t = 0.42 exercises a real drop set; at the usual ≥ 0.9
    regime the screen is far sparser.  Quadratic work is in-cluster
    only (no cross join in the plan); the DuckDB twin replays the
    IDENTICAL Lloyd's assignment via ``plans/lloyd_sql.py``.

    The in-cluster screen is the gemm FILTER-REFINE kernel
    (``similarity.gemm_screen_pairs``), not the interpreted JVM fold:
    with fixed k the pair count grows n²/k, and the first sf1 dress
    rehearsal measured the fold path at 179 s for 20k vectors (×37 over
    sf0.1 — the same CodegenFallback disease the canopy dedup hit at
    10⁸ pairs in r5).  Survivors are RE-SCORED with the exact ordered
    fold the oracle replays, so emitted values are unchanged; the
    screen margin covers the round-4 boundary.  At corpus scale k also
    grows with n (√n like ``canopy_leader_count``), which bounds
    cluster sizes — fixed k = 4 here keeps the oracle's unrolled Lloyd
    chain small."""
    from ..operators.candidates import PAIR_ENDS, verify
    from ..operators.clustering import lloyd_kmeans_assign, seeded_label_init
    from ..operators.similarity import cosine_expr, gemm_screen_pairs, with_norm

    emb = _t(spark, sf_dir, "embeddings")
    init = seeded_label_init(emb, "vec_id", "embedding", "label", k=_SEM_K)
    assigned = lloyd_kmeans_assign(
        emb, "vec_id", "embedding", init, iters=_SEM_ITERS, round_dp=6
    ).select("vec_id", "cluster")
    v = with_norm(emb, "vec_id", "embedding")
    buckets = assigned.select("vec_id", F.col("cluster").alias("bucket"))
    cand = gemm_screen_pairs(buckets, v, "vec_id", threshold=_SEM_THRESHOLD)
    dropped = (
        verify(
            cand, (v, v), "vec_id", PAIR_ENDS, {"vec": "vec", "norm": "norm"},
            {"__cos": F.round(cosine_expr("vec_a", "vec_b", "norm_a", "norm_b"), 4)},
            _SEM_THRESHOLD, [F.col("id_b").alias("vec_id")],
        )
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return assigned.join(dropped, "vec_id", "left").select(
        "vec_id",
        "cluster",
        F.coalesce(~F.col("__dropped"), F.lit(True)).alias("kept"),
    )


_SEM_SQL = (
    lloyd_assign_prefix(k=_SEM_K, iters=_SEM_ITERS, dp=6)
    + f""",
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM af a JOIN af b ON a.cl = b.cl AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.e, b.e) /
              (sqrt(list_dot_product(a.e, a.e)) *
               sqrt(list_dot_product(b.e, b.e))), 4) >= {_SEM_THRESHOLD}
)
SELECT af.vec_id, af.cl AS cluster, d.vec_id IS NULL AS kept
FROM af LEFT JOIN dropped d ON af.vec_id = d.vec_id
"""
)


# --------------------------------------------------------------------------
# events_bootstrap_ci
# --------------------------------------------------------------------------

# floor(CDF_Poisson(1)(k) * 1e6) for k = 0..8: the weight of a uniform
# integer draw u in [0, 1e6) is the count of thresholds ≤ u.  Integer
# constants, so both engines agree bit-for-bit; E[w] = 1.000006.
_POIS_THR = (367879, 735758, 919698, 981011, 996340, 999405, 999916, 999989, 999998)
_BOOT_B = 40


def events_bootstrap_ci(spark, sf_dir):
    """Poisson-bootstrap 5%/95% CI of the mean event value per type
    ([EXT] — the cluster-scale bootstrap): each event's multiplicity in
    replicate r is Poisson(1), drawn from an md5 integer against
    hard-coded CDF thresholds.  One pass over (events × 40) with a
    mergeable partial agg; replicate means are single BIGINT divisions;
    CI bounds are order statistics of the 40 means."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("iv"),
    )
    x = ev.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))))
    u = (
        _md5i(
            F.concat(
                F.lit("boot|"),
                F.col("event_id").cast("string"),
                F.lit("|"),
                F.col("rep").cast("string"),
            )
        )
        % 1000000
    )
    w = None
    for t in _POIS_THR:
        term = (u >= t).cast("int")
        w = term if w is None else w + term
    per = (
        x.withColumn("wt", w.cast("long"))
        .groupBy("event_type", "rep")
        .agg(F.sum("wt").alias("n_r"), F.sum(F.col("wt") * F.col("iv")).alias("s_r"))
    )
    means = per.select(
        "event_type",
        (F.col("s_r").cast("double") / (F.col("n_r") * 100).cast("double")).alias(
            "mean_r"
        ),
    )
    ci = means.groupBy("event_type").agg(
        F.array_sort(F.collect_list("mean_r")).alias("arr")
    )
    pt = ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"), F.sum("iv").alias("s")
    )
    return pt.join(ci, "event_type").select(
        "event_type",
        "n_events",
        (F.col("s").cast("double") / (F.col("n_events") * 100).cast("double")).alias(
            "point_mean"
        ),
        F.element_at("arr", 2).alias("ci_lo"),
        F.element_at("arr", _BOOT_B - 2).alias("ci_hi"),
    )


_BOOT_W = " + ".join(f"(u >= {t})::INT" for t in _POIS_THR)

_BOOT_SQL = f"""
WITH ev AS MATERIALIZED (
  SELECT event_id, event_type, CAST(floor(value * 100) AS BIGINT) AS iv
  FROM events
), r AS (
  SELECT event_type, iv, rep,
         CAST('0x' || substr(md5('boot|' || event_id::VARCHAR || '|' ||
           rep::VARCHAR), 1, 8) AS BIGINT) % 1000000 AS u
  FROM ev, UNNEST(range(0, {_BOOT_B})) AS t(rep)
), per AS (
  SELECT event_type, rep, sum({_BOOT_W})::BIGINT AS n_r,
         sum(({_BOOT_W}) * iv)::BIGINT AS s_r
  FROM r GROUP BY 1, 2
), m AS (
  SELECT event_type, s_r::DOUBLE / (n_r * 100)::DOUBLE AS mean_r FROM per
), ci AS (
  SELECT event_type, list_sort(list(mean_r)) AS arr FROM m GROUP BY 1
), pt AS (
  SELECT event_type, count(*)::BIGINT AS n_events, sum(iv)::BIGINT AS s
  FROM ev GROUP BY 1
)
SELECT p.event_type, p.n_events,
       p.s::DOUBLE / (p.n_events * 100)::DOUBLE AS point_mean,
       c.arr[2] AS ci_lo, c.arr[{_BOOT_B - 2}] AS ci_hi
FROM pt p JOIN ci c USING (event_type)
"""


# --------------------------------------------------------------------------
# events_mannwhitney
# --------------------------------------------------------------------------

_MW_A = "click"
_MW_B = "purchase"


def events_mannwhitney(spark, sf_dir):
    """Mann–Whitney U between the click and purchase value samples
    ([EXT] — the nonparametric two-sample test, completing the
    chi-square / KS / t-family stats tier).  Value-grain: counts per
    distinct ``floor(value·100)``, then 2·U1 = Σ a·(2·B_less + b) via
    one grid cumsum — exact integers, average-rank ties included, raw
    events scanned once.  Rank-biserial effect size is one final
    BIGINT division."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.floor(F.col("value") * 100).cast("long").alias("iv")
    )
    a = (
        ev.filter(F.col("event_type") == _MW_A)
        .groupBy("iv")
        .agg(F.count("*").alias("n_a"))
    )
    b = (
        ev.filter(F.col("event_type") == _MW_B)
        .groupBy("iv")
        .agg(F.count("*").alias("n_b"))
    )
    g = (
        a.join(b, "iv", "full_outer")
        .na.fill({"n_a": 0, "n_b": 0})
        .select("iv", "n_a", "n_b")
    )
    w = Window.orderBy("iv").rowsBetween(Window.unboundedPreceding, -1)
    g = g.withColumn("cum_b", F.coalesce(F.sum("n_b").over(w), F.lit(0)))
    out = g.agg(
        F.sum("n_a").alias("n1"),
        F.sum("n_b").alias("n2"),
        F.sum(F.col("n_a") * (2 * F.col("cum_b") + F.col("n_b"))).alias("u2x"),
    )
    return out.select(
        "n1",
        "n2",
        (F.col("u2x").cast("double") / 2).alias("u1"),
        ((2 * F.col("n1") * F.col("n2") - F.col("u2x")).cast("double") / 2).alias(
            "u2"
        ),
        (
            (F.col("u2x") - F.col("n1") * F.col("n2")).cast("double")
            / (F.col("n1") * F.col("n2")).cast("double")
        ).alias("rank_biserial"),
    )


_MW_SQL = f"""
WITH ev AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS iv FROM events
), a AS (
  SELECT iv, count(*)::BIGINT AS n_a FROM ev
  WHERE event_type = '{_MW_A}' GROUP BY iv
), b AS (
  SELECT iv, count(*)::BIGINT AS n_b FROM ev
  WHERE event_type = '{_MW_B}' GROUP BY iv
), g AS (
  SELECT coalesce(a.iv, b.iv) AS iv, coalesce(n_a, 0) AS n_a,
         coalesce(n_b, 0) AS n_b
  FROM a FULL OUTER JOIN b ON a.iv = b.iv
), c AS (
  SELECT n_a, n_b,
         coalesce(sum(n_b) OVER (ORDER BY iv
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_b
  FROM g
), s AS (
  SELECT sum(n_a)::BIGINT AS n1, sum(n_b)::BIGINT AS n2,
         sum(n_a * (2 * cum_b + n_b))::BIGINT AS u2x
  FROM c
)
SELECT n1, n2, u2x::DOUBLE / 2 AS u1,
       (2 * n1 * n2 - u2x)::DOUBLE / 2 AS u2,
       (u2x - n1 * n2)::DOUBLE / (n1 * n2)::DOUBLE AS rank_biserial
FROM s
"""


# --------------------------------------------------------------------------
# graph_modularity
# --------------------------------------------------------------------------


def graph_modularity(spark, sf_dir):
    """Newman modularity per LPA community on the supplier co-supply kNN
    graph ([EXT] — community quality): q_c = (4·m·m_c − d_c²) / 4m²,
    all-integer numerator over the common 4m² denominator, one exact
    division per community.  Reuses ``cooccurrence_knn_edges`` +
    ``label_propagation`` (same construction and rounds as
    ``graph_label_propagation``, but k = 3: on the dense 10-NN graph the
    synchronous min-tie-break rounds collapse every node into ONE
    community at sf0.01, and the modularity of the one-blob partition is
    identically 0 — the sparser graph keeps a real partition at every
    SF: 2 / 5 / 115 communities at sf0.001 / 0.01 / 0.1);
    three keyed hash-aggs after the LPA fixpoint."""
    from ..operators.labelprop import label_propagation
    from ..operators.triangles import cooccurrence_knn_edges

    li = _t(spark, sf_dir, "lineitem")
    edges = cooccurrence_knn_edges(
        li, "l_partkey", "l_suppkey", k=3, max_group_size=256
    ).persist()
    comm = label_propagation(edges, iters=4)
    m = edges.agg(F.count("*").alias("m"))
    sym = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("deg"))
    cu = comm.select(F.col("node").alias("u"), F.col("community").alias("cu"))
    cv = comm.select(F.col("node").alias("v"), F.col("community").alias("cv"))
    internal = (
        edges.join(cu, "u")
        .join(cv, "v")
        .filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.count("*").alias("internal_edges"))
    )
    per = (
        comm.join(deg, "node")
        .groupBy("community")
        .agg(F.count("*").alias("n_nodes"), F.sum("deg").alias("degree_sum"))
    )
    return (
        per.join(internal, "community", "left")
        .na.fill({"internal_edges": 0})
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            "n_nodes",
            "internal_edges",
            "degree_sum",
            (
                (
                    4 * F.col("m") * F.col("internal_edges")
                    - F.col("degree_sum") * F.col("degree_sum")
                ).cast("double")
                / (4 * F.col("m") * F.col("m")).cast("double")
            ).alias("q_contrib"),
        )
    )


# The LPA round template / prefix mirror _LPA_SQL (analytics_extra.py) —
# same graph construction, same 4 synchronous min-tie-break rounds.
_MOD_ROUND = """
r{i} AS MATERIALIZED (
  SELECT node, lbl FROM (
    SELECT s.u AS node, r.lbl, count(*) AS c,
           row_number() OVER (PARTITION BY s.u
                              ORDER BY count(*) DESC, r.lbl) AS rn
    FROM sym s JOIN r{j} r ON s.v = r.node
    GROUP BY s.u, r.lbl
  ) WHERE rn = 1
)"""

_MOD_SQL = (
    """
WITH ps AS MATERIALIZED (
  SELECT DISTINCT l_partkey AS g, l_suppkey AS n FROM lineitem
), ok AS (
  SELECT g FROM ps GROUP BY g HAVING count(*) <= 256
), psf AS MATERIALIZED (
  SELECT ps.g, ps.n FROM ps JOIN ok USING (g)
), pairs AS MATERIALIZED (
  SELECT a.n AS u, b.n AS v, count(*) AS w
  FROM psf a JOIN psf b ON a.g = b.g AND a.n < b.n
  GROUP BY 1, 2
), symw AS (
  SELECT u, v, w FROM pairs UNION ALL SELECT v AS u, u AS v, w FROM pairs
), top AS (
  SELECT u, v FROM (
    SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY w DESC, v) AS r
    FROM symw
  ) WHERE r <= 3
), edges AS MATERIALIZED (
  SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM top
), sym AS MATERIALIZED (
  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
), r0 AS MATERIALIZED (
  SELECT DISTINCT u AS node, u AS lbl FROM sym
),"""
    + ",".join(_MOD_ROUND.format(i=i, j=i - 1) for i in range(1, 5))
    + """,
m AS (SELECT count(*)::BIGINT AS m FROM edges),
deg AS (SELECT u AS node, count(*)::BIGINT AS deg FROM sym GROUP BY u),
internal AS (
  SELECT cu.lbl AS community, count(*)::BIGINT AS internal_edges
  FROM edges e JOIN r4 cu ON e.u = cu.node JOIN r4 cv ON e.v = cv.node
  WHERE cu.lbl = cv.lbl GROUP BY 1
),
per AS (
  SELECT r4.lbl AS community, count(*)::BIGINT AS n_nodes,
         sum(deg.deg)::BIGINT AS degree_sum
  FROM r4 JOIN deg USING (node) GROUP BY 1
)
SELECT p.community, p.n_nodes, coalesce(i.internal_edges, 0) AS internal_edges,
       p.degree_sum,
       (4 * m.m * coalesce(i.internal_edges, 0)
        - p.degree_sum * p.degree_sum)::DOUBLE
         / (4 * m.m * m.m)::DOUBLE AS q_contrib
FROM per p LEFT JOIN internal i USING (community), m
"""
)


# --------------------------------------------------------------------------
# streaming_stream_join
# --------------------------------------------------------------------------


def streaming_stream_join(spark, sf_dir):
    """Watermarked stream-stream inner join (streaming/joins.py): clicks
    ⋈ purchases on user within [click_ts, click_ts + 30 min], run
    through the streaming engine with availableNow.  Over one input
    file this equals the batch inner join — the sessionize/debounce
    oracle-promotion argument — so the DuckDB twin is the plain
    time-range join."""
    from ..streaming.joins import run_streaming_click_purchase_join

    return run_streaming_click_purchase_join(spark, f"{sf_dir}/events.parquet")


_STREAM_JOIN_SQL = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       (CAST(floor(epoch(p.ts)) AS BIGINT)
        - CAST(floor(epoch(c.ts)) AS BIGINT)) AS delay_s
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""


# --------------------------------------------------------------------------
# classifier_brier_score
# --------------------------------------------------------------------------


def classifier_brier_score(spark, sf_dir):
    """Brier score of the hashed linear quality classifier ([EXT] — the
    proper scoring rule that complements AUC (ranking) and the
    calibration bins (reliability curve)).  The classifier's ``prob`` is
    already rounded to 6dp, so ``floor(prob·1e6)`` is a stable BIGINT on
    both engines and the squared error sum Σ(p6 − y·1e6)² is exact
    integer arithmetic — one division by n·1e12 at the end.  (The BIGINT
    budget holds to ~9e6 eval rows; a larger eval set would move the
    accumulator to DECIMAL — an eval-set-sized concern, not a corpus
    one.)  Labels: the even/odd source-id ground truth of
    ``docs_classifier_auc``.  Rides the one scoring scan."""
    from ..operators.classifier import score_documents

    docs = _t(spark, sf_dir, "documents").withColumn(
        "label",
        (F.substring("source", 4, 10).cast("int") % 2 == 0).cast("long"),
    )
    scored = score_documents(docs, "text", "doc_id", dim=4096, keep=("label",))
    p6 = F.floor(F.col("prob") * 1000000).cast("long")
    e = p6 - F.col("label") * 1000000
    agg = scored.select((e * e).alias("e2"), "label").agg(
        F.count("*").alias("n_docs"),
        F.sum("label").alias("n_pos"),
        F.sum("e2").alias("se2"),
    )
    return agg.select(
        "n_docs",
        "n_pos",
        (F.col("n_pos").cast("double") / F.col("n_docs").cast("double")).alias(
            "base_rate"
        ),
        (
            F.col("se2").cast("double")
            / (F.col("n_docs") * F.lit(1000000000000).cast("long")).cast("double")
        ).alias("brier"),
    )


_BRIER_SQL = f"""{_XXH_PRELUDE}
WITH {_cls_wts()},
folded AS (
  SELECT doc_id,
         round(list_reduce(list_prepend(0.0::DOUBLE, wv), (a, b) -> a + b)
               / len(wv), 6)
           AS score
  FROM wts
), scored AS (
  SELECT f.doc_id,
         CAST(floor(round(1.0 / (1.0 + exp(-score)), 6) * 1000000) AS BIGINT)
           AS p6,
         CASE WHEN CAST(substr(d.source, 4) AS INT) % 2 = 0 THEN 1 ELSE 0 END
           AS label
  FROM folded f JOIN documents d USING (doc_id)
), agg AS (
  SELECT count(*)::BIGINT AS n_docs, sum(label)::BIGINT AS n_pos,
         sum((p6 - label * 1000000) * (p6 - label * 1000000))::BIGINT AS se2
  FROM scored
)
SELECT n_docs, n_pos,
       n_pos::DOUBLE / n_docs::DOUBLE AS base_rate,
       se2::DOUBLE / (n_docs * 1000000000000)::DOUBLE AS brier
FROM agg
"""


# --------------------------------------------------------------------------
# graph_louvain_step
# --------------------------------------------------------------------------


def graph_louvain_step(spark, sf_dir):
    """One synchronous greedy Louvain round ([EXT], 9th graph operator —
    modularity OPTIMIZATION on top of `graph_modularity`'s measurement):
    every node moves to the neighbor community with the largest
    modularity gain, computed as the 2m²-scaled INTEGER
    G(C) = 2m·k_{i,C} − k_i·(Σtot(C) − k_i·[i∈C]) — so candidate
    ranking, tie-breaks (smallest community id) and the emitted gain
    are all exact BIGINT arithmetic.  Staying is always a candidate;
    ``gain`` = G(best) − G(stay) ≥ 0.  Starts from the LPA fixpoint of
    `graph_modularity` (same 3-NN graph); synchronous = every move
    evaluated against the PRE-round partition, the deterministic
    distributed form (classic sequential Louvain is order-dependent —
    unreproducible across partitionings)."""
    from ..operators.labelprop import label_propagation
    from ..operators.triangles import cooccurrence_knn_edges

    li = _t(spark, sf_dir, "lineitem")
    edges = cooccurrence_knn_edges(
        li, "l_partkey", "l_suppkey", k=3, max_group_size=256
    ).persist()
    comm = label_propagation(edges, iters=4)
    m = edges.agg(F.count("*").alias("m"))
    sym = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("deg"))
    dsum = (
        comm.join(deg, "node")
        .groupBy(F.col("community").alias("c"))
        .agg(F.sum("deg").alias("d"))
    )
    cv = comm.select(F.col("node").alias("v"), F.col("community").alias("c"))
    kic = (
        sym.join(cv, "v")
        .groupBy(F.col("u").alias("node"), "c")
        .agg(F.count("*").alias("k"))
    )
    own_zero = comm.select("node", F.col("community").alias("c"), F.lit(0).alias("k"))
    cand = (
        kic.unionByName(own_zero)
        .groupBy("node", "c")
        .agg(F.max("k").alias("k"))
    )
    scored = (
        cand.join(deg, "node")
        .join(comm, "node")
        .join(dsum, "c")
        .crossJoin(F.broadcast(m))
        .select(
            "node",
            "c",
            "community",
            (
                2 * F.col("m") * F.col("k")
                - F.col("deg")
                * (
                    F.col("d")
                    - F.when(F.col("c") == F.col("community"), F.col("deg")).otherwise(
                        F.lit(0)
                    )
                )
            ).alias("g"),
        )
    )
    w = Window.partitionBy("node").orderBy(F.desc("g"), F.asc("c"))
    best = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("node", F.col("c").alias("new_community"), F.col("g").alias("g_new"))
    )
    stay = scored.filter(F.col("c") == F.col("community")).select(
        "node", F.col("community").alias("old_community"), F.col("g").alias("g_stay")
    )
    return best.join(stay, "node").select(
        "node",
        "old_community",
        "new_community",
        (F.col("new_community") != F.col("old_community")).alias("moved"),
        (F.col("g_new") - F.col("g_stay")).alias("gain"),
    )


_LOUVAIN_SQL = (
    _MOD_SQL.split(",\nm AS")[0]
    + """,
m AS (SELECT count(*)::BIGINT AS m FROM edges),
deg AS (SELECT u AS node, count(*)::BIGINT AS deg FROM sym GROUP BY u),
dsum AS (
  SELECT r4.lbl AS c, sum(deg.deg)::BIGINT AS d
  FROM r4 JOIN deg USING (node) GROUP BY 1
),
kic AS (
  SELECT s.u AS node, r.lbl AS c, count(*)::BIGINT AS k
  FROM sym s JOIN r4 r ON s.v = r.node GROUP BY 1, 2
),
cand AS (
  SELECT node, c, max(k)::BIGINT AS k FROM (
    SELECT node, c, k FROM kic
    UNION ALL
    SELECT node, lbl AS c, 0 AS k FROM r4
  ) GROUP BY node, c
),
scored AS MATERIALIZED (
  SELECT cand.node, cand.c, r4.lbl AS community,
         2 * m.m * cand.k
           - deg.deg * (dsum.d - CASE WHEN cand.c = r4.lbl
                                      THEN deg.deg ELSE 0 END) AS g
  FROM cand
  JOIN deg USING (node)
  JOIN r4 USING (node)
  JOIN dsum ON dsum.c = cand.c, m
),
best AS (
  SELECT node, c AS new_community, g AS g_new FROM (
    SELECT node, c, g,
           row_number() OVER (PARTITION BY node ORDER BY g DESC, c) AS rn
    FROM scored
  ) WHERE rn = 1
),
stay AS (
  SELECT node, community AS old_community, g AS g_stay
  FROM scored WHERE c = community
)
SELECT b.node, s.old_community, b.new_community,
       b.new_community <> s.old_community AS moved,
       (b.g_new - s.g_stay)::BIGINT AS gain
FROM best b JOIN stay s USING (node)
"""
)


# --------------------------------------------------------------------------
# streaming_rate_limit
# --------------------------------------------------------------------------


def streaming_rate_limit(spark, sf_dir):
    """Stateful per-user quota enforcement (streaming/stateful.py): at
    most 3 events per (user, UTC day), admission in event-time order —
    the ingestion throttle a multi-tenant pipeline runs.  (Day slots,
    not hours: the synthetic stream never exceeds 4 events per
    user-hour, so an hourly quota would admit everything and the gate
    would prove nothing — the daily quota genuinely drops 132 / 1358 /
    13372 events at sf0.001/0.01/0.1.)  State is ONE (slot, count) pair
    per user (slots arrive in order, old slots can never readmit), so
    state size is O(users) regardless of rate.  availableNow over one
    file = the batch row_number twin, the sessionize promotion
    argument."""
    from ..streaming.stateful import run_streaming_rate_limit

    return run_streaming_rate_limit(
        spark, f"{sf_dir}/events.parquet", limit=3, slot_seconds=86400
    )


_RATE_LIMIT_SQL = """
WITH t AS (
  SELECT user_id, event_id, ts,
         CAST(floor(epoch(ts)) AS BIGINT)
           - CAST(floor(epoch(ts)) AS BIGINT) % 86400 AS slot_s
  FROM events
), ranked AS (
  SELECT user_id, slot_s, event_id,
         row_number() OVER (PARTITION BY user_id, slot_s
                            ORDER BY ts, event_id) AS slot_rank
  FROM t
)
SELECT user_id, slot_s, event_id, slot_rank::BIGINT AS slot_rank
FROM ranked WHERE slot_rank <= 3
"""


# --------------------------------------------------------------------------
# events_agms_join_size
# --------------------------------------------------------------------------

_AGMS_W = 64


def events_agms_join_size(spark, sf_dir):
    """AGMS / tug-of-war join-size estimation ([EXT] — the sketch a
    distributed optimizer uses to size a join WITHOUT computing it;
    Alon–Gibbons–Matias–Szegedy 1999): for w = 64 independent ±1 hash
    projections, sketch_R[j] = Σ_rows s_j(key); E[sketch_A[j]·sketch_B[j]]
    = |A ⋈ B|.  Everything is INTEGER — signs from md5 parity, sketch
    sums BIGINT (one mergeable partial agg each side, the map-side-
    combine shape of `events_bootstrap_ci`), the estimate the lower
    median (element selection) of the 64 products — so the estimator is
    bit-exact on both engines, and the EXACT join size rides along for
    the error audit.  At 100 TB the exact Σ a_u·b_u needs the keyed
    shuffle this sketch exists to avoid; here it is the verification
    twin."""
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select("user_id")
    b = ev.filter(F.col("event_type") == "purchase").select("user_id")

    def sketch(df):
        x = df.withColumn(
            "j", F.explode(F.sequence(F.lit(0), F.lit(_AGMS_W - 1)))
        )
        sign = 1 - 2 * (
            _md5i(
                F.concat(
                    F.lit("agms|"),
                    F.col("j").cast("string"),
                    F.lit("|"),
                    F.col("user_id").cast("string"),
                )
            )
            % 2
        )
        return x.groupBy("j").agg(F.sum(sign).alias("s"))

    est = (
        sketch(a)
        .join(sketch(b).withColumnRenamed("s", "t"), "j")
        .select((F.col("s") * F.col("t")).alias("e"))
        .agg(F.array_sort(F.collect_list("e")).alias("arr"))
        .select(F.element_at("arr", _AGMS_W // 2).alias("agms_estimate"))
    )
    ac = a.groupBy("user_id").agg(F.count("*").alias("na"))
    bc = b.groupBy("user_id").agg(F.count("*").alias("nb"))
    exact = (
        ac.join(bc, "user_id")
        .agg(F.sum(F.col("na") * F.col("nb")).alias("exact_join_size"))
        .na.fill({"exact_join_size": 0})
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_join_size",
        "agms_estimate",
        F.lit(_AGMS_W).cast("long").alias("n_sketches"),
        (
            (F.col("agms_estimate") - F.col("exact_join_size")).cast("double")
            / F.col("exact_join_size").cast("double")
        ).alias("rel_error"),
    )


_AGMS_SQL = f"""
WITH a AS (SELECT user_id FROM events WHERE event_type = 'click'),
b AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
js AS (SELECT unnest(range({_AGMS_W})) AS j),
ska AS (
  SELECT j, sum(1 - 2 * (CAST('0x' || substr(md5('agms|' || j::VARCHAR ||
           '|' || user_id::VARCHAR), 1, 8) AS BIGINT) % 2))::BIGINT AS s
  FROM a, js GROUP BY j
), skb AS (
  SELECT j, sum(1 - 2 * (CAST('0x' || substr(md5('agms|' || j::VARCHAR ||
           '|' || user_id::VARCHAR), 1, 8) AS BIGINT) % 2))::BIGINT AS t
  FROM b, js GROUP BY j
), est AS (
  SELECT (list_sort(list(s * t)))[{_AGMS_W // 2}]::BIGINT AS agms_estimate
  FROM ska JOIN skb USING (j)
), exact AS (
  SELECT coalesce(sum(na * nb), 0)::BIGINT AS exact_join_size FROM (
    SELECT user_id, count(*) AS na FROM a GROUP BY user_id) x
  JOIN (SELECT user_id, count(*) AS nb FROM b GROUP BY user_id) y
  USING (user_id)
)
SELECT exact_join_size, agms_estimate,
       {_AGMS_W}::BIGINT AS n_sketches,
       (agms_estimate - exact_join_size)::DOUBLE
         / exact_join_size::DOUBLE AS rel_error
FROM exact, est
"""


QUERIES = {
    "docs_dsir_weights": (docs_dsir_weights, _DSIR_SQL),
    "dedup_semantic": (dedup_semantic, _SEM_SQL),
    "events_bootstrap_ci": (events_bootstrap_ci, _BOOT_SQL),
    "events_mannwhitney": (events_mannwhitney, _MW_SQL),
    "graph_modularity": (graph_modularity, _MOD_SQL),
    "streaming_stream_join": (streaming_stream_join, _STREAM_JOIN_SQL),
    "classifier_brier_score": (classifier_brier_score, _BRIER_SQL),
    "graph_louvain_step": (graph_louvain_step, _LOUVAIN_SQL),
    "streaming_rate_limit": (streaming_rate_limit, _RATE_LIMIT_SQL),
    "events_agms_join_size": (events_agms_join_size, _AGMS_SQL),
}
