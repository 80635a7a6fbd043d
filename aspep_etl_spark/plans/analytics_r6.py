"""[EXT] Round-6 analytics contract queries.

Six additions, each with a hash-exact DuckDB twin:

- ``graph_kcore`` — synchronous k-core peeling over the customer–supplier
  trade graph (8th graph operator; integer degrees, unrolled-CTE twin);
- ``graph_common_neighbors`` — co-purchase link prediction (common-parts
  count + Jaccard) with the df-cap posting-list discipline of
  ``dedup_ngram_jaccard_capped``;
- ``events_value_acf`` — autocorrelation of the daily event-count series
  at lags 1–7, computed from exact BIGINT moment sums so the final
  doubles are bit-identical across engines;
- ``events_holt_forecast`` — Holt linear (level+trend) exponential
  smoothing per event type, folded over the identically-ordered daily
  series with dyadic-rational smoothing constants (0.5/0.25/0.75 — all
  exactly representable, so even the intermediate state is exact);
- ``events_ks_binned`` — two-sample Kolmogorov–Smirnov distance between
  the click and error value distributions over integer-floor bins; the
  ECDF sweep is an integer left fold over the bin-grain array (max of
  |cum1·n2 − cum2·n1| stays BIGINT), so no partition-less window and no
  float until one final division;
- ``docs_rake_keywords`` — RAKE-style keyword extraction: stopword-split
  candidate phrases scored by Σdegree/Σfrequency (integer sums, one
  division — the order-independent form of the classic word metric).

Cross-engine determinism notes follow the module-level rules in
``analytics_extra.py``: integer arithmetic end-to-end wherever possible,
identical fold order via sorted arrays otherwise, and 1-based
``element_at`` on the Spark side mirroring DuckDB's 1-based lists.

Reference parity: these extend the [EXT] analytics surface beyond the
reference's operator set (reference ``process_aspep/`` has no graph or
time-series tier); they follow the same contract/oracle pattern as every
other [EXT] query.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..cache import checkpoint
from ..sources.registry import load_table as _t


# --------------------------------------------------------------------------
# graph_kcore
# --------------------------------------------------------------------------

_KCORE_K = 8
_KCORE_ROUNDS = 3


def graph_kcore(spark, sf_dir):
    """k-core peeling ([EXT], 8th graph operator): three synchronous
    rounds of "drop nodes with degree < k, restrict edges to survivors"
    over the undirected customer–supplier trade graph (node key =
    2·custkey / 2·suppkey+1, k=8).  Each round is one count-agg on the
    node key plus two semi-join-shaped hash joins back onto the edge
    set — integer-only, so the unrolled-CTE DuckDB twin is hash-exact.
    Lineage is bounded by per-round ``cache.checkpoint`` (each round
    supersedes the last, as in PageRank/SSSP); at 100 TB the edge set is
    the only large relation and every round shuffles it on one key."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    ends = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
    )
    cur = checkpoint(
        ends.union(ends.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    for _ in range(_KCORE_ROUNDS):
        keep = (
            cur.groupBy("u")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select("u")
        )
        cur = checkpoint(
            cur.join(keep, "u")
            .join(keep.withColumnRenamed("u", "v"), "v")
            .select("u", "v"),
            supersedes=cur,
        )
    return cur.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("long").alias("degree")
    )


_KCORE_ROUND_SQL = """
k{i} AS (SELECT u FROM e{j} GROUP BY u HAVING count(*) >= {k}),
e{i} AS (
  SELECT e.u, e.v FROM e{j} e
  JOIN k{i} a ON e.u = a.u JOIN k{i} b ON e.v = b.u
)"""

_KCORE_SQL = (
    """
WITH ends AS (
  SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), e0 AS (
  SELECT u, v FROM ends UNION ALL SELECT v AS u, u AS v FROM ends
),"""
    + ",".join(
        _KCORE_ROUND_SQL.format(i=i, j=i - 1, k=_KCORE_K)
        for i in range(1, _KCORE_ROUNDS + 1)
    )
    + f"""
SELECT u AS node, count(*)::BIGINT AS degree FROM e{_KCORE_ROUNDS} GROUP BY u
"""
)


# --------------------------------------------------------------------------
# graph_common_neighbors
# --------------------------------------------------------------------------

_CN_DF_CAP = 40
_CN_MIN_COMMON = 3


def graph_common_neighbors(spark, sf_dir):
    """Common-neighbor link prediction ([EXT]): customer pairs ranked by
    how many distinct parts both bought, plus the Jaccard of their part
    sets — the classic co-purchase "customers like you" signal.  The
    candidate join is a posting list per part with the same df-cap skew
    policy as ``dedup_ngram_jaccard_capped`` (parts bought by more than
    40 customers are excluded from pair generation AND from the set
    sizes, so the Jaccard is internally consistent on the capped
    bipartite graph); pair fan-out is therefore bounded by cap²/2 per
    part, never quadratic in customers.  Integer counts + one final
    division → hash-exact twin."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    pb = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    keep = (
        pb.groupBy("p")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= _CN_DF_CAP)
        .select("p")
    )
    pbk = pb.join(keep, "p").persist()
    sizes = pbk.groupBy("c").agg(F.count("*").alias("sz"))
    a = pbk.select(F.col("p").alias("p"), F.col("c").alias("u"))
    b = pbk.select(F.col("p").alias("p"), F.col("c").alias("v"))
    pairs = (
        a.join(b, "p")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").cast("long").alias("n_common"))
        .filter(F.col("n_common") >= _CN_MIN_COMMON)
    )
    out = (
        pairs.join(sizes.withColumnRenamed("c", "u").withColumnRenamed("sz", "su"), "u")
        .join(sizes.withColumnRenamed("c", "v").withColumnRenamed("sz", "sv"), "v")
        .select(
            "u",
            "v",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("su") + F.col("sv") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )
    res = out.localCheckpoint()
    pbk.unpersist()
    return res


_CN_SQL = f"""
WITH pb AS (
  SELECT DISTINCT o_custkey AS c, l_partkey AS p
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), keep AS (
  SELECT p FROM pb GROUP BY p HAVING count(*) <= {_CN_DF_CAP}
), pbk AS (
  SELECT c, p FROM pb JOIN keep USING (p)
), sizes AS (
  SELECT c, count(*)::BIGINT AS sz FROM pbk GROUP BY c
), pairs AS (
  SELECT a.c AS u, b.c AS v, count(*)::BIGINT AS n_common
  FROM pbk a JOIN pbk b ON a.p = b.p AND a.c < b.c
  GROUP BY 1, 2 HAVING count(*) >= {_CN_MIN_COMMON}
)
SELECT u, v, n_common,
       n_common::DOUBLE / (su.sz + sv.sz - n_common)::DOUBLE AS jaccard
FROM pairs
JOIN sizes su ON pairs.u = su.c
JOIN sizes sv ON pairs.v = sv.c
"""


# --------------------------------------------------------------------------
# events_value_acf
# --------------------------------------------------------------------------


def events_value_acf(spark, sf_dir):
    """Autocorrelation of the daily event-count series per event type at
    lags 1–7 ([EXT] time-series tier).  The daily grain is one
    partial+final count-agg; the lagged pairing is a self-join on
    (type, day+k) — at 100 TB the joined frame is day-grain (365·types
    rows/year), so the whole query after the first agg is dim-sized.
    Every moment (n, Σx, Σy, Σx², Σy², Σxy) is an exact BIGINT; the
    Pearson form r = (n·Σxy − Σx·Σy) / (√(n·Σx²−(Σx)²)·√(n·Σy²−(Σy)²))
    is evaluated with the identical association on both engines, so the
    doubles are bit-identical with no rounding."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").cast("long").alias("x"))
    a = daily.withColumn("lag_k", F.explode(F.expr("sequence(1, 7)")))
    b = daily.select(
        F.col("event_type").alias("et2"),
        F.col("d").alias("d2"),
        F.col("x").alias("y"),
    )
    joined = a.join(
        b,
        (F.col("et2") == F.col("event_type"))
        & (F.col("d2") == F.expr("date_add(d, lag_k)")),
    ).select("event_type", "lag_k", "x", "y")
    m = joined.groupBy("event_type", "lag_k").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    acf = F.when(
        (vx > 0) & (vy > 0),
        num.cast("double") / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
    )
    return m.select(
        "event_type",
        F.col("lag_k").cast("long").alias("lag_k"),
        F.col("n").alias("n_pairs"),
        acf.alias("acf"),
    )


_ACF_SQL = """
WITH daily AS (
  SELECT event_type, ts::DATE AS d, count(*)::BIGINT AS x
  FROM events GROUP BY 1, 2
), lags AS (
  SELECT unnest(generate_series(1, 7))::BIGINT AS lag_k
), joined AS (
  SELECT a.event_type, l.lag_k, a.x, b.x AS y
  FROM daily a CROSS JOIN lags l
  JOIN daily b ON a.event_type = b.event_type AND b.d = a.d + l.lag_k::INTEGER
), m AS (
  SELECT event_type, lag_k, count(*)::BIGINT AS n,
         sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
         sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy,
         sum(x * y)::BIGINT AS sxy
  FROM joined GROUP BY 1, 2
)
SELECT event_type, lag_k, n AS n_pairs,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN (n * sxy - sx * sy)::DOUBLE /
                 (sqrt((n * sxx - sx * sx)::DOUBLE) * sqrt((n * syy - sy * sy)::DOUBLE))
       END AS acf
FROM m
"""


# --------------------------------------------------------------------------
# events_holt_forecast
# --------------------------------------------------------------------------


def events_holt_forecast(spark, sf_dir):
    """Holt linear (level+trend) exponential smoothing of the daily
    event-count series per event type, with a 7-day-ahead forecast
    ([EXT] time-series tier; the trend-aware big sibling of
    ``events_user_ewma``).  Smoothing constants α=0.5, β=0.25 are dyadic
    rationals, the inputs are integer counts, and both engines fold the
    identically-ordered (by day) array left-to-right — so every
    intermediate (level, trend) state is the same binary64 on both
    sides; the rounding at the boundary is cosmetic.  Day-grain after
    one partial+final agg: dim-sized at any corpus scale."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").cast("long").alias("x"))
    g = (
        daily.groupBy("event_type")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(d, x))),"
                " s -> CAST(s.x AS DOUBLE))"
            ).alias("vals")
        )
        .filter(F.size("vals") >= 3)
    )
    st = F.expr(
        "aggregate(slice(vals, 3, size(vals) - 2),"
        " named_struct('l', element_at(vals, 2),"
        "              'b', element_at(vals, 2) - element_at(vals, 1)),"
        " (acc, e) -> named_struct("
        "   'l', CAST(0.5 AS DOUBLE) * e + CAST(0.5 AS DOUBLE) * (acc.l + acc.b),"
        "   'b', CAST(0.25 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * e"
        "        + CAST(0.5 AS DOUBLE) * (acc.l + acc.b)) - acc.l)"
        "        + CAST(0.75 AS DOUBLE) * acc.b))"
    )
    return g.select(
        "event_type",
        F.size("vals").cast("long").alias("n_days"),
        F.round(st["l"], 6).alias("level"),
        F.round(st["b"], 6).alias("trend"),
        F.round(st["l"] + F.lit(7.0) * st["b"], 6).alias("forecast_7d"),
    )


_HOLT_SQL = """
WITH daily AS (
  SELECT event_type, ts::DATE AS d, count(*)::BIGINT AS x
  FROM events GROUP BY 1, 2
), g AS (
  SELECT event_type, list(x::DOUBLE ORDER BY d) AS vals
  FROM daily GROUP BY 1 HAVING count(*) >= 3
), folded AS (
  -- state is a 2-element LIST [level, trend], not a struct: DuckDB 1.0's
  -- list_reduce evaluates multi-field STRUCT lambdas with a stale
  -- accumulator (fields referencing acc see step-0 state), silently
  -- wrong values; list-typed accumulators fold correctly (verified
  -- against a hand-traced sequence).
  SELECT event_type, len(vals)::BIGINT AS n_days,
         list_reduce(
           list_prepend([vals[2], vals[2] - vals[1]],
             list_transform(vals[3:], x -> [x, 0.0::DOUBLE])),
           (acc, e) -> [0.5::DOUBLE * e[1] + 0.5::DOUBLE * (acc[1] + acc[2]),
                        0.25::DOUBLE * ((0.5::DOUBLE * e[1]
                             + 0.5::DOUBLE * (acc[1] + acc[2])) - acc[1])
                             + 0.75::DOUBLE * acc[2]]) AS st
  FROM g
)
SELECT event_type, n_days,
       round(st[1], 6) AS level,
       round(st[2], 6) AS trend,
       round(st[1] + 7.0::DOUBLE * st[2], 6) AS forecast_7d
FROM folded
"""


# --------------------------------------------------------------------------
# events_ks_binned
# --------------------------------------------------------------------------


def events_ks_binned(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov distance between the click and
    error `value` distributions over integer-floor bins ([EXT] stats
    tier, the distribution-drift test beside ``events_chi_square``).
    Binning IS the scale story: the ECDF needs a global ordered sweep,
    which on raw values is a single-partition sort; on ≤~600 integer
    bins it is one partial+final count-agg followed by an integer left
    fold over the bin-grain array.  The fold tracks max|cum1·n2 −
    cum2·n1| as a BIGINT (both engines prepend the same zero state and
    walk the same sorted array), so the only float op is the final
    division — hash-exact with no rounding."""
    ev = _t(spark, sf_dir, "events")
    binned = (
        ev.filter(F.col("event_type").isin("click", "error"))
        .groupBy(F.floor("value").cast("long").alias("bin"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("c1"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("c2"),
        )
    )
    one = binned.agg(
        F.expr(
            "array_sort(collect_list(named_struct("
            "'bin', bin, 'a', c1, 'b', c2, 'm', CAST(0 AS BIGINT))))"
        ).alias("arr"),
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.count("*").cast("long").alias("n_bins"),
    )
    st = F.expr(
        "aggregate(arr,"
        " named_struct('bin', CAST(0 AS BIGINT), 'a', CAST(0 AS BIGINT),"
        "              'b', CAST(0 AS BIGINT), 'm', CAST(0 AS BIGINT)),"
        " (acc, x) -> named_struct("
        "   'bin', x.bin,"
        "   'a', acc.a + x.a,"
        "   'b', acc.b + x.b,"
        "   'm', greatest(acc.m, abs((acc.a + x.a) * n2 - (acc.b + x.b) * n1))))"
    )
    return one.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        "n_bins",
        (st["m"].cast("double") / (F.col("n1") * F.col("n2")).cast("double")).alias(
            "d_stat"
        ),
    )


_KS_SQL = """
WITH binned AS (
  SELECT floor(value)::BIGINT AS bin,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS c1,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS c2
  FROM events WHERE event_type IN ('click', 'error')
  GROUP BY 1
), cum AS (
  -- the twin sweeps the ECDF with an integer window instead of the
  -- Spark side's array fold (DuckDB 1.0's list_reduce mis-evaluates
  -- multi-field struct lambdas — see _HOLT_SQL); every quantity is a
  -- BIGINT either way, so the methods agree exactly.
  SELECT sum(c1) OVER w::BIGINT AS a, sum(c2) OVER w::BIGINT AS b
  FROM binned
  WINDOW w AS (ORDER BY bin ROWS UNBOUNDED PRECEDING)
), tot AS (
  SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2,
         count(*)::BIGINT AS n_bins
  FROM binned
)
SELECT n1, n2, n_bins,
       (SELECT max(abs(a * n2 - b * n1)) FROM cum)::DOUBLE
         / (n1 * n2)::DOUBLE AS d_stat
FROM tot
"""


# --------------------------------------------------------------------------
# docs_rake_keywords
# --------------------------------------------------------------------------

_RAKE_STOPWORDS = ("a", "the")
_RAKE_TOP_K = 20


def docs_rake_keywords(spark, sf_dir):
    """RAKE-style keyword extraction over the documents corpus ([EXT]
    text tier): candidate phrases are maximal stopword-free token runs;
    each word scores degree(w)=Σ len(phrase) over its occurrences and
    freq(w)=#occurrences; a phrase scores Σdegree/Σfreq over its words
    — the order-independent integer-sum form of RAKE's deg/freq metric,
    so the only float op is one division.  The phrase split is a
    per-document running stopword count (bounded window), word stats are
    one corpus-wide agg on the word key, and the top-k is a
    TakeOrderedAndProject with a total-order tiebreak (score, count,
    phrase) — every stage is map-side or one keyed shuffle."""
    docs = _t(spark, sf_dir, "documents")
    stops = ", ".join(f"'{s}'" for s in _RAKE_STOPWORDS)
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    ).filter(F.col("w") != "")
    wd = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tok2 = (
        tok.withColumn(
            "grp",
            F.sum(F.expr(f"CASE WHEN w IN ({stops}) THEN 1 ELSE 0 END")).over(wd),
        )
        .filter(~F.expr(f"w IN ({stops})"))
        .persist()
    )
    plen = tok2.groupBy("doc_id", "grp").agg(F.count("*").cast("long").alias("plen"))
    words = tok2.join(plen, ["doc_id", "grp"])
    wstats = words.groupBy("w").agg(
        F.count("*").cast("long").alias("freq"),
        F.sum("plen").alias("deg"),
    )
    phrase_rows = (
        words.join(wstats, "w")
        .groupBy("doc_id", "grp")
        .agg(
            F.expr(
                "concat_ws(' ', transform(array_sort(collect_list("
                "struct(pos, w))), s -> s.w))"
            ).alias("phrase"),
            F.sum("deg").alias("sdeg"),
            F.sum("freq").alias("sfreq"),
        )
    )
    phrases = phrase_rows.groupBy("phrase").agg(
        F.count("*").cast("long").alias("n_occurrences"),
        F.max(F.col("sdeg").cast("double") / F.col("sfreq").cast("double")).alias(
            "score"
        ),
    )
    out = phrases.orderBy(
        F.col("score").desc(), F.col("n_occurrences").desc(), F.col("phrase")
    ).limit(_RAKE_TOP_K)
    res = out.localCheckpoint()
    tok2.unpersist()
    return res


_RAKE_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, ' '), 1)::BIGINT AS pos,
         unnest(string_split(text, ' ')) AS w
  FROM documents
), tok1 AS (
  SELECT * FROM tok WHERE w <> ''
), tok2 AS (
  SELECT doc_id, pos, w,
         sum(CASE WHEN w IN ('a', 'the') THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS grp
  FROM tok1
), nonstop AS (
  SELECT * FROM tok2 WHERE w NOT IN ('a', 'the')
), plen AS (
  SELECT doc_id, grp, count(*)::BIGINT AS plen
  FROM nonstop GROUP BY 1, 2
), words AS (
  SELECT n.doc_id, n.grp, n.pos, n.w, p.plen
  FROM nonstop n JOIN plen p ON n.doc_id = p.doc_id AND n.grp = p.grp
), wstats AS (
  SELECT w, count(*)::BIGINT AS freq, sum(plen)::BIGINT AS deg
  FROM words GROUP BY 1
), phrase_rows AS (
  SELECT doc_id, grp,
         string_agg(w, ' ' ORDER BY pos) AS phrase,
         sum(deg)::BIGINT AS sdeg, sum(freq)::BIGINT AS sfreq
  FROM words JOIN wstats USING (w)
  GROUP BY 1, 2
), phrases AS (
  SELECT phrase, count(*)::BIGINT AS n_occurrences,
         max(sdeg::DOUBLE / sfreq::DOUBLE) AS score
  FROM phrase_rows GROUP BY 1
)
SELECT phrase, n_occurrences, score
FROM phrases
ORDER BY score DESC, n_occurrences DESC, phrase
LIMIT {_RAKE_TOP_K}
"""


# --------------------------------------------------------------------------
# docs_hybrid_rrf
# --------------------------------------------------------------------------


def docs_hybrid_rrf(spark, sf_dir):
    """Reciprocal-rank-fusion hybrid retrieval ([EXT] IR tier): fuse the
    lexical BM25 top-20 (``docs_bm25_search``) with the dense cosine
    top-20 for query vector 0 (``brute_force_topk``) via the standard
    RRF score 1/(60+r_lex) + 1/(60+r_dense) — the fusion step every
    hybrid search stack (lexical + embedding) runs.  Both input
    rankings are already bounded top-k relations, so the rank windows
    and the outer join are constant-size at ANY corpus scale; missing
    ranks contribute 0 via coalesce on both engines, and each RRF term
    is an exact int→double division summed in the same written order."""
    from ..operators.similarity import brute_force_topk
    from .analytics_extra import docs_bm25_search

    lex = docs_bm25_search(spark, sf_dir)
    wl = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lexr = lex.select(
        "doc_id", F.row_number().over(wl).cast("long").alias("r_lex")
    )
    emb = _t(spark, sf_dir, "embeddings")
    dense = brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=20)
    denser = dense.select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("knn_rank").cast("long").alias("r_dense"),
    )
    fused = lexr.join(denser, "doc_id", "full_outer")
    term = lambda c: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(60.0) + F.col(c).cast("double")), F.lit(0.0)
    )
    return fused.select(
        "doc_id",
        "r_lex",
        "r_dense",
        (term("r_lex") + term("r_dense")).alias("rrf_score"),
    )


def _rrf_sql() -> str:
    from .analytics_extra import _BM25_SQL

    return f"""
WITH lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id)::BIGINT AS r_lex
  FROM ({_BM25_SQL}) t
), dense AS (
  SELECT doc_id, r_dense FROM (
    SELECT nid AS doc_id,
           row_number() OVER (ORDER BY cosine DESC, nid)::BIGINT AS r_dense
    FROM (
      SELECT c.vec_id AS nid,
             round(list_dot_product(q.qe, c.ne) /
                   (sqrt(list_dot_product(q.qe, q.qe))
                    * sqrt(list_dot_product(c.ne, c.ne))), 4) AS cosine
      FROM (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0) q,
           (SELECT vec_id, embedding::DOUBLE[] AS ne
            FROM embeddings WHERE vec_id <> 0) c
    ) s
  ) r WHERE r_dense <= 20
)
SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id, r_lex, r_dense,
       coalesce(1.0::DOUBLE / (60.0::DOUBLE + r_lex::DOUBLE), 0.0::DOUBLE)
       + coalesce(1.0::DOUBLE / (60.0::DOUBLE + r_dense::DOUBLE), 0.0::DOUBLE)
         AS rrf_score
FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
"""


# --------------------------------------------------------------------------
# graph_local_clustering
# --------------------------------------------------------------------------


def graph_local_clustering(spark, sf_dir):
    """Per-node local clustering coefficient ([EXT]): the node-grain
    refinement of ``graph_triangles`` — same supplier co-supply kNN
    graph, same degree-ordered wedge-close enumeration, but each closed
    triangle credits its three corners, and lcc(v) = 2·T(v)/(d(v)·(d(v)−1))
    flags the suppliers whose partner neighborhoods are themselves
    interconnected (community cores vs bridges).  Integer triangle
    counts and degrees until one final division → hash-exact."""
    from ..operators.triangles import cooccurrence_knn_edges, local_clustering

    li = _t(spark, sf_dir, "lineitem")
    edges = cooccurrence_knn_edges(
        li, "l_partkey", "l_suppkey", k=10, max_group_size=256
    )
    return local_clustering(edges)


# Every multiply-referenced CTE is MATERIALIZED: DuckDB 1.0 inlines
# plain CTEs at each reference, so this chain (o is read 4x, deg 2x,
# tri 3x ...) otherwise re-evaluates the 8.7M-row pair join dozens of
# times — 300+ s at sf0.1 vs 2.6 s materialized (measured).
_LCC_SQL = """
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
), sym AS (
  SELECT u, v, w FROM pairs UNION ALL SELECT v AS u, u AS v, w FROM pairs
), top AS (
  SELECT u, v FROM (
    SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY w DESC, v) AS r
    FROM sym
  ) WHERE r <= 10
), edges AS MATERIALIZED (
  SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM top
), deg AS MATERIALIZED (
  SELECT n, count(*)::BIGINT AS d
  FROM (SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges)
  GROUP BY n
), o AS MATERIALIZED (
  SELECT CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.u < e.v)
              THEN e.u ELSE e.v END AS s,
         CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.u < e.v)
              THEN e.v ELSE e.u END AS t
  FROM edges e JOIN deg d1 ON e.u = d1.n JOIN deg d2 ON e.v = d2.n
), wedges AS (
  SELECT e1.s AS a, e1.t AS b, e2.t AS c
  FROM o e1 JOIN o e2 ON e1.s = e2.s AND e1.t < e2.t
), closing AS (
  SELECT s AS b, t AS c FROM o UNION ALL SELECT t AS b, s AS c FROM o
), tri AS MATERIALIZED (
  SELECT a, b, c FROM wedges JOIN closing USING (b, c)
), corners AS (
  SELECT a AS n FROM tri UNION ALL SELECT b AS n FROM tri
  UNION ALL SELECT c AS n FROM tri
), tcount AS (
  SELECT n, count(*)::BIGINT AS t FROM corners GROUP BY n
)
SELECT deg.n AS node, deg.d AS degree,
       coalesce(tcount.t, 0)::BIGINT AS n_triangles,
       CASE WHEN deg.d >= 2
            THEN (2 * coalesce(tcount.t, 0))::DOUBLE / (deg.d * (deg.d - 1))::DOUBLE
       END AS lcc
FROM deg LEFT JOIN tcount ON deg.n = tcount.n
"""


# --------------------------------------------------------------------------
# docs_cdc_chunks
# --------------------------------------------------------------------------

_CDC_WINDOW = 4
_CDC_MODULUS = 16


def docs_cdc_chunks(spark, sf_dir):
    """Content-defined chunking ([EXT] LLM-data tier): split each
    document at positions where the md5 of the trailing 4-token window
    hits 0 mod 16 — the rolling-hash boundary rule (FastCDC/rsync
    genus) that keeps chunk boundaries STABLE under insertions, unlike
    fixed-size chunking (``docs_chunking``), which is what makes
    chunk-grain dedup incremental-friendly.  Output is the chunk
    relation (doc_id, chunk_id, chunk_len, chunk_hash) ready for a
    chunk-level exact-dedup groupBy.

    Scale shape: the token stream is a map-side posexplode; the gram
    hash is three bounded lag windows per doc; the chunk id is one
    running sum per doc — all whole-stage-codegen'd, no corpus-wide
    shuffle until the final doc-grain agg.  The md5-prefix integer uses
    the registry's standard cross-engine hash recipe."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    ).filter(F.col("w") != "")
    wo = Window.partitionBy("doc_id").orderBy("pos")
    gram = F.concat_ws(
        " ", F.lag("w", 3).over(wo), F.lag("w", 2).over(wo), F.lag("w", 1).over(wo),
        F.col("w"),
    )
    has_full = F.lag("w", _CDC_WINDOW - 1).over(wo).isNotNull()
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("cdc|"), gram)), 1, 8), 16, 10
    ).cast("long")
    flag = F.when(has_full & (h % _CDC_MODULUS == 0), 1).otherwise(0)
    cut = tok.withColumn("flag", flag)
    wc = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    chunks = cut.withColumn(
        "chunk_id", F.coalesce(F.sum("flag").over(wc), F.lit(0)).cast("long")
    )
    per_chunk = chunks.groupBy("doc_id", "chunk_id").agg(
        F.count("*").cast("long").alias("chunk_len"),
        F.md5(
            F.concat_ws(
                " ",
                F.expr("transform(array_sort(collect_list(struct(pos, w))), s -> s.w)"),
            )
        ).alias("chunk_hash"),
    )
    return per_chunk


_CDC_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, ' '), 1)::BIGINT AS pos,
         unnest(string_split(text, ' ')) AS w
  FROM documents
), tok1 AS (
  SELECT * FROM tok WHERE w <> ''
), flagged AS (
  SELECT doc_id, pos, w,
         CASE WHEN lag(w, 3) OVER wo IS NOT NULL
               AND CAST('0x' || substr(md5('cdc|' ||
                     lag(w, 3) OVER wo || ' ' || lag(w, 2) OVER wo || ' ' ||
                     lag(w, 1) OVER wo || ' ' || w), 1, 8) AS BIGINT)
                   % {_CDC_MODULUS} = 0
              THEN 1 ELSE 0 END AS flag
  FROM tok1
  WINDOW wo AS (PARTITION BY doc_id ORDER BY pos)
), chunked AS (
  SELECT doc_id, pos, w,
         coalesce(sum(flag) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0)::BIGINT AS chunk_id
  FROM flagged
)
SELECT doc_id, chunk_id, count(*)::BIGINT AS chunk_len,
       md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_hash
FROM chunked GROUP BY 1, 2
"""


QUERIES = {
    "graph_kcore": (graph_kcore, _KCORE_SQL),
    "graph_common_neighbors": (graph_common_neighbors, _CN_SQL),
    "events_value_acf": (events_value_acf, _ACF_SQL),
    "events_holt_forecast": (events_holt_forecast, _HOLT_SQL),
    "events_ks_binned": (events_ks_binned, _KS_SQL),
    "docs_rake_keywords": (docs_rake_keywords, _RAKE_SQL),
    "docs_hybrid_rrf": (docs_hybrid_rrf, _rrf_sql()),
    "graph_local_clustering": (graph_local_clustering, _LCC_SQL),
    "docs_cdc_chunks": (docs_cdc_chunks, _CDC_SQL),
}
