"""[EXT] Statistical- and behavioral-analytics contract queries, round 4:

- grouped OLS trend (regr_* aggregates), Markov transition mining,
  token entropy, median/MAD robust stats, chi-square independence;
- sketches: Count-Min heavy hitters (batch + streaming-maintained) and
  KMV distinct estimation, both with oracle-checkable estimates;
- graph: fixed-iteration PageRank (unrolled-CTE twin);
- behavioral: cohort retention, per-user EWMA, multi-touch linear
  attribution, activity streaks, session path mining, RFM segments;
- temporal/spatial: daily resample + forward fill, rolling distinct
  (exact baseline), SCD2 dimension join, grid-bucketed geo radius join
  (brute-force oracle proves the bucketing lossless);
- survival/forensic/commercial: Kaplan-Meier gap survival with real
  right-censoring, Benford first-digit audit, Pareto/ABC classification,
  day-of-week seasonality indices.

Each query has a DuckDB oracle twin.  Cross-engine determinism notes:

- ``regr_slope``/``regr_intercept``/``regr_r2``/``corr`` accumulate in
  engine- (and partition-order-) dependent float order, so every such
  aggregate is rounded (6 dp) at the contract boundary — same policy as
  every avg() in the registry.
- The regression x is derived from exact integer microseconds by one
  division (days since 2024-01-01), identical IEEE doubles on both
  engines.
- Token entropy folds over the SORTED distinct-token array on both
  engines (``array_sort`` / ``list_sort``), making the double summation
  order identical — the md5-bucket classifier's left-fold rule applied
  to entropy.
- Exact medians use quantile_cont interpolation semantics on both
  engines (Spark ``median`` = DuckDB ``median`` on DOUBLE).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..cache import checkpoint
from ..operators.text import WORD_RE
from ..sources.registry import load_table as _t
from .xxh64_sql import PRELUDE as _XXH_PRELUDE
from .xxh64_sql import classifier_wts_ctes as _cls_wts

# 2024-01-01T00:00:00Z in microseconds — the events table's epoch.
_EPOCH_US = 1704067200000000


def events_value_trend(spark, sf_dir):
    """Per-event-type OLS trend of value over time: slope and intercept
    (value vs days-since-2024-01-01), fit quality (r²) and correlation.
    One partial+final aggregate — the regr_* family is algebraic, so the
    shuffle carries 5 moment tuples per type, not rows: at 100 TB this
    is a pure map-side-combine scan like Q1."""
    ev = _t(spark, sf_dir, "events")
    x = (F.unix_micros(F.col("ts")) - F.lit(_EPOCH_US)) / F.lit(86400000000.0)
    return (
        ev.select("event_type", F.col("value").alias("y"), x.alias("x"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.regr_slope("y", "x"), 6).alias("slope_per_day"),
            F.round(F.regr_intercept("y", "x"), 6).alias("intercept"),
            F.round(F.regr_r2("y", "x"), 6).alias("r2"),
            F.round(F.corr("y", "x"), 6).alias("pearson_r"),
        )
    )


_TREND_SQL = """
WITH base AS (
  SELECT event_type, value AS y,
         (epoch_us(ts) - 1704067200000000) / 86400000000.0 AS x
  FROM events
)
SELECT event_type, count(*)::BIGINT AS n_events,
       round(regr_slope(y, x), 6)     AS slope_per_day,
       round(regr_intercept(y, x), 6) AS intercept,
       round(regr_r2(y, x), 6)        AS r2,
       round(corr(y, x), 6)           AS pearson_r
FROM base GROUP BY event_type
"""


def events_markov_transitions(spark, sf_dir):
    """First-order Markov chain over per-user event sequences: count each
    (from_type → to_type) adjacent transition (ordered by ts, event_id
    tie-break) and its conditional probability.  One window shuffle on
    user_id + one count shuffle on the 25-cell transition key; the
    per-from normalization rides a second window over the tiny count
    frame, not the events."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n_transitions"))
    )
    w_from = Window.partitionBy("from_type")
    return trans.withColumn(
        "p_transition",
        F.round(F.col("n_transitions") / F.sum("n_transitions").over(w_from), 6),
    )


_MARKOV_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
), trans AS (
  SELECT event_type AS from_type, next_type AS to_type, count(*) AS n_transitions
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, n_transitions::BIGINT AS n_transitions,
       round(n_transitions / sum(n_transitions) OVER (PARTITION BY from_type), 6)
         AS p_transition
FROM trans
"""


def docs_token_entropy(spark, sf_dir):
    """Shannon entropy of each document's token distribution — the
    information-density quality signal (near-zero entropy = degenerate
    repetition; high entropy = diverse vocabulary).  Entirely in-array
    and map-only (zero Exchanges): distinct tokens are sorted so the
    double fold visits terms in the same order as the DuckDB twin."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0)
    # counts per distinct token, in sorted-token order
    counts = F.expr(
        "transform(array_sort(array_distinct(__toks)), "
        "x -> size(filter(__toks, y -> y = x)))"
    )
    ent = F.expr(
        "aggregate(__cnt, CAST(0.0 AS DOUBLE), (acc, c) -> "
        "acc - (c / CAST(__n AS DOUBLE)) * log2(c / CAST(__n AS DOUBLE)))"
    )
    return (
        docs.withColumn("__toks", toks)
        .filter(F.size("__toks") >= 1)
        .withColumn("__n", F.size("__toks"))
        .withColumn("__cnt", counts)
        .select(
            "doc_id",
            F.col("__n").cast("long").alias("n_tokens"),
            F.size("__cnt").cast("long").alias("n_distinct"),
            F.round(ent, 6).alias("token_entropy"),
        )
    )


_ENTROPY_SQL = """
WITH base AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents
), nz AS (
  SELECT doc_id, w, len(w) AS n FROM base WHERE len(w) >= 1
), cnt AS (
  SELECT doc_id, n, list_transform(list_sort(list_distinct(w)),
                                   x -> len(list_filter(w, y -> y = x))) AS c
  FROM nz
)
SELECT doc_id, n::BIGINT AS n_tokens, len(c)::BIGINT AS n_distinct,
       -- 0.0::DOUBLE matters: a bare 0.0 is DECIMAL(1,1) and would drag
       -- the whole fold into scale-1 DECIMAL arithmetic
       round(list_reduce(list_prepend(0.0::DOUBLE, c),
                         (acc, x) -> acc - (x / n::DOUBLE) * log2(x / n::DOUBLE)), 6)
         AS token_entropy
FROM cnt
"""


def events_value_mad(spark, sf_dir):
    """Robust dispersion per event type: exact median, median absolute
    deviation, and the count of robust z-outliers (|v - med| > 3·MAD·
    1.4826).  Two aggregate passes (median, then MAD over re-joined
    deviations) + one outlier count — medians are quantile_cont
    interpolation on both engines.  The per-type median join broadcasts
    (5 rows); at scale swap the exact medians for percentile_approx
    exactly as documented for a1_grouped_median."""
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "abs_dev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.any_value("med").alias("med"), F.median("abs_dev").alias("mad")
    )
    out = (
        dev.drop("med")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.any_value("med").alias("__med"),
            F.any_value("mad").alias("__mad"),
            F.sum(
                (
                    F.col("abs_dev") > F.lit(3.0) * F.lit(1.4826) * F.col("mad")
                ).cast("long")
            ).alias("n_outliers"),
        )
    )
    return out.select(
        "event_type",
        "n_events",
        F.round(F.col("__med"), 6).alias("median_value"),
        F.round(F.col("__mad"), 6).alias("mad"),
        "n_outliers",
    )


_MAD_SQL = """
WITH med AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS abs_dev
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, any_value(med) AS med, median(abs_dev) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type, count(*)::BIGINT AS n_events,
       round(any_value(m.med), 6) AS median_value,
       round(any_value(m.mad), 6) AS mad,
       -- ::DOUBLE on both literals: DuckDB would otherwise fold
       -- 3.0 * 1.4826 exactly in DECIMAL while Spark folds the same
       -- product in binary64 — thresholds one ulp apart can flip a
       -- boundary row's outlier verdict
       sum(CASE WHEN d.abs_dev > 3.0::DOUBLE * 1.4826::DOUBLE * m.mad
                THEN 1 ELSE 0 END)::BIGINT
         AS n_outliers
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
"""


def graph_pagerank(spark, sf_dir):
    """PageRank over the (symmetrized) customer–supplier trade graph:
    edges are distinct (customer, supplier) pairs linked through orders ×
    lineitem, 3 damped iterations from uniform, top-100 nodes.  Each
    iteration is two node-keyed shuffles (join + aggregate) — at lake
    scale both frames bucket by node so every round is co-located; the
    DuckDB oracle unrolls the identical iterations as CTEs."""
    from ..operators.pagerank import pagerank

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    e0 = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    # symmetrize: reversed pairs can't collide with forward ones (the
    # prefix flips), so union-all content == set union
    edges = e0.union(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    pr = pagerank(edges, iters=3, damping=0.85, round_dp=9)
    return pr.orderBy(F.desc("rank"), F.asc("node")).limit(100)


def _pagerank_sql(iters: int = 3, dp: int = 9, top: int = 100) -> str:
    """Unroll the damped iterations as CTEs.  All float literals are
    ::DOUBLE (a bare 0.85 is DECIMAL in DuckDB) and the teleport term is
    written (1.0 - 0.85::DOUBLE) so both engines fold the same IEEE
    constant the Spark side computes from `1.0 - damping`.

    Every CTE is MATERIALIZED (CLAUDE.md rule): DuckDB 1.0 inlines plain
    CTEs at every reference, multiplicatively through levels — here
    ``edges`` is read by ``nodes`` (2×), ``deg`` and every round, each
    copy re-running ``e0``'s 8.7M-row orders×lineitem join, which is what
    cost the sf1 sweep a 473 s standalone-timeout carve-out (r11 VERDICT
    ask #5).  Materialization changes no values — the same fixpoint is
    computed once per CTE."""
    parts = [
        f"""WITH e0 AS MATERIALIZED (
  SELECT DISTINCT 'c' || o.o_custkey AS src, 's' || l.l_suppkey AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), edges AS MATERIALIZED (
  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
), nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
), deg AS MATERIALIZED (
  SELECT src, count(*) AS d FROM edges GROUP BY src
), nn AS MATERIALIZED (
  SELECT count(*)::DOUBLE AS n FROM nodes
), r0 AS MATERIALIZED (
  SELECT node, round(1.0 / nn.n, {dp}) AS rank FROM nodes, nn
)"""
    ]
    prev = "r0"
    for t in range(1, iters + 1):
        parts.append(
            f""", r{t} AS MATERIALIZED (
  SELECT nd.node,
         round((1.0 - 0.85::DOUBLE) / any_value(nn.n)
               + 0.85::DOUBLE * coalesce(sum(r.rank / deg.d), 0.0), {dp}) AS rank
  FROM nodes nd
  LEFT JOIN edges e ON e.dst = nd.node
  LEFT JOIN {prev} r ON e.src = r.node
  LEFT JOIN deg ON deg.src = e.src
  CROSS JOIN nn
  GROUP BY nd.node
)"""
        )
        prev = f"r{t}"
    parts.append(
        f"""
SELECT node, rank FROM {prev} ORDER BY rank DESC, node LIMIT {top}"""
    )
    return "".join(parts)


_PAGERANK_SQL = _pagerank_sql(iters=3, dp=9, top=100)


def events_cms_heavy_hitters(spark, sf_dir):
    """Heavy-hitter screen via a Count-Min sketch (depth 4 × width 64):
    sketch the user_id stream, estimate every user's event count from the
    sketch, and report the top 50 estimates alongside exact counts and
    the one-sided overestimate (est − exact ≥ 0, always).  The sketch is
    256 counters regardless of user cardinality — at 100 TB the
    partial+final aggregate carries counters, not keys, and the estimate
    join broadcasts.  Width 64 is deliberately under-provisioned here so
    collisions (and the overestimate accounting) are actually exercised."""
    from ..operators.sketch import cms_build, cms_estimate

    ev = _t(spark, sf_dir, "events")
    cms = cms_build(ev, "user_id", depth=4, width=64)
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact_count"))
    est = cms_estimate(exact, "user_id", cms, depth=4, width=64)
    return (
        est.withColumn("overestimate", F.col("cms_est") - F.col("exact_count"))
        .orderBy(F.desc("cms_est"), F.asc("user_id"))
        .limit(50)
    )


_CMS_SQL = """
WITH seeds AS (
  SELECT unnest([0, 1, 2, 3]) AS d
), coords AS (
  SELECT e.user_id, s.d,
         CAST('0x' || substr(md5('cms' || s.d || '|' || e.user_id::VARCHAR), 1, 8)
              AS BIGINT) % 64 AS bucket
  FROM events e, seeds s
), cms AS (
  SELECT d, bucket, count(*) AS cnt FROM coords GROUP BY d, bucket
), exact AS (
  SELECT user_id, count(*) AS exact_count FROM events GROUP BY user_id
), probe AS (
  SELECT x.user_id, x.exact_count, s.d,
         CAST('0x' || substr(md5('cms' || s.d || '|' || x.user_id::VARCHAR), 1, 8)
              AS BIGINT) % 64 AS bucket
  FROM exact x, seeds s
), est AS (
  SELECT p.user_id, any_value(p.exact_count)::BIGINT AS exact_count,
         min(coalesce(c.cnt, 0))::BIGINT AS cms_est
  FROM probe p LEFT JOIN cms c ON p.d = c.d AND p.bucket = c.bucket
  GROUP BY p.user_id
)
SELECT user_id, exact_count, cms_est, (cms_est - exact_count)::BIGINT AS overestimate
FROM est ORDER BY cms_est DESC, user_id LIMIT 50
"""


def events_kmv_distinct(spark, sf_dir):
    """Distinct-user estimation per event type via a K-minimum-values
    sketch (k=64), reported against the exact distinct count.  Unlike
    approx_count_distinct's engine-private HLL, every KMV step is public
    md5 arithmetic, so the estimate itself is oracle-checkable.  One
    partial+final aggregate for the sketch; the estimation branch
    genuinely fires (each type has >64 distinct users)."""
    from ..operators.sketch import kmv_build, kmv_estimate

    ev = _t(spark, sf_dir, "events")
    sk = kmv_build(ev, "user_id", ["event_type"], k=64)
    exact = ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("exact_distinct"),
    )
    return sk.join(exact, "event_type").select(
        "event_type",
        "n_events",
        "exact_distinct",
        kmv_estimate(F.col("kmv"), k=64).alias("kmv_est"),
    )


_KMV_SQL = """
WITH h AS (
  SELECT event_type, substr(md5('kmv' || '|' || user_id::VARCHAR), 1, 8) AS hh
  FROM events
), sk AS (
  SELECT event_type, list_sort(list_distinct(list(hh)))[1:64] AS kmv
  FROM h GROUP BY event_type
), exact AS (
  SELECT event_type, count(*)::BIGINT AS n_events,
         count(DISTINCT user_id)::BIGINT AS exact_distinct
  FROM events GROUP BY event_type
)
SELECT s.event_type, x.n_events, x.exact_distinct,
       CASE WHEN len(s.kmv) < 64 THEN len(s.kmv)::DOUBLE
            ELSE round(63.0::DOUBLE /
                       (CAST('0x' || s.kmv[64] AS BIGINT)::DOUBLE / 4294967296.0), 4)
       END AS kmv_est
FROM sk s JOIN exact x USING (event_type)
"""


def events_retention_cohorts(spark, sf_dir):
    """Classic cohort-retention matrix: users grouped by first-activity
    day (signup cohort), tracked across weekly offsets — the churn
    analysis every activity dataset gets.  Shape: one window (or min-agg)
    for first-touch + one distinct aggregate on (cohort, offset); both
    keyed shuffles.  Output: cohort_day, week_offset, n_active,
    retention vs the cohort's week-0 size."""
    ev = _t(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("day")
    )
    first = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    act = (
        days.join(first, "user_id")
        .select(
            "user_id",
            "cohort_day",
            (F.datediff(F.col("day"), F.col("cohort_day")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    mat = act.groupBy("cohort_day", "week_offset").agg(
        F.count_distinct("user_id").alias("n_active")
    )
    base = mat.filter(F.col("week_offset") == 0).select(
        "cohort_day", F.col("n_active").alias("__c0")
    )
    return (
        mat.join(base, "cohort_day")
        .select(
            "cohort_day",
            "week_offset",
            "n_active",
            F.round(F.col("n_active") / F.col("__c0"), 6).alias("retention"),
        )
    )


_RETENTION_SQL = """
WITH days AS (
  SELECT user_id, ts::DATE AS day FROM events
), first AS (
  SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id
), act AS (
  SELECT DISTINCT d.user_id, f.cohort_day,
         CAST(date_diff('day', f.cohort_day, d.day) // 7 AS BIGINT) AS week_offset
  FROM days d JOIN first f USING (user_id)
), mat AS (
  SELECT cohort_day, week_offset, count(DISTINCT user_id)::BIGINT AS n_active
  FROM act GROUP BY 1, 2
), base AS (
  SELECT cohort_day, n_active AS c0 FROM mat WHERE week_offset = 0
)
SELECT m.cohort_day, m.week_offset, m.n_active,
       round(m.n_active / b.c0, 6) AS retention
FROM mat m JOIN base b USING (cohort_day)
"""


def events_user_ewma(spark, sf_dir):
    """Per-user exponentially weighted moving average of event values
    (α=0.2), seeded by the first event and folded in (ts, event_id)
    order — the streaming-style smoothed state computed batch-side.
    One groupBy shuffle; the fold itself is an in-array expression, and
    because both engines fold the identically-ordered list, the IEEE
    result is bit-identical before the final rounding."""
    ev = _t(spark, sf_dir, "events")
    ordered = F.expr(
        "transform(array_sort(collect_list(struct(ts, event_id, value))), "
        "s -> s.value)"
    )
    grouped = ev.groupBy("user_id").agg(ordered.alias("__vals"))
    ewma = F.expr(
        "aggregate(slice(__vals, 2, size(__vals) - 1), __vals[0], "
        "(acc, x) -> CAST(0.2 AS DOUBLE) * x + CAST(0.8 AS DOUBLE) * acc)"
    )
    return grouped.select(
        "user_id",
        F.size("__vals").cast("long").alias("n_events"),
        F.round(ewma, 6).alias("ewma_value"),
    )


_EWMA_SQL = """
WITH g AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS vals
  FROM events GROUP BY user_id
)
SELECT user_id, len(vals)::BIGINT AS n_events,
       round(list_reduce(vals,
             (acc, x) -> 0.2::DOUBLE * x + 0.8::DOUBLE * acc), 6) AS ewma_value
FROM g
"""


def events_attribution_linear(spark, sf_dir):
    """Multi-touch LINEAR attribution — the complement of the last-touch
    reduction in streaming/attribution.py: every in-horizon click of a
    purchase shares the conversion credit equally (1/n), aggregated per
    acquisition channel (derived deterministically from the click's JSON
    props).  Same user-keyed range join as the streaming path; the
    credit split is one window count + a map-side division."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("cts"),
        (F.get_json_object("props", "$.k").cast("long") % 5).alias("channel"),
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("pts"),
    )
    cond = (
        (clicks.c_user_id == purch.user_id)
        & (clicks.cts <= purch.pts)
        & (clicks.cts >= purch.pts - F.expr("INTERVAL 7200 SECOND"))
    )
    pairs = clicks.join(purch, cond)
    w = Window.partitionBy("purchase_id")
    weighted = pairs.withColumn(
        "credit", F.lit(1.0) / F.count("*").over(w)
    )
    return weighted.groupBy("channel").agg(
        F.count("*").alias("n_touches"),
        F.count_distinct("purchase_id").alias("n_purchases_touched"),
        F.round(F.sum("credit"), 6).alias("credit"),
    )


_ATTRIB_LINEAR_SQL = """
WITH c AS (
  SELECT event_id AS click_id, user_id, ts AS cts,
         (json_extract_string(props, '$.k')::BIGINT % 5) AS channel
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT event_id AS purchase_id, user_id, ts AS pts
  FROM events WHERE event_type = 'purchase'
), pairs AS (
  SELECT c.channel, c.click_id, p.purchase_id
  FROM c JOIN p ON c.user_id = p.user_id
    AND c.cts <= p.pts AND c.cts >= p.pts - INTERVAL 2 HOUR
), weighted AS (
  SELECT channel, purchase_id,
         1.0::DOUBLE / count(*) OVER (PARTITION BY purchase_id) AS credit
  FROM pairs
)
SELECT channel, count(*)::BIGINT AS n_touches,
       count(DISTINCT purchase_id)::BIGINT AS n_purchases_touched,
       round(sum(credit), 6) AS credit
FROM weighted GROUP BY channel
"""


def streaming_cms_heavy_hitters(spark, sf_dir):
    """Streaming sketch maintenance, oracle-gated: run the foreachBatch
    Count-Min maintenance over the events feed (availableNow), read the
    resulting sketch store, and report the top-20 user-frequency
    estimates.  Because union+sum is the algebraic sketch merge, the
    streamed sketch equals the batch sketch EXACTLY — which is what lets
    a query that really runs the streaming machinery carry a full SQL
    oracle instead of the weaker rows-only check."""
    import os
    import tempfile

    from pyspark import SparkFiles

    from ..operators.sketch import cms_estimate
    from ..streaming.sketches import run_streaming_cms

    # the returned frame reads the store lazily; Spark deletes its root
    # dir, and this work dir with it, at spark.stop()
    d = tempfile.mkdtemp(prefix="cms-stream-", dir=SparkFiles.getRootDirectory())
    store = os.path.join(d, "store")
    run_streaming_cms(
        spark, f"{sf_dir}/events.parquet", store, "user_id",
        os.path.join(d, "ck"), depth=4, width=64,
    )
    cms = spark.read.parquet(store)
    users = _t(spark, sf_dir, "events").select("user_id").distinct()
    return (
        cms_estimate(users, "user_id", cms, depth=4, width=64)
        .orderBy(F.desc("cms_est"), F.asc("user_id"))
        .limit(20)
    )


_STREAM_CMS_SQL = """
WITH seeds AS (
  SELECT unnest([0, 1, 2, 3]) AS d
), coords AS (
  SELECT e.user_id, s.d,
         CAST('0x' || substr(md5('cms' || s.d || '|' || e.user_id::VARCHAR), 1, 8)
              AS BIGINT) % 64 AS bucket
  FROM events e, seeds s
), cms AS (
  SELECT d, bucket, count(*) AS cnt FROM coords GROUP BY d, bucket
), users AS (
  SELECT DISTINCT user_id FROM events
), probe AS (
  SELECT u.user_id, s.d,
         CAST('0x' || substr(md5('cms' || s.d || '|' || u.user_id::VARCHAR), 1, 8)
              AS BIGINT) % 64 AS bucket
  FROM users u, seeds s
)
SELECT p.user_id, min(coalesce(c.cnt, 0))::BIGINT AS cms_est
FROM probe p LEFT JOIN cms c ON p.d = c.d AND p.bucket = c.bucket
GROUP BY p.user_id
ORDER BY cms_est DESC, user_id LIMIT 20
"""


def events_activity_streaks(spark, sf_dir):
    """Gaps-and-islands: per-user consecutive-day activity streaks via
    the classic day_number − row_number grouping (one user-keyed window
    + one aggregate).  Output: active-day count, streak count, longest
    streak per user."""
    ev = _t(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grouped = days.withColumn(
        "__grp",
        F.datediff(F.col("day"), F.lit("2024-01-01")) - F.row_number().over(w),
    )
    streaks = grouped.groupBy("user_id", "__grp").agg(
        F.count("*").alias("__len")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("__len").alias("n_active_days"),
        F.count("*").alias("n_streaks"),
        F.max("__len").alias("longest_streak"),
    )


_STREAKS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, ts::DATE AS day FROM events
), grouped AS (
  SELECT user_id,
         date_diff('day', DATE '2024-01-01', day)
           - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM days
), streaks AS (
  SELECT user_id, grp, count(*) AS len FROM grouped GROUP BY user_id, grp
)
SELECT user_id, sum(len)::BIGINT AS n_active_days,
       count(*)::BIGINT AS n_streaks, max(len)::BIGINT AS longest_streak
FROM streaks GROUP BY user_id
"""


def customer_rfm_segments(spark, sf_dir):
    """RFM segmentation: recency/frequency/monetary quintiles per
    customer from orders, composed into the classic 3-digit segment.
    Quintiles are NTILE(5) with total-order tie-breaks (metric then
    custkey) so assignment is deterministic on every engine.  The global
    NTILE single-partitions the CUSTOMER-grain frame — fine at
    dim-cardinality, and at fact-scale customer counts swap the exact
    quintiles for percentile_approx boundary cuts broadcast onto the
    scan (same documented trade as orders_price_deciles)."""
    orders = _t(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    w_r = Window.orderBy(F.desc("last_order"), F.asc("o_custkey"))
    w_f = Window.orderBy(F.desc("frequency"), F.asc("o_custkey"))
    w_m = Window.orderBy(F.desc("monetary"), F.asc("o_custkey"))
    return (
        per.withColumn("r_score", F.ntile(5).over(w_r))
        .withColumn("f_score", F.ntile(5).over(w_f))
        .withColumn("m_score", F.ntile(5).over(w_m))
        .select(
            "o_custkey",
            "frequency",
            "monetary",
            "r_score",
            "f_score",
            "m_score",
            F.concat("r_score", "f_score", "m_score").alias("segment"),
        )
    )


_RFM_SQL = """
WITH per AS (
  SELECT o_custkey, max(o_orderdate) AS last_order,
         count(*) AS frequency, round(sum(o_totalprice), 2) AS monetary
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey, frequency::BIGINT AS frequency, monetary,
       ntile(5) OVER (ORDER BY last_order DESC, o_custkey) AS r_score,
       ntile(5) OVER (ORDER BY frequency DESC, o_custkey)  AS f_score,
       ntile(5) OVER (ORDER BY monetary DESC, o_custkey)   AS m_score,
       ntile(5) OVER (ORDER BY last_order DESC, o_custkey)::VARCHAR
         || ntile(5) OVER (ORDER BY frequency DESC, o_custkey)::VARCHAR
         || ntile(5) OVER (ORDER BY monetary DESC, o_custkey)::VARCHAR AS segment
FROM per
"""


def customer_rfm_segments_scaled(spark, sf_dir):
    """Fact-scale twin of ``customer_rfm_segments``: identical RFM
    scores with NO partition-less window.  Each metric's quintile comes
    from an exact distributed global rank (``operators/global_order.py``
    — range repartition + per-partition offsets) composed with
    integer-exact NTILE math, so the output is bit-identical to the
    NTILE form and reuses its oracle.  Three range exchanges (one per
    metric's total order) replace three single-partition sorts — the
    shape that survives a fact-grain customer table."""
    from ..operators.global_order import global_row_number, ntile_expr

    orders = _t(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    specs = {
        "r_score": [F.col("last_order").desc(), F.col("o_custkey").asc()],
        "f_score": [F.col("frequency").desc(), F.col("o_custkey").asc()],
        "m_score": [F.col("monetary").desc(), F.col("o_custkey").asc()],
    }
    df = per
    for score, order in specs.items():
        df, n = global_row_number(df, order, rank_col="__rank")
        df = df.withColumn(score, ntile_expr("__rank", n, 5)).drop("__rank")
    return df.select(
        "o_custkey",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
        F.concat("r_score", "f_score", "m_score").alias("segment"),
    )


def events_daily_resample(spark, sf_dir):
    """Time-series resampling with gap fill: each user's event-value
    series is re-gridded to one row per calendar day across their active
    span, carrying the last observed daily aggregate forward through
    gap days (ffill).  The day grid is generated with `sequence` +
    explode (cheap-child explode, no fence needed) and the carry is one
    `last(..., ignorenulls)` running window — the standard Spark
    gap-fill composition.  Two shuffles: the daily aggregate and the
    user-keyed window."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value"), 2).alias("day_value"))
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily, ["user_id", "day"], "left")
        .withColumn("filled_value", F.last("day_value", ignorenulls=True).over(w))
        .withColumn("is_gap", F.col("day_value").isNull())
        .select(
            "user_id",
            F.col("day").cast("string").alias("day"),
            "filled_value",
            "is_gap",
        )
    )


_RESAMPLE_SQL = """
WITH daily AS (
  SELECT user_id, ts::DATE AS day, round(sum(value), 2) AS day_value
  FROM events GROUP BY 1, 2
), span AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM span
)
SELECT g.user_id, g.day::VARCHAR AS day,
       last_value(d.day_value IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
       d.day_value IS NULL AS is_gap
FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
"""


def users_radius_join(spark, sf_dir):
    """Geospatial radius join: deterministic per-user coordinates
    (synthesized in-plan from user_id, same pattern as pii_scan's signal
    synthesis) and all user pairs within 25 km via 3×3 grid-cell
    candidate generation + exact haversine verify — never a nested-loop
    join (plan-pinned).  The DuckDB oracle is the BRUTE-FORCE all-pairs
    form, independently proving the bucketing misses no pair."""
    from ..operators.geo import radius_join

    ev = _t(spark, sf_dir, "events")
    users = ev.select("user_id").distinct().select(
        F.col("user_id").alias("id"),
        (F.lit(40.0) + (F.col("user_id") % 100) / F.lit(100.0)).alias("lat"),
        (F.lit(-74.0) + ((F.col("user_id") * 7) % 100) / F.lit(100.0)).alias("lon"),
    )
    return radius_join(users, radius_km=25.0, cell_deg=0.5)


_RADIUS_SQL = """
WITH u AS (
  SELECT DISTINCT user_id AS id,
         40.0::DOUBLE + (user_id % 100) / 100.0::DOUBLE AS lat,
         -74.0::DOUBLE + ((user_id * 7) % 100) / 100.0::DOUBLE AS lon
  FROM events
)
SELECT a.id AS id_a, b.id AS id_b,
       round(2.0 * 6371.0 * asin(sqrt(
         sin(radians(b.lat - a.lat) / 2) * sin(radians(b.lat - a.lat) / 2)
         + cos(radians(a.lat)) * cos(radians(b.lat))
           * sin(radians(b.lon - a.lon) / 2) * sin(radians(b.lon - a.lon) / 2)
       )), 3) AS distance_km
FROM u a JOIN u b ON a.id < b.id
WHERE 2.0 * 6371.0 * asin(sqrt(
        sin(radians(b.lat - a.lat) / 2) * sin(radians(b.lat - a.lat) / 2)
        + cos(radians(a.lat)) * cos(radians(b.lat))
          * sin(radians(b.lon - a.lon) / 2) * sin(radians(b.lon - a.lon) / 2)
      )) <= 25.0
"""


def events_session_paths(spark, sf_dir):
    """Behavioral path mining: sessionize (30-min gaps, reusing the same
    operator the streaming contract checks), collect each session's
    time-ordered event-type path, and report the top-20 most common
    paths with frequency and average session value.  One user-keyed
    window (sessionize) + one (user, session) aggregate + one path
    count — the path strings are tiny relative to the events, so the
    final count is a dim-sized shuffle."""
    from ..streaming.events import sessionize

    ev = _t(spark, sf_dir, "events")
    sess = sessionize(ev, gap_seconds=1800)
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "struct(ts, event_id, event_type))), s -> s.event_type), '>')"
        ).alias("path"),
        F.round(F.sum("value"), 2).alias("session_value"),
    )
    return (
        per_session.groupBy("path")
        .agg(
            F.count("*").alias("n_sessions"),
            F.round(F.avg("session_value"), 6).alias("avg_session_value"),
        )
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(20)
    )


_SESSION_PATHS_SQL = """
WITH ordered AS (
  SELECT user_id, event_id, event_type, value, ts,
         CASE WHEN lag(epoch(ts)::BIGINT) OVER w IS NULL
                   OR epoch(ts)::BIGINT - lag(epoch(ts)::BIGINT) OVER w > 1800
              THEN 1 ELSE 0 END AS flag
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT *, sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS session_id
  FROM ordered
), per_session AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
         round(sum(value), 2) AS session_value
  FROM sess GROUP BY user_id, session_id
)
SELECT path, count(*)::BIGINT AS n_sessions,
       round(avg(session_value), 6) AS avg_session_value
FROM per_session GROUP BY path
ORDER BY n_sessions DESC, path LIMIT 20
"""


def orders_scd2_join(spark, sf_dir):
    """Slowly-changing-dimension (type 2) temporal join: a versioned
    customer-tier dimension is synthesized in-plan (every customer gets
    three date-bounded versions of a tier attribute, derived
    deterministically from the key — same in-plan synthesis pattern as
    pii_scan), and each order joins the version VALID AT its order date:
    equi-join on the customer key + BETWEEN range predicate.  Because an
    equi key exists, Catalyst plans a plain hash join with the range as
    a post-filter — the cheap case of temporal joins (the keyless case
    is `operators/ranges.interval_join`).  Output: orders per (tier,
    year)."""
    orders = _t(spark, sf_dir, "orders")
    cust = orders.select(F.col("o_custkey").alias("custkey")).distinct()
    # three versions per customer: [1992-01-01, v1), [v1, v2), [v2, open)
    v1 = F.date_add(F.lit("1994-01-01").cast("date"), (F.col("custkey") % 365).cast("int"))
    v2 = F.date_add(F.lit("1996-01-01").cast("date"), ((F.col("custkey") * 7) % 365).cast("int"))
    dim = cust.select(
        "custkey",
        F.explode(
            F.array(
                F.struct(
                    F.lit("1992-01-01").cast("date").alias("valid_from"),
                    v1.alias("valid_to"),
                    (F.col("custkey") % 3).alias("tier"),
                ),
                F.struct(
                    v1.alias("valid_from"),
                    v2.alias("valid_to"),
                    ((F.col("custkey") + 1) % 3).alias("tier"),
                ),
                F.struct(
                    v2.alias("valid_from"),
                    F.lit("9999-12-31").cast("date").alias("valid_to"),
                    ((F.col("custkey") + 2) % 3).alias("tier"),
                ),
            )
        ).alias("v"),
    ).select("custkey", "v.valid_from", "v.valid_to", "v.tier")
    joined = orders.join(
        dim,
        (orders.o_custkey == dim.custkey)
        & (orders.o_orderdate >= dim.valid_from)
        & (orders.o_orderdate < dim.valid_to),
    )
    return joined.groupBy(
        F.col("tier"), F.year("o_orderdate").alias("order_year")
    ).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


_SCD2_SQL = """
WITH cust AS (
  SELECT DISTINCT o_custkey AS custkey FROM orders
), dim AS (
  SELECT custkey, v.* FROM cust, LATERAL (
    SELECT DATE '1992-01-01' AS valid_from,
           DATE '1994-01-01' + INTERVAL ((custkey % 365)::INT) DAY AS valid_to,
           custkey % 3 AS tier
    UNION ALL
    SELECT DATE '1994-01-01' + INTERVAL ((custkey % 365)::INT) DAY,
           DATE '1996-01-01' + INTERVAL (((custkey * 7) % 365)::INT) DAY,
           (custkey + 1) % 3
    UNION ALL
    SELECT DATE '1996-01-01' + INTERVAL (((custkey * 7) % 365)::INT) DAY,
           DATE '9999-12-31',
           (custkey + 2) % 3
  ) v
)
SELECT d.tier, year(o.o_orderdate)::INT AS order_year,
       count(*)::BIGINT AS n_orders, round(sum(o.o_totalprice), 2) AS revenue
FROM orders o JOIN dim d
  ON o.o_custkey = d.custkey
 AND o.o_orderdate >= d.valid_from AND o.o_orderdate < d.valid_to
GROUP BY 1, 2
"""


def events_rolling_distinct_users(spark, sf_dir):
    """7-day rolling DISTINCT user count per event type.  Rolling
    count-distinct is not algebraic, so the exact relational form is a
    day-grid × active-day range join (each (type, day) cell counts the
    distinct users of its trailing window) — candidate volume is
    window_days × daily actives, bounded and shuffle-friendly, instead
    of a per-row window sort.  At scale the window would use an HLL/KMV
    sketch merge (see operators/sketch.py) — this is the exact
    baseline."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    grid = daily.select("event_type", "day").distinct()
    joined = grid.alias("g").join(
        daily.alias("d"),
        (F.col("g.event_type") == F.col("d.event_type"))
        & (F.col("d.day") <= F.col("g.day"))
        & (F.col("d.day") >= F.date_sub(F.col("g.day"), 6)),
    )
    return joined.groupBy(
        F.col("g.event_type").alias("event_type"),
        F.col("g.day").cast("string").alias("day"),
    ).agg(F.count_distinct(F.col("d.user_id")).alias("rolling_users_7d"))


_ROLLING_DISTINCT_SQL = """
WITH daily AS (
  SELECT DISTINCT event_type, ts::DATE AS day, user_id FROM events
), grid AS (
  SELECT DISTINCT event_type, day FROM daily
)
SELECT g.event_type, g.day::VARCHAR AS day,
       count(DISTINCT d.user_id)::BIGINT AS rolling_users_7d
FROM grid g JOIN daily d
  ON g.event_type = d.event_type
 AND d.day <= g.day AND d.day >= g.day - INTERVAL 6 DAY
GROUP BY 1, 2
"""


def events_rolling_distinct_users_kmv(spark, sf_dir):
    """Sketch-backed twin of ``events_rolling_distinct_users``: the
    7-day rolling distinct count via mergeable KMV sketches
    (``operators/sketch.py``).  One pass builds a per-(type, day) k-min
    sketch; the range join then carries SKETCHES (≤ k hashes per cell,
    #types × #days rows) instead of raw (type, day, user) triples, and
    the window merge is k-min-of-union — so the expensive stage's
    volume is independent of daily active users, the property the exact
    baseline lacks.  Every step is public md5 arithmetic, so the
    estimates (exact below k, (k-1)/h_k above) are oracle-checkable;
    the exact baseline stays as the verification twin."""
    from ..operators.sketch import kmv_build, kmv_estimate

    k = 64
    ev = _t(spark, sf_dir, "events")
    daily = ev.select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    sk = kmv_build(daily, "user_id", group_cols=["event_type", "day"], k=k)
    grid = sk.select("event_type", "day")
    joined = grid.alias("g").join(
        sk.alias("d"),
        (F.col("g.event_type") == F.col("d.event_type"))
        & (F.col("d.day") <= F.col("g.day"))
        & (F.col("d.day") >= F.date_sub(F.col("g.day"), 6)),
    )
    merged = joined.groupBy(
        F.col("g.event_type").alias("event_type"),
        F.col("g.day").cast("string").alias("day"),
    ).agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list(F.col("d.kmv"))))),
            1,
            k,
        ).alias("kmv")
    )
    return merged.select(
        "event_type",
        "day",
        kmv_estimate(F.col("kmv"), k=k).alias("rolling_users_7d_est"),
    )


_ROLLING_DISTINCT_KMV_SQL = """
WITH daily AS (
  SELECT DISTINCT event_type, ts::DATE AS day, user_id FROM events
), hashed AS (
  SELECT event_type, day,
         substr(md5('kmv|' || user_id::VARCHAR), 1, 8) AS h
  FROM daily
), sk AS (
  SELECT event_type, day,
         list_sort(list(DISTINCT h))[1:64] AS kmv
  FROM hashed GROUP BY 1, 2
), merged AS (
  SELECT g.event_type, g.day,
         list_sort(list_distinct(flatten(list(d.kmv))))[1:64] AS kmv
  FROM (SELECT event_type, day FROM sk) g
  JOIN sk d ON g.event_type = d.event_type
           AND d.day <= g.day AND d.day >= g.day - INTERVAL 6 DAY
  GROUP BY 1, 2
)
SELECT event_type, day::VARCHAR AS day,
       CASE WHEN len(kmv) < 64 THEN len(kmv)::DOUBLE
            ELSE round(63.0::DOUBLE /
                       (CAST('0x' || kmv[64] AS BIGINT) / 4294967296.0::DOUBLE),
                       4)
       END AS rolling_users_7d_est
FROM merged
"""


def events_chi_square(spark, sf_dir):
    """Chi-square independence test between event type and acquisition
    channel (props-derived): observed vs expected contingency counts,
    the per-cell statistic contribution, and the total χ² — all from
    exact integer counts, so the only float ops are the final divisions
    (identical IEEE on both engines).  Two aggregates + broadcast margin
    joins."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        (F.get_json_object("props", "$.k").cast("long") % 5).alias("channel"),
    )
    obs = base.groupBy("event_type", "channel").agg(F.count("*").alias("o"))
    row_m = base.groupBy("event_type").agg(F.count("*").alias("r"))
    col_m = base.groupBy("channel").agg(F.count("*").alias("c"))
    tot = base.agg(F.count("*").alias("n"))
    cells = (
        obs.join(F.broadcast(row_m), "event_type")
        .join(F.broadcast(col_m), "channel")
        .crossJoin(F.broadcast(tot))
        .withColumn("e", F.col("r") * F.col("c") / F.col("n"))
        .withColumn(
            "chi2_cell",
            (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e"),
        )
    )
    return cells.select(
        "event_type",
        "channel",
        "o",
        F.round("e", 6).alias("expected"),
        F.round("chi2_cell", 6).alias("chi2_cell"),
    )


_CHI_SQUARE_SQL = """
WITH base AS (
  SELECT event_type,
         (json_extract_string(props, '$.k')::BIGINT % 5) AS channel
  FROM events
), obs AS (
  SELECT event_type, channel, count(*) AS o FROM base GROUP BY 1, 2
), row_m AS (
  SELECT event_type, count(*) AS r FROM base GROUP BY 1
), col_m AS (
  SELECT channel, count(*) AS c FROM base GROUP BY 1
), tot AS (
  SELECT count(*) AS n FROM base
)
SELECT o.event_type, o.channel, o.o::BIGINT AS o,
       round(row_m.r * col_m.c / tot.n, 6) AS expected,
       round((o.o - row_m.r * col_m.c / tot.n)
             * (o.o - row_m.r * col_m.c / tot.n)
             / (row_m.r * col_m.c / tot.n), 6) AS chi2_cell
FROM obs o
JOIN row_m USING (event_type)
JOIN col_m USING (channel)
CROSS JOIN tot
"""


def events_gap_survival(spark, sf_dir):
    """Kaplan-Meier survival curve of the inter-event gap (hours), with
    REAL right-censoring: each user's final open gap (last event to the
    corpus horizon) is censored — the user hasn't returned *yet*.
    S(t) = prod over event times t_i <= t of (1 - d_i/n_i), d = gaps
    ending (next event observed) at t_i, n = gaps still open at t_i.

    Shape: one lead() window for observed gaps + one per-user aggregate
    for the censored tail, a per-hour count, a reverse running sum for
    the risk set, and the cumulative product folded in-array over the
    hour grid (calendar-sized, never data-sized: O(grid^2) on a few
    hundred entries at any corpus scale; prefix left folds are
    engine-identical like every fold in this module)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead(F.unix_micros(F.col("ts"))).over(w)
    observed = (
        ev.withColumn("__next", nxt)
        .filter(F.col("__next").isNotNull())
        .select(
            F.floor(
                (F.col("__next") - F.unix_micros(F.col("ts"))) / F.lit(3600000000.0)
            ).cast("long").alias("gap_h"),
            F.lit(0).alias("censored"),
        )
    )
    horizon = ev.agg(F.max(F.unix_micros(F.col("ts"))).alias("hmax"))
    open_gaps = (
        ev.groupBy("user_id")
        .agg(F.max(F.unix_micros(F.col("ts"))).alias("last_us"))
        .crossJoin(F.broadcast(horizon))
        .select(
            F.floor((F.col("hmax") - F.col("last_us")) / F.lit(3600000000.0))
            .cast("long").alias("gap_h"),
            F.lit(1).alias("censored"),
        )
    )
    gaps = observed.unionByName(open_gaps)
    grid = gaps.groupBy("gap_h").agg(
        F.sum(F.lit(1) - F.col("censored")).alias("d"),
        F.count("*").alias("ended"),
    )
    w_risk = (
        Window.orderBy(F.desc("gap_h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = grid.withColumn("n_at_risk", F.sum("ended").over(w_risk))
    packed = risk.orderBy("gap_h").agg(
        F.collect_list(F.struct("gap_h", "d", "n_at_risk")).alias("rows")
    )
    km = packed.select(
        F.expr(
            "transform(sequence(1, size(rows)), i -> struct("
            "rows[i-1].gap_h AS gap_h, rows[i-1].d AS n_observed, "
            "rows[i-1].n_at_risk AS n_at_risk, "
            "round(aggregate(slice(rows, 1, i), CAST(1.0 AS DOUBLE), "
            "(acc, r) -> acc * (CAST(1.0 AS DOUBLE) - r.d / CAST(r.n_at_risk AS DOUBLE))), 6)"
            " AS survival))"
        ).alias("km")
    )
    return km.select(F.explode("km").alias("r")).select(
        "r.gap_h", "r.n_observed", "r.n_at_risk", "r.survival"
    )


_SURVIVAL_SQL = """
WITH obs AS (
  SELECT user_id, epoch_us(ts) AS us,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_us
  FROM events
), observed AS (
  SELECT CAST(floor((next_us - us) / 3600000000.0) AS BIGINT) AS gap_h,
         0 AS censored
  FROM obs WHERE next_us IS NOT NULL
), horizon AS (
  SELECT max(epoch_us(ts)) AS hmax FROM events
), open_gaps AS (
  SELECT CAST(floor((h.hmax - lastu) / 3600000000.0) AS BIGINT) AS gap_h,
         1 AS censored
  FROM (SELECT user_id, max(epoch_us(ts)) AS lastu FROM events GROUP BY user_id),
       horizon h
), gaps AS (
  SELECT * FROM observed UNION ALL SELECT * FROM open_gaps
), grid AS (
  SELECT gap_h, sum(1 - censored) AS d, count(*) AS ended FROM gaps GROUP BY gap_h
), risk AS (
  SELECT gap_h, d,
         sum(ended) OVER (ORDER BY gap_h DESC ROWS UNBOUNDED PRECEDING)
           AS n_at_risk
  FROM grid
), packed AS (
  SELECT list(struct_pack(gap_h := gap_h, d := d, n_at_risk := n_at_risk)
              ORDER BY gap_h) AS rows
  FROM risk
)
SELECT r.gap_h, r.n_observed, r.n_at_risk, r.survival
FROM packed, UNNEST(
  list_transform(range(1, len(rows) + 1), i -> struct_pack(
    gap_h := rows[i].gap_h,
    n_observed := rows[i].d,
    n_at_risk := rows[i].n_at_risk,
    survival := round(list_reduce(
      list_prepend(1.0::DOUBLE,
        list_transform(rows[1:i],
                       x -> 1.0::DOUBLE - x.d / x.n_at_risk::DOUBLE)),
      (acc, f) -> acc * f), 6)
  ))) AS t(r)
"""


def orders_benford_digits(spark, sf_dir):
    """Benford's-law first-digit audit of order totals — the forensic
    screen for fabricated numeric data: observed first-digit frequencies
    vs the log10(1 + 1/d) expectation and each digit's chi-square
    contribution.  One map-side digit extraction + a 9-group aggregate."""
    orders = _t(spark, sf_dir, "orders")
    digit = F.substring(
        F.regexp_replace(F.col("o_totalprice").cast("string"), r"[^1-9]", ""), 1, 1
    ).cast("int")
    obs = (
        orders.select(digit.alias("digit"))
        .filter(F.col("digit").isNotNull())
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    tot = obs.agg(F.sum("n").alias("t"))
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return (
        obs.crossJoin(F.broadcast(tot))
        .withColumn("p_obs", F.col("n") / F.col("t"))
        .withColumn("p_benford", expected)
        .select(
            "digit",
            "n",
            F.round("p_obs", 6).alias("p_obs"),
            F.round("p_benford", 6).alias("p_benford"),
            F.round(
                (F.col("p_obs") - F.col("p_benford"))
                * (F.col("p_obs") - F.col("p_benford"))
                / F.col("p_benford"),
                8,
            ).alias("chi2_term"),
        )
    )


_BENFORD_SQL = """
WITH d AS (
  SELECT CAST(substr(regexp_replace(o_totalprice::VARCHAR, '[^1-9]', '', 'g'), 1, 1)
              AS INT) AS digit
  FROM orders
), obs AS (
  SELECT digit, count(*) AS n FROM d WHERE digit IS NOT NULL GROUP BY digit
), tot AS (
  SELECT sum(n) AS t FROM obs
)
SELECT digit, n::BIGINT AS n,
       round(n / t, 6) AS p_obs,
       round(log10(1.0::DOUBLE + 1.0::DOUBLE / digit), 6) AS p_benford,
       round((n / t - log10(1.0::DOUBLE + 1.0::DOUBLE / digit))
             * (n / t - log10(1.0::DOUBLE + 1.0::DOUBLE / digit))
             / log10(1.0::DOUBLE + 1.0::DOUBLE / digit), 8) AS chi2_term
FROM obs, tot
"""


def customer_abc_analysis(spark, sf_dir):
    """Pareto / ABC classification of customers by revenue: cumulative
    revenue share over the descending-revenue order assigns A (first
    80%), B (to 95%), C (rest).  The cumulative window runs over the
    customer-grain aggregate (dim-sized; same global-window caveat and
    approx-boundary swap as RFM)."""
    orders = _t(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    tot = per.agg(F.round(F.sum("revenue"), 2).alias("t"))
    w = Window.orderBy(F.desc("revenue"), F.asc("o_custkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = per.crossJoin(F.broadcast(tot)).withColumn(
        "cum_share", F.round(F.sum("revenue").over(w) / F.col("t"), 6)
    )
    cls = (
        F.when(F.col("cum_share") <= 0.80, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
    )
    return (
        ranked.withColumn("abc_class", cls)
        .groupBy("abc_class")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("revenue"), 2).alias("class_revenue"),
        )
    )


_ABC_SQL = """
WITH per AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
  FROM orders GROUP BY o_custkey
), tot AS (
  SELECT round(sum(revenue), 2) AS t FROM per
), ranked AS (
  SELECT o_custkey, revenue,
         round(sum(revenue) OVER (ORDER BY revenue DESC, o_custkey
                                  ROWS UNBOUNDED PRECEDING) / t, 6) AS cum_share
  FROM per, tot
)
SELECT CASE WHEN cum_share <= 0.80 THEN 'A'
            WHEN cum_share <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class,
       count(*)::BIGINT AS n_customers,
       round(sum(revenue), 2) AS class_revenue
FROM ranked GROUP BY 1
"""


def customer_abc_analysis_scaled(spark, sf_dir):
    """Fact-scale twin of ``customer_abc_analysis``: the cumulative
    revenue share comes from the two-pass distributed prefix sum
    (``operators/global_order.py``), not a partition-less window.  The
    sum runs in DECIMAL so it is associativity-exact — invariant to the
    partition split — and the A/B/C cuts are pure decimal integer
    comparisons (``cum*5 <= t*4`` ⟺ share ≤ 0.80), so classification
    involves ZERO floating point.  Its oracle states the same decimal
    semantics; the double-typed exact twin stays as-is."""
    from decimal import Decimal

    from ..operators.global_order import global_running_sum

    orders = _t(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue")
    )
    cum_df, tot = global_running_sum(
        per,
        [F.col("revenue").desc(), F.col("o_custkey").asc()],
        "revenue",
        out_col="__cum",
    )
    c20 = F.col("__cum").cast("decimal(20,2)")
    t20 = F.lit(tot if tot is not None else Decimal("0")).cast("decimal(20,2)")
    cls = (
        F.when(c20 * 5 <= t20 * 4, "A")
        .when(c20 * 20 <= t20 * 19, "B")
        .otherwise("C")
    )
    return (
        cum_df.withColumn("abc_class", cls)
        .groupBy("abc_class")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("revenue").cast("double"), 2).alias("class_revenue"),
        )
    )


_ABC_SCALED_SQL = """
WITH per AS (
  SELECT o_custkey, sum(o_totalprice::DECIMAL(18,2)) AS revenue
  FROM orders GROUP BY o_custkey
), tot AS (
  SELECT sum(revenue) AS t FROM per
), ranked AS (
  SELECT o_custkey, revenue,
         sum(revenue) OVER (ORDER BY revenue DESC, o_custkey
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM per
)
SELECT CASE WHEN cum::DECIMAL(20,2) * 5 <= t::DECIMAL(20,2) * 4 THEN 'A'
            WHEN cum::DECIMAL(20,2) * 20 <= t::DECIMAL(20,2) * 19 THEN 'B'
            ELSE 'C' END AS abc_class,
       count(*)::BIGINT AS n_customers,
       round(sum(revenue)::DOUBLE, 2) AS class_revenue
FROM ranked, tot GROUP BY 1
"""


def events_dow_seasonality(spark, sf_dir):
    """Day-of-week seasonality index per event type: mean value by
    weekday relative to the type's overall mean (index > 1 = above-trend
    weekday).  Two algebraic aggregates + a broadcast ratio join."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_type", F.dayofweek("ts").alias("dow"), "value"
    )
    per = base.groupBy("event_type", "dow").agg(
        F.count("*").alias("n_events"), F.avg("value").alias("__avg")
    )
    overall = base.groupBy("event_type").agg(F.avg("value").alias("__o"))
    return (
        per.join(F.broadcast(overall), "event_type")
        .select(
            "event_type",
            "dow",
            "n_events",
            F.round("__avg", 6).alias("avg_value"),
            F.round(F.col("__avg") / F.col("__o"), 6).alias("seasonality_index"),
        )
    )


_DOW_SQL = """
WITH base AS (
  SELECT event_type, dayofweek(ts)::INT + 1 AS dow, value FROM events
), per AS (
  SELECT event_type, dow, count(*) AS n_events, avg(value) AS a
  FROM base GROUP BY 1, 2
), overall AS (
  SELECT event_type, avg(value) AS o FROM base GROUP BY 1
)
SELECT p.event_type, p.dow, p.n_events::BIGINT AS n_events,
       round(p.a, 6) AS avg_value, round(p.a / o.o, 6) AS seasonality_index
FROM per p JOIN overall o USING (event_type)
"""


# ---------------------------------------------------------------------------
# round 5: funnel analysis, sequence detection, weighted sampling
# ---------------------------------------------------------------------------


def events_funnel_conversion(spark, sf_dir):
    """Ordered 3-step funnel (view → click → purchase) within a 7-day
    window of the user's first view.  The classic product-analytics
    operator: each step's timestamp is the MIN event time strictly after
    the previous step, so a user converts only by doing the steps in
    order.  Three keyed aggregates + two user-keyed joins (each a hash
    shuffle on user_id — at 100 TB each stage is one partial+final agg
    and the joins co-locate on the same key); output is the per-step
    reach + conversion rates, all from exact integer counts."""
    ev = _t(spark, sf_dir, "events")

    def first_after(event_type, prev, prev_col):
        e = ev.filter(F.col("event_type") == event_type).select(
            "user_id", F.col("ts").alias("__t")
        )
        if prev is None:
            return e.groupBy("user_id").agg(F.min("__t").alias("step1_ts"))
        joined = e.join(prev, "user_id").filter(F.col("__t") > F.col(prev_col))
        name = {"step1_ts": "step2_ts", "step2_ts": "step3_ts"}[prev_col]
        return (
            joined.groupBy("user_id", *[c for c in prev.columns if c != "user_id"])
            .agg(F.min("__t").alias(name))
        )

    s1 = first_after("view", None, None)
    s2 = first_after("click", s1, "step1_ts")
    s3 = first_after("purchase", s2, "step2_ts").filter(
        F.col("step3_ts") <= F.col("step1_ts") + F.expr("INTERVAL 7 DAYS")
    )
    counts = (
        s1.agg(F.count("*").alias("n")).select(F.lit(1).alias("step"), "n")
        .unionByName(
            s2.agg(F.count("*").alias("n")).select(F.lit(2).alias("step"), "n")
        )
        .unionByName(
            s3.agg(F.count("*").alias("n")).select(F.lit(3).alias("step"), "n")
        )
    )
    first = F.first("n").over(
        Window.orderBy("step").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev = F.lag("n").over(Window.orderBy("step"))
    return counts.select(
        "step",
        F.col("n").alias("n_users"),
        F.round(F.col("n") / first, 6).alias("pct_of_top"),
        F.round(
            F.when(prev.isNotNull(), F.col("n") / prev), 6
        ).alias("step_conversion"),
    )


_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view'
  GROUP BY user_id
), s2 AS (
  SELECT e.user_id, s1.t1, min(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1
  GROUP BY e.user_id, s1.t1
), s3 AS (
  SELECT e.user_id, s2.t1, min(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
  GROUP BY e.user_id, s2.t1
  HAVING min(e.ts) <= s2.t1 + INTERVAL 7 DAY
), counts AS (
  SELECT 1 AS step, count(*) AS n FROM s1
  UNION ALL SELECT 2, count(*) FROM s2
  UNION ALL SELECT 3, count(*) FROM s3
)
SELECT step, n::BIGINT AS n_users,
       round(n / first_value(n) OVER (ORDER BY step), 6) AS pct_of_top,
       round(n / lag(n) OVER (ORDER BY step), 6) AS step_conversion
FROM counts
"""


def events_error_bursts(spark, sf_dir):
    """Sequence detection (MATCH_RECOGNIZE-shaped): runs of ≥3 'error'
    events within a 6 h window per user (the window is sized to the
    test corpus's error density; the operator shape is
    threshold-independent).  LAG(ts, 2) over the per-user error
    stream flags every burst-completing event (a window over the
    FILTERED stream — the filter rides the scan, so the shuffle carries
    only error rows); per-user burst-event counts + the tightest
    3-event span.  One keyed shuffle."""
    ev = _t(spark, sf_dir, "events")
    errs = ev.filter(F.col("event_type") == "error").select(
        "user_id", "event_id", "ts", F.unix_micros("ts").alias("__us")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    span_us = F.col("__us") - F.lag("__us", 2).over(w)
    flagged = errs.withColumn("__span", span_us).filter(
        F.col("__span") <= 21_600_000_000
    )
    return flagged.groupBy("user_id").agg(
        F.count("*").alias("n_burst_events"),
        F.round(F.min("__span") / 1_000_000.0, 6).alias("tightest_span_s"),
    )


_ERROR_BURSTS_SQL = """
WITH errs AS (
  SELECT user_id, event_id, ts, epoch_us(ts) AS us
  FROM events WHERE event_type = 'error'
), flagged AS (
  SELECT user_id,
         us - lag(us, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS span
  FROM errs
)
SELECT user_id, count(*)::BIGINT AS n_burst_events,
       round(min(span) / 1000000.0::DOUBLE, 6) AS tightest_span_s
FROM flagged WHERE span <= 21600000000
GROUP BY user_id
"""


def docs_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement (the
    Efraimidis–Spirakis A-ES scheme): each doc draws u = md5-uniform in
    (0,1) and is ranked by u^(1/w) with w = ln(1+n_chars) — longer docs
    proportionally likelier, yet the draw is a pure function of doc_id,
    so the sample is reproducible across runs, partitionings, and
    engines (df.sample can promise none of that, and weighted reservoir
    state never shuffles: the top-k is a TakeOrdered over a map-only
    scan).  Top-500 selected."""
    docs = _t(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit("wsample|"),
                                          F.col("doc_id").cast("string"))), 1, 8),
               16, 10).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(1 << 32) + 2.0)
    w = F.log(F.lit(1.0) + F.col("n_chars").cast("double"))
    key = F.pow(u, F.lit(1.0) / w)
    return (
        docs.select("doc_id", "lang", "n_chars", F.round(key, 8).alias("draw_key"))
        .orderBy(F.desc("draw_key"), F.asc("doc_id"))
        .limit(500)
    )


_WEIGHTED_SAMPLE_SQL = """
WITH keyed AS (
  SELECT doc_id, lang, n_chars,
         round(pow((CAST('0x' || substr(md5('wsample|' || doc_id::VARCHAR), 1, 8)
                         AS BIGINT) + 1.0::DOUBLE) / 4294967298.0::DOUBLE,
                   1.0::DOUBLE / ln(1.0::DOUBLE + n_chars)), 8) AS draw_key
  FROM documents
)
SELECT doc_id, lang, n_chars, draw_key
FROM keyed ORDER BY draw_key DESC, doc_id LIMIT 500
"""


def graph_triangles(spark, sf_dir):
    """Triangle census of the supplier co-supply kNN graph
    (operators/triangles.py): per-part supplier pairs (bounded posting
    lists with a hot-part cap) → each supplier's 10 strongest partners →
    degree-ordered wedge-close triangle count + global clustering
    coefficient.  The kNN step keeps the graph sparse at every scale
    (the RAW co-supply graph is near-complete — its triangle count is
    the degenerate n³/6); the orientation bounds the wedge join at
    O(m^1.5).  Third iterative-adjacent graph op after connected
    components and PageRank."""
    from ..operators.triangles import cooccurrence_knn_edges, triangle_count

    li = _t(spark, sf_dir, "lineitem")
    edges = cooccurrence_knn_edges(
        li, "l_partkey", "l_suppkey", k=10, max_group_size=256
    )
    return triangle_count(edges)


_TRIANGLES_SQL = """
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
  SELECT n, count(*) AS d
  FROM (SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges)
  GROUP BY n
), o AS MATERIALIZED (
  SELECT CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.u < e.v)
              THEN e.u ELSE e.v END AS s,
         CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.u < e.v)
              THEN e.v ELSE e.u END AS t
  FROM edges e JOIN deg d1 ON e.u = d1.n JOIN deg d2 ON e.v = d2.n
), wedges AS (
  SELECT e1.t AS b, e2.t AS c FROM o e1 JOIN o e2 ON e1.s = e2.s AND e1.t < e2.t
), closing AS (
  SELECT s AS b, t AS c FROM o UNION ALL SELECT t AS b, s AS c FROM o
), tri AS (
  SELECT count(*) AS n_triangles FROM wedges JOIN closing USING (b, c)
), wd AS (
  SELECT sum(d * (d - 1) / 2) AS wedge_cnt FROM deg
)
SELECT (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
       (SELECT count(*) FROM edges)::BIGINT AS n_edges,
       n_triangles::BIGINT AS n_triangles,
       round(3.0::DOUBLE * n_triangles / wedge_cnt, 6) AS clustering_coefficient
FROM tri, wd
"""


def events_kmv_type_overlap(spark, sf_dir):
    """Pairwise distinct-user OVERLAP between event types from KMV
    sketches (the theta-sketch set-operation pattern): per-type k-min
    sketches (one agg), then for each type pair the union sketch is the
    k smallest of the merged hash sets and the Jaccard estimate is the
    fraction of the union sketch present in both inputs — |A∩B| ≈
    J·(|A|∪|B| estimate).  The pair stage joins SKETCHES (≤k hashes per
    type — 5 types here, broadcastable at any corpus size); raw rows are
    touched exactly once.  All md5 arithmetic → hash-exact oracle."""
    from ..operators.sketch import kmv_build, kmv_estimate

    k = 64
    ev = _t(spark, sf_dir, "events")
    sk = kmv_build(
        ev.select("event_type", "user_id").distinct(),
        "user_id",
        group_cols=["event_type"],
        k=k,
    )
    a = sk.select(F.col("event_type").alias("type_a"), F.col("kmv").alias("ka"))
    b = sk.select(F.col("event_type").alias("type_b"), F.col("kmv").alias("kb"))
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    union_sk = F.slice(
        F.array_sort(F.array_distinct(F.concat(F.col("ka"), F.col("kb")))), 1, k
    )
    both = F.size(
        F.array_intersect(
            F.array_intersect(F.col("__u"), F.col("ka")), F.col("kb")
        )
    )
    return (
        pairs.withColumn("__u", union_sk)
        .withColumn("__jacc", both / F.size("__u"))
        .select(
            "type_a",
            "type_b",
            F.round("__jacc", 4).alias("jaccard_est"),
            F.round(
                F.col("__jacc") * kmv_estimate(F.col("__u"), k=k), 1
            ).alias("overlap_users_est"),
        )
    )


_KMV_OVERLAP_SQL = """
WITH d AS (
  SELECT DISTINCT event_type, user_id FROM events
), hashed AS (
  SELECT event_type, substr(md5('kmv|' || user_id::VARCHAR), 1, 8) AS h FROM d
), sk AS (
  SELECT event_type, list_sort(list(DISTINCT h))[1:64] AS kmv
  FROM hashed GROUP BY 1
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, a.kmv AS ka, b.kmv AS kb
  FROM sk a JOIN sk b ON a.event_type < b.event_type
), m AS (
  SELECT type_a, type_b, ka, kb,
         list_sort(list_distinct(list_concat(ka, kb)))[1:64] AS u
  FROM pairs
), j AS (
  SELECT type_a, type_b, u,
         len(list_intersect(list_intersect(u, ka), kb))
           / len(u)::DOUBLE AS jacc
  FROM m
)
SELECT type_a, type_b, round(jacc, 4) AS jaccard_est,
       round(jacc * (CASE WHEN len(u) < 64 THEN len(u)::DOUBLE
                          ELSE round(63.0::DOUBLE /
                                     (CAST('0x' || u[64] AS BIGINT)
                                      / 4294967296.0::DOUBLE), 4)
                     END), 1) AS overlap_users_est
FROM j
"""


def docs_bm25_search(spark, sf_dir):
    """BM25 ranked retrieval ([EXT]): top-20 documents for a fixed
    4-term query — the IR scoring function behind lexical search over a
    training corpus (pairs with ``tfidf_topk``'s keyword extraction and
    the ANN tier's dense retrieval).

    Scale shape: doc length is ``size()`` of the map-side token array
    (no explode needed for |d|); the explode is FILTERED to the query
    terms before the per-doc aggregate, so the shuffle carries only
    query-term postings — corpus-size-independent per term; df/idf is a
    4-row broadcast; top-20 is TakeOrdered.  At 100 TB the only
    full-width pass is the scan itself.

    Cross-engine exactness: every BIGINT is cast to DOUBLE before
    meeting a literal (DECIMAL-trap rule), the per-doc score sum is an
    ordered left fold over the term-sorted (term, score) array on both
    engines, and ln() arguments are built with identical op order.
    k1 = 1.2, b = 0.75 (the standard Robertson defaults)."""
    docs = _t(spark, sf_dir, "documents")
    terms = ["filter", "hash", "join", "scan"]
    base = docs.select(
        "doc_id",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0).alias(
            "toks"
        ),
    ).select("doc_id", "toks", F.size("toks").alias("dl")).filter(F.col("dl") > 0)
    # two driver-side scalars (count + total length), same policy as
    # tfidf_topk's n_docs — a 1-row agg, fine at any scale
    st = base.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).collect()[0]
    n_docs = int(st["n_docs"])
    avgdl = st["sum_dl"] / n_docs  # exact-int binary64 division, both engines
    tf = (
        base.select("doc_id", "dl", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    denom = F.col("tf").cast("double") + F.lit(1.2) * (
        F.lit(0.25) + F.lit(0.75) * F.col("dl").cast("double") / F.lit(avgdl)
    )
    scored = tf.join(F.broadcast(dfreq), "term").withColumn(
        "s", idf * (F.col("tf").cast("double") * F.lit(2.2)) / denom
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("term", "s"))).alias("ts"),
        F.count("*").alias("n_terms"),
    )
    return (
        per_doc.select(
            "doc_id",
            F.col("n_terms").cast("long").alias("n_terms_matched"),
            F.round(
                F.expr("aggregate(ts, 0D, (acc, x) -> acc + x.s)"), 4
            ).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


_BM25_SQL = """
WITH base AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
), b2 AS (
  SELECT doc_id, toks, len(toks) AS dl FROM base WHERE len(toks) > 0
), stats AS (
  SELECT count(*) AS n_docs, sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM b2
), tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM b2)
  WHERE term IN ('filter', 'hash', 'join', 'scan')
  GROUP BY 1, 2, 3
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT doc_id, term,
         ln(1.0 + ((SELECT n_docs FROM stats)::DOUBLE - df::DOUBLE + 0.5)
                  / (df::DOUBLE + 0.5))
         * (tf::DOUBLE * 2.2)
         / (tf::DOUBLE + 1.2 * (0.25 + 0.75 * dl::DOUBLE
                                / (SELECT avgdl FROM stats))) AS s
  FROM tf JOIN dfreq USING (term)
), per_doc AS (
  SELECT doc_id, count(*)::BIGINT AS n_terms_matched,
         round(list_reduce(list_prepend(0.0::DOUBLE, list(s ORDER BY term)),
                           (acc, x) -> acc + x), 4) AS bm25
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_terms_matched, bm25
FROM per_doc ORDER BY bm25 DESC, doc_id LIMIT 20
"""


def dedup_prefix_filter(spark, sf_dir):
    """Prefix-filtered trigram-Jaccard near-dup pairs at t = 0.5
    (operators/dedup.prefix_filter_pairs — the AllPairs/PPJoin candidate
    strategy): posting lists built from each doc's RAREST
    ``|A| - ceil(t·|A|) + 1`` shingles only, then exact verification.
    Lossless, unlike the df cap — so the oracle is simply exact Jaccard;
    equality with ``jaccard_pairs`` is additionally pinned in tests.  At
    t = 0.5 candidate postings halve and concentrate on rare (short-
    list) shingles — the fan-out collapse that makes all-pairs
    similarity feasible at corpus scale."""
    from ..operators.dedup import prefix_filter_pairs

    docs = _t(spark, sf_dir, "documents")
    return prefix_filter_pairs(docs, "doc_id", "text", n=3, threshold=0.5)


_PREFIX_FILTER_SQL = """
WITH words AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents
), tri AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 3
), sizes AS (
  SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM tri a JOIN tri b USING (sh)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_common / (sa.n + sb.n - n_common), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(n_common / (sa.n + sb.n - n_common), 4) >= 0.5
"""


def graph_label_propagation(spark, sf_dir):
    """Community detection on the supplier co-supply kNN graph:
    4 rounds of deterministic synchronous label propagation
    (operators/labelprop.py — most-frequent neighbor label, min-label
    tie-break) over the same k-strongest-partner edges as
    ``graph_triangles``.  All-integer arithmetic, so the unrolled-CTE
    oracle is exact with no rounding at all.  Fourth iterative graph
    operator (CC, PageRank, triangles, LPA)."""
    from ..operators.labelprop import label_propagation
    from ..operators.triangles import cooccurrence_knn_edges

    li = _t(spark, sf_dir, "lineitem")
    edges = cooccurrence_knn_edges(
        li, "l_partkey", "l_suppkey", k=10, max_group_size=256
    )
    return label_propagation(edges, iters=4)


_LPA_ROUND = """
r{i} AS MATERIALIZED (
  SELECT node, lbl FROM (
    SELECT s.u AS node, r.lbl, count(*) AS c,
           row_number() OVER (PARTITION BY s.u
                              ORDER BY count(*) DESC, r.lbl) AS rn
    FROM sym s JOIN r{j} r ON s.v = r.node
    GROUP BY s.u, r.lbl
  ) WHERE rn = 1
)"""

_LPA_SQL = (
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
  ) WHERE r <= 10
), edges AS MATERIALIZED (
  SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM top
), sym AS MATERIALIZED (
  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
), r0 AS MATERIALIZED (
  SELECT DISTINCT u AS node, u AS lbl FROM sym
),"""
    + ",".join(_LPA_ROUND.format(i=i, j=i - 1) for i in range(1, 5))
    + """
SELECT node, lbl AS community FROM r4
"""
)


def events_incident_overlap(spark, sf_dir):
    """Interval × interval overlap join (operators/intervals.py): user
    sessions (30-min-gap islands) against error-incident hours (hours
    with ≥5 error events), reporting per-session incident exposure.
    All arithmetic in epoch-microsecond BIGINTs.  The Spark side runs
    the day-grid bucketed join; the oracle is the DIRECT range join —
    the gate itself proves the bucketing lossless (same proof pattern
    as the geo radius join's brute-force twin)."""
    from ..operators.intervals import interval_overlap_join

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us"), "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    brk = F.when(
        F.col("us") - F.lag("us").over(w) > F.lit(1_800_000_000), 1
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = (
        ev.withColumn("__brk", brk)
        .withColumn("__sid", F.sum("__brk").over(run))
        .groupBy("user_id", "__sid")
        .agg(F.min("us").alias("s_start"), F.max("us").alias("s_end"))
        .drop("__sid")
    )
    incidents = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.expr("us div 3600000000").alias("__h"))
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") >= 5)
        .select(
            (F.col("__h") * F.lit(3_600_000_000)).alias("w_start"),
            (F.col("__h") * F.lit(3_600_000_000) + F.lit(3_599_999_999)).alias(
                "w_end"
            ),
        )
    )
    ov = interval_overlap_join(
        sessions, incidents, "s_start", "s_end", "w_start", "w_end"
    )
    return ov.groupBy("user_id", F.col("s_start").alias("session_start_us")).agg(
        F.count("*").alias("n_incident_hours"),
        F.sum(
            F.least("s_end", "w_end") - F.greatest("s_start", "w_start") + F.lit(1)
        ).alias("overlap_us"),
    )


_INCIDENT_OVERLAP_SQL = """
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events
), s0 AS (
  SELECT user_id, event_id, us,
         CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                   > 1800000000 THEN 1 ELSE 0 END AS brk
  FROM ev
), s1 AS (
  SELECT user_id, us,
         sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM s0
), sessions AS (
  SELECT user_id, min(us) AS s_start, max(us) AS s_end
  FROM s1 GROUP BY user_id, sid
), inc AS (
  SELECT us // 3600000000 AS h FROM ev WHERE event_type = 'error'
  GROUP BY 1 HAVING count(*) >= 5
), win AS (
  SELECT h * 3600000000 AS w_start, h * 3600000000 + 3599999999 AS w_end FROM inc
), ov AS (
  SELECT user_id, s_start, s_end, w_start, w_end
  FROM sessions JOIN win ON s_start <= w_end AND w_start <= s_end
)
SELECT user_id, s_start AS session_start_us,
       count(*)::BIGINT AS n_incident_hours,
       sum(least(s_end, w_end) - greatest(s_start, w_start) + 1)::BIGINT AS overlap_us
FROM ov GROUP BY 1, 2
"""


def basket_association_rules(spark, sf_dir):
    """Market-basket association rules ([EXT]) at brand grain: each
    order's distinct part brands form a basket; emit every directed
    rule ant → cons with basket support ≥ max(2, n_baskets // 50) (2%),
    with confidence and lift.  Scale shape: the pair self-join fans out
    within a basket only, bounded by the ITEM-DOMAIN size (≤ brands²
    per order, not corpus²); item supports are a 25-row broadcast; the
    only corpus-sized shuffles are the basket distinct and the pair
    count — both keyed.  Integer-only thresholding (// 50) avoids the
    cross-engine 0.02·n DECIMAL trap documented in PERF.md."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    baskets = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("item"))
        .distinct()
    )
    nb = baskets.select("o").distinct().count()  # driver scalar, documented
    minsup = max(2, nb // 50)
    isup = baskets.groupBy("item").agg(F.count("*").alias("sup_i"))
    pairs = (
        baskets.alias("a")
        .join(baskets.alias("b"), "o")
        .filter(F.col("a.item") < F.col("b.item"))
        .groupBy(F.col("a.item").alias("x"), F.col("b.item").alias("y"))
        .agg(F.count("*").alias("sup_ab"))
        .filter(F.col("sup_ab") >= F.lit(minsup))
    )
    rules = pairs.select(
        F.col("x").alias("antecedent"), F.col("y").alias("consequent"), "sup_ab"
    ).unionByName(
        pairs.select(
            F.col("y").alias("antecedent"), F.col("x").alias("consequent"), "sup_ab"
        )
    )
    sa = isup.select(F.col("item").alias("antecedent"), F.col("sup_i").alias("sup_a"))
    sc = isup.select(F.col("item").alias("consequent"), F.col("sup_i").alias("sup_c"))
    conf = F.col("sup_ab").cast("double") / F.col("sup_a").cast("double")
    lift = conf / (F.col("sup_c").cast("double") / F.lit(float(nb)))
    return (
        rules.join(F.broadcast(sa), "antecedent")
        .join(F.broadcast(sc), "consequent")
        .select(
            "antecedent",
            "consequent",
            "sup_ab",
            F.round(conf, 4).alias("confidence"),
            F.round(lift, 4).alias("lift"),
        )
    )


_ASSOC_SQL = """
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS o, p_brand AS item
  FROM lineitem JOIN part ON l_partkey = p_partkey
), nb AS (
  SELECT count(DISTINCT o) AS n FROM baskets
), isup AS (
  SELECT item, count(*) AS sup_i FROM baskets GROUP BY item
), pairs AS (
  SELECT a.item AS x, b.item AS y, count(*) AS sup_ab
  FROM baskets a JOIN baskets b ON a.o = b.o AND a.item < b.item
  GROUP BY 1, 2
  HAVING count(*) >= greatest(2, (SELECT n // 50 FROM nb))
), rules AS (
  SELECT x AS antecedent, y AS consequent, sup_ab FROM pairs
  UNION ALL
  SELECT y AS antecedent, x AS consequent, sup_ab FROM pairs
)
SELECT antecedent, consequent, sup_ab,
       round(sup_ab::DOUBLE / sa.sup_i::DOUBLE, 4) AS confidence,
       round((sup_ab::DOUBLE / sa.sup_i::DOUBLE)
             / (sc.sup_i::DOUBLE / (SELECT n FROM nb)::DOUBLE), 4) AS lift
FROM rules
JOIN isup sa ON sa.item = antecedent
JOIN isup sc ON sc.item = consequent
"""


def graph_bfs_distance(spark, sf_dir):
    """Multi-source BFS hop distance ([EXT], fifth graph operator):
    distance ≤ 3 from the seed set (suppliers of nation 0) over the
    bipartite customer–supplier trade graph (customer c ↔ supplier s
    iff some order of c has a lineitem of s; node key = 2·custkey /
    2·suppkey+1).  Three synchronous relaxation rounds — dist_{k+1}(v)
    = min(dist_k(v), 1 + min over neighbors dist_k(u)) — each one
    edge-relation join + one min-aggregate on the node key, the same
    two-shuffles-per-round shape as PageRank; all-integer, so the
    unrolled-CTE oracle is exact.  Unreached nodes are absent (no
    sentinel infinities shuffled)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supplier = _t(spark, sf_dir, "supplier")
    ends = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = ends.select(F.col("c").alias("u"), F.col("s").alias("v")).union(
        ends.select(F.col("s").alias("u"), F.col("c").alias("v"))
    ).persist()
    seeds = supplier.filter(F.col("s_nationkey") == 0).select(
        (F.col("s_suppkey") * 2 + 1).alias("node")
    )
    dist = checkpoint(seeds.withColumn("dist", F.lit(0).cast("long")))
    for _ in range(3):
        dist = checkpoint(
            edges.join(dist.withColumnRenamed("node", "u"), "u")
            .select(F.col("v").alias("node"), (F.col("dist") + 1).alias("dist"))
            .unionByName(dist)
            .groupBy("node")
            .agg(F.min("dist").alias("dist")),
            supersedes=dist,
        )
    edges.unpersist()
    return dist


_BFS_ROUND = """
d{i} AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT e.v AS node, d.dist + 1 AS dist
    FROM edges e JOIN d{j} d ON e.u = d.node
    UNION ALL SELECT node, dist FROM d{j}
  ) GROUP BY node
)"""

_BFS_SQL = (
    """
WITH ends AS (
  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), edges AS (
  SELECT c AS u, s AS v FROM ends UNION ALL SELECT s AS u, c AS v FROM ends
), d0 AS (
  SELECT s_suppkey * 2 + 1 AS node, 0::BIGINT AS dist
  FROM supplier WHERE s_nationkey = 0
),"""
    + ",".join(_BFS_ROUND.format(i=i, j=i - 1) for i in range(1, 4))
    + """
SELECT node, dist FROM d3
"""
)


def events_user_growth(spark, sf_dir):
    """Daily audience growth curve: new users (first-touch) per day and
    the cumulative user count — the first chart on any growth
    dashboard.  First-touch is one keyed min-aggregate; the cumulative
    sum runs over the ~n_days-row DAILY relation (dim grain, not fact
    grain — the same reasoning as the retention matrix), so the
    ordered window is trivially safe at any corpus size."""
    ev = _t(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d"))
    daily = first.groupBy("d").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        F.col("d").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cumulative_users"),
    )


_USER_GROWTH_SQL = """
WITH first AS (
  SELECT user_id, min(ts::DATE) AS d FROM events GROUP BY user_id
), daily AS (
  SELECT d, count(*)::BIGINT AS new_users FROM first GROUP BY d
)
SELECT d AS day, new_users,
       sum(new_users) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)::BIGINT
         AS cumulative_users
FROM daily
"""


def dedup_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood near-dup pairs
    (operators/dedup.sorted_neighborhood_pairs): sort by a 32-char
    normalized text-prefix key via the DISTRIBUTED global row number
    (no single-partition window), compare each doc with its next 7
    neighbors in the total order, verify trigram Jaccard ≥ 0.05.
    Strictly linear candidate volume — the blocking strategy of choice
    when even posting lists skew (recall bounded by the window, a
    documented trade).  The oracle replicates the same windowed pairing
    with a row_number self-join."""
    from ..operators.dedup import sorted_neighborhood_pairs

    docs = _t(spark, sf_dir, "documents")
    return sorted_neighborhood_pairs(
        docs, "doc_id", "text", window=8, key_chars=32, n=3, threshold=0.05
    )


_SNM_SQL = """
WITH keyed AS (
  SELECT doc_id,
         substring(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), 1, 32)
           AS k
  FROM documents
), ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) AS r FROM keyed
), cand AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib
  FROM ranked a JOIN ranked b ON b.r - a.r BETWEEN 1 AND 7
), words AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents
), tri AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 3
), sets AS (
  SELECT doc_id, list(sh) AS shs, count(*) AS n FROM tri GROUP BY doc_id
), scored AS (
  SELECT ia, ib,
         len(list_intersect(sa.shs, sb.shs)) AS nc, sa.n AS na, sb.n AS nb
  FROM cand JOIN sets sa ON sa.doc_id = ia JOIN sets sb ON sb.doc_id = ib
)
SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b,
       round(nc / (na + nb - nc), 4) AS jaccard
FROM scored
WHERE round(nc / (na + nb - nc), 4) >= 0.05
"""


def orders_pareto_frontier(spark, sf_dir):
    """2-D Pareto frontier / skyline ([EXT]): the orders no other order
    dominates on (cheaper-or-equal price, same-or-later date, one
    strict).  The classic skyline operator, computed WITHOUT the
    quadratic dominance self-join: collapse to distinct (price, date)
    points, then one pass of ``global_running_max`` (exclusive) over
    the (price asc, date desc) total order — a point is dominated iff
    some strictly-preceding point in that order carries a date ≥ its
    own (preceding ⇒ cheaper, or equal-price-later — exactly the
    dominators).  Distributed range sort + per-partition windows, no
    single-partition Window, no O(n²) join; the gate oracle replays the
    same sweep in SQL and the NOT-EXISTS spec form is pinned in
    tests/test_pareto.py."""
    from ..operators.global_order import global_running_max

    orders = _t(spark, sf_dir, "orders")
    pts = orders.groupBy(
        F.col("o_totalprice").alias("price"),
        # o_orderdate is TIMESTAMP_NTZ in the parquet; the cast re-tags it
        # (session tz is UTC) so unix_micros matches DuckDB's epoch_us
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("date_us"),
    ).agg(
        F.count("*").alias("n_orders"), F.min("o_orderkey").alias("min_orderkey")
    )
    swept = global_running_max(
        pts,
        [F.asc("price"), F.desc("date_us")],
        "date_us",
        out_col="__dmax",
        exclusive=True,
    )
    return swept.filter(
        F.col("__dmax").isNull() | (F.col("__dmax") < F.col("date_us"))
    ).select("price", "date_us", "n_orders", "min_orderkey")


_PARETO_SQL = """
WITH pts AS (
  SELECT o_totalprice AS price, epoch_us(o_orderdate) AS date_us,
         count(*)::BIGINT AS n_orders, min(o_orderkey) AS min_orderkey
  FROM orders GROUP BY 1, 2
), s AS (
  SELECT *, max(date_us) OVER (ORDER BY price ASC, date_us DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS dmax
  FROM pts
)
SELECT price, date_us, n_orders, min_orderkey
FROM s WHERE dmax IS NULL OR dmax < date_us
"""


def events_cusum_changepoints(spark, sf_dir):
    """CUSUM change-point detection on daily event volume ([EXT]) — the
    drift monitor a production ingest pipeline runs on its own intake.
    Two-sided CUSUM with slack k = mean/20 and threshold h = mean/2,
    computed via the closed form  C_i = S_i − min(0, min_{j≤i} S_j)
    (cumulative sum + running min — two day-grain windows, NO recursive
    fold).  All window arithmetic runs on INTEGER numerators scaled by
    20·n_days (delta ≡ (20·n·cnt − 21·total) / (20n)), so the cumsum is
    associativity-exact across engines and partition splits; the one
    double division per row happens at the contract boundary.  Windows
    run at DAY grain — corpus-size-independent, the documented safe
    shape."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("cnt")
    )
    tot = daily.agg(
        F.sum("cnt").alias("__total"), F.count("*").alias("__nd")
    )
    d = daily.crossJoin(F.broadcast(tot))
    # integer numerators: pos delta = 20n·cnt − 21·total ; neg = 19·total − 20n·cnt
    d = d.withColumn(
        "__dp", F.lit(20) * F.col("__nd") * F.col("cnt") - F.lit(21) * F.col("__total")
    ).withColumn(
        "__dn", F.lit(19) * F.col("__total") - F.lit(20) * F.col("__nd") * F.col("cnt")
    )
    cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d = (
        d.withColumn("__sp", F.sum("__dp").over(cum))
        .withColumn("__sn", F.sum("__dn").over(cum))
        .withColumn("__mp", F.least(F.lit(0).cast("long"), F.min("__sp").over(cum)))
        .withColumn("__mn", F.least(F.lit(0).cast("long"), F.min("__sn").over(cum)))
    )
    scale = F.lit(20.0) * F.col("__nd").cast("double")
    return d.select(
        "day",
        "cnt",
        F.round((F.col("__sp") - F.col("__mp")) / scale, 4).alias("cusum_pos"),
        F.round((F.col("__sn") - F.col("__mn")) / scale, 4).alias("cusum_neg"),
        (
            ((F.col("__sp") - F.col("__mp")) > F.lit(10) * F.col("__total"))
            | ((F.col("__sn") - F.col("__mn")) > F.lit(10) * F.col("__total"))
        ).alias("drift_flag"),
    )


_CUSUM_SQL = """
WITH daily AS (
  SELECT ts::DATE AS day, count(*) AS cnt FROM events GROUP BY 1
), tot AS (
  SELECT sum(cnt) AS total, count(*) AS nd FROM daily
), d AS (
  SELECT day, cnt,
         20 * nd * cnt - 21 * total AS dp,
         19 * total - 20 * nd * cnt AS dn,
         total, nd
  FROM daily CROSS JOIN tot
), c AS (
  SELECT day, cnt, total, nd,
         sum(dp) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS sp,
         sum(dn) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS sn
  FROM d
), m AS (
  SELECT day, cnt, total, nd, sp, sn,
         least(0, min(sp) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)) AS mp,
         least(0, min(sn) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)) AS mn
  FROM c
)
SELECT day, cnt::BIGINT AS cnt,
       round((sp - mp)::DOUBLE / ((20.0 * nd)::DOUBLE), 4) AS cusum_pos,
       round((sn - mn)::DOUBLE / ((20.0 * nd)::DOUBLE), 4) AS cusum_neg,
       ((sp - mp) > 10 * total OR (sn - mn) > 10 * total) AS drift_flag
FROM m
"""


def events_pattern_match(spark, sf_dir):
    """Sequence-pattern mining over per-user event streams ([EXT], the
    MATCH_RECOGNIZE shape generalized): encode each user's time-ordered
    events as an initial-letter string (c/e/p/s/v) and count
    non-overlapping matches of the regex  v+c+p  (≥1 view, ≥1 click,
    then a purchase) — the "browse-engage-buy" motif.  One keyed
    aggregate builds the sequence (ordered collect at user grain, the
    sessionize shape); the regex scan is map-side JVM.  Users whose
    stream never matches are dropped (no sentinel rows shuffled)."""
    ev = _t(spark, sf_dir, "events")
    seq = (
        ev.select(
            "user_id",
            F.unix_micros("ts").alias("us"),
            "event_id",
            F.substring("event_type", 1, 1).alias("ch"),
        )
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.expr(
                    "transform(array_sort(collect_list(struct(us, event_id, ch))),"
                    " x -> x.ch)"
                ),
            ).alias("s"),
            F.count("*").alias("n_events"),
        )
    )
    n_matches = F.size(F.expr("regexp_extract_all(s, 'v+c+p', 0)"))
    return (
        seq.withColumn("n_conversion_motifs", n_matches.cast("long"))
        .filter(F.col("n_conversion_motifs") > 0)
        .select("user_id", "n_events", "n_conversion_motifs")
    )


_PATTERN_SQL = """
WITH seq AS (
  SELECT user_id,
         string_agg(substring(event_type, 1, 1), ''
                    ORDER BY epoch_us(ts), event_id) AS s,
         count(*)::BIGINT AS n_events
  FROM events GROUP BY user_id
)
SELECT user_id, n_events,
       len(regexp_extract_all(s, 'v+c+p'))::BIGINT AS n_conversion_motifs
FROM seq
WHERE len(regexp_extract_all(s, 'v+c+p')) > 0
"""


def graph_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank (random walk with restart) from the
    nation-0 suppliers over the symmetrized customer–supplier trade
    graph (operators/pagerank.personalized_pagerank): 3 damped rounds,
    top-100 — "which customers/suppliers are closest to this cohort",
    the recommendation-expansion shape.  Sixth graph operator; same
    unrolled-CTE oracle exactness as graph_pagerank (rounded fixpoint,
    ::DOUBLE literals)."""
    from ..operators.pagerank import personalized_pagerank

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    e0 = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    edges = e0.union(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    seeds = supplier.filter(F.col("s_nationkey") == 0).select(
        F.concat(F.lit("s"), F.col("s_suppkey")).alias("node")
    )
    pr = personalized_pagerank(edges, seeds, iters=3, damping=0.85, round_dp=9)
    return pr.orderBy(F.desc("rank"), F.asc("node")).limit(100)


def _ppr_sql(iters: int = 3, dp: int = 9, top: int = 100) -> str:
    parts = [
        f"""WITH e0 AS (
  SELECT DISTINCT 'c' || o.o_custkey AS src, 's' || l.l_suppkey AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
), sd AS (
  SELECT DISTINCT 's' || s_suppkey AS node FROM supplier WHERE s_nationkey = 0
), nodes AS (
  SELECT node, CASE WHEN node IN (SELECT node FROM sd) THEN 1 ELSE 0 END AS seed
  FROM (SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges))
), deg AS (
  SELECT src, count(*) AS d FROM edges GROUP BY src
), ns AS (
  SELECT sum(seed)::DOUBLE AS n FROM nodes
), r0 AS (
  SELECT node, CASE WHEN seed = 1 THEN round(1.0 / ns.n, {dp})
                    ELSE 0.0::DOUBLE END AS rank
  FROM nodes, ns
)"""
    ]
    prev = "r0"
    for t in range(1, iters + 1):
        parts.append(
            f""", r{t} AS (
  SELECT nd.node,
         round(CASE WHEN any_value(nd.seed) = 1
                    THEN (1.0 - 0.85::DOUBLE) * (1.0 / any_value(ns.n))
                    ELSE 0.0::DOUBLE END
               + 0.85::DOUBLE * coalesce(sum(r.rank / deg.d), 0.0), {dp}) AS rank
  FROM nodes nd
  LEFT JOIN edges e ON e.dst = nd.node
  LEFT JOIN {prev} r ON e.src = r.node
  LEFT JOIN deg ON deg.src = e.src
  CROSS JOIN ns
  GROUP BY nd.node
)"""
        )
        prev = f"r{t}"
    parts.append(
        f"""
SELECT node, rank FROM {prev} ORDER BY rank DESC, node LIMIT {top}"""
    )
    return "".join(parts)


def docs_classifier_auc(spark, sf_dir):
    """Distributed AUC of the quality-classifier score ([EXT]) — the
    eval metric every model-gated corpus pipeline needs, computed as the
    exact Mann-Whitney rank statistic WITHOUT collecting scores:

        AUC = (2·Σ_pos avgrank − n_pos·(n_pos+1)) / (2·n_pos·n_neg)

    Ranks come from ``global_row_number`` over (score, doc_id) — the
    distributed two-pass scheme, no single-partition window; ties get
    the standard average rank via per-score (min+max) — and the whole
    statistic stays INTEGER until one final division, so it is
    associativity-exact across engines and partition splits (labels:
    even/odd source id, a deterministic synthetic ground truth)."""
    from ..operators.classifier import score_documents
    from ..operators.global_order import global_row_number

    docs = _t(spark, sf_dir, "documents")
    scored = score_documents(docs, "text", "doc_id", dim=4096).select(
        "doc_id", "score"
    )
    lab = docs.select(
        "doc_id",
        (F.substring("source", 4, 10).cast("int") % 2 == 0)
        .cast("long")
        .alias("label"),
    )
    j = scored.join(lab, "doc_id")
    ranked, _n = global_row_number(j, [F.asc("score"), F.asc("doc_id")], "__r")
    g = ranked.groupBy("score").agg(
        F.min("__r").alias("__mn"),
        F.max("__r").alias("__mx"),
        F.sum("label").alias("__npos_g"),
    )
    agg = g.agg(
        F.sum(F.col("__npos_g") * (F.col("__mn") + F.col("__mx"))).alias("__rs2")
    )
    tot = ranked.agg(
        F.count("*").alias("n_docs"),
        F.sum("label").alias("n_pos"),
        (F.count("*") - F.sum("label")).alias("n_neg"),
    )
    return tot.crossJoin(F.broadcast(agg)).select(
        "n_docs",
        "n_pos",
        "n_neg",
        F.round(
            (
                F.col("__rs2") - F.col("n_pos") * (F.col("n_pos") + F.lit(1))
            ).cast("double")
            / (F.lit(2) * F.col("n_pos") * F.col("n_neg")).cast("double"),
            6,
        ).alias("auc"),
    )


_AUC_SQL = f"""{_XXH_PRELUDE}
WITH {_cls_wts()},
folded AS (
  SELECT doc_id,
         round(list_reduce(list_prepend(0.0::DOUBLE, wv), (a, b) -> a + b)
               / len(wv), 6)
           AS score
  FROM wts
), lab AS (
  SELECT doc_id,
         CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0 THEN 1 ELSE 0 END
           AS label
  FROM documents
), j AS (
  SELECT f.doc_id, f.score, l.label FROM folded f JOIN lab l USING (doc_id)
), r AS (
  SELECT *, row_number() OVER (ORDER BY score, doc_id) AS rk FROM j
), g AS (
  SELECT score, min(rk) AS mn, max(rk) AS mx, sum(label) AS npos_g
  FROM r GROUP BY score
), s2 AS (
  SELECT sum(npos_g * (mn + mx)) AS rs2 FROM g
), tot AS (
  SELECT count(*) AS n_docs, sum(label) AS np, count(*) - sum(label) AS nn FROM j
)
SELECT n_docs::BIGINT AS n_docs, np::BIGINT AS n_pos, nn::BIGINT AS n_neg,
       round((rs2 - np * (np + 1))::DOUBLE / ((2 * np * nn)::DOUBLE), 6) AS auc
FROM tot, s2
"""


def events_seasonal_decompose(spark, sf_dir):
    """Additive seasonal decomposition of daily event volume ([EXT],
    STL-lite): trend = 7-day centered moving average (ROWS −3..+3, edge
    windows use their actual row count), seasonal = per-day-of-week mean
    of the detrended series, residual = value − trend − seasonal.  All
    windows/aggregates run at DAY grain.  Cross-engine exactness: trend
    is one exact integer division (sum/count of integer counts); the
    per-DOW mean folds over the day-ordered detrended list on both
    engines (the ordered-fold recipe), so every emitted double is
    bit-identical before rounding."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("cnt")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    d = daily.withColumn(
        "__trend", F.sum("cnt").over(w7) / F.count("cnt").over(w7)
    ).withColumn("__det", F.col("cnt") - F.col("__trend"))
    dow = d.withColumn("__dow", F.dayofweek("day"))
    seas = dow.groupBy("__dow").agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(day, __det))),"
            " x -> x.__det), 0D, (acc, v) -> acc + v)"
        ).alias("__s"),
        F.count("*").alias("__n"),
    ).select("__dow", (F.col("__s") / F.col("__n")).alias("__seasonal"))
    return (
        dow.join(F.broadcast(seas), "__dow")
        .select(
            "day",
            "cnt",
            F.round("__trend", 4).alias("trend"),
            F.round("__seasonal", 4).alias("seasonal"),
            F.round(
                F.col("__det") - F.col("__seasonal"), 4
            ).alias("residual"),
        )
    )


_SEASONAL_SQL = """
WITH daily AS (
  SELECT ts::DATE AS day, count(*) AS cnt FROM events GROUP BY 1
), t AS (
  SELECT day, cnt,
         sum(cnt) OVER w / count(cnt) OVER w AS trend
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), d AS (
  SELECT day, cnt, trend, cnt - trend AS det,
         dayofweek(day) + 1 AS dow
  FROM t
), seas AS (
  SELECT dow,
         list_reduce(list_prepend(0.0::DOUBLE, list(det ORDER BY day)),
                     (a, b) -> a + b) / count(*) AS seasonal
  FROM d GROUP BY dow
)
SELECT day, cnt::BIGINT AS cnt, round(trend, 4) AS trend,
       round(seasonal, 4) AS seasonal,
       round(det - seasonal, 4) AS residual
FROM d JOIN seas USING (dow)
"""


def embedding_pq_codes(spark, sf_dir):
    """Product quantization ([EXT]) — the industry-standard compressed
    ANN representation (IVF-PQ's second half; complements the scalar
    int8 path in operators/quantize.py): split each 64-d embedding into
    two 32-d subspaces, learn a deterministic k=4 Lloyd codebook PER
    SUBSPACE (operators/clustering.py — id-seeded init, 2 iterations,
    rounded updates, the oracle-checkable KMeans), and report the code
    co-occurrence histogram (≤ k² rows).  A 64-d float vector compresses
    to 2 sub-byte codes; at 100 TB the codebooks are driver-scalar-sized
    and training/assignment are the same map-only passes the
    `embedding_clusters` plan pins."""
    from ..operators.clustering import lloyd_kmeans_assign, seeded_id_init

    emb = _t(spark, sf_dir, "embeddings")
    halves = emb.select(
        "vec_id",
        F.expr("slice(embedding, 1, 32)").alias("h0"),
        F.expr("slice(embedding, 33, 32)").alias("h1"),
    )
    a = halves
    out = None
    for s, col in ((0, "h0"), (1, "h1")):
        init = seeded_id_init(a, "vec_id", col, 4)
        assigned = lloyd_kmeans_assign(
            a, "vec_id", col, init, iters=2, round_dp=6
        ).withColumnRenamed("cluster", f"code{s}")
        out = assigned if out is None else out.join(assigned, "vec_id")
    return out.groupBy("code0", "code1").agg(F.count("*").alias("n_vectors"))


def _pq_assign_sql(s, prev: str, dp: int) -> str:
    """Rounded-sq-distance argmin assignment of subspace ``s`` vectors to
    the ``prev`` centroid CTE (row_number with tie-break on cluster id) —
    the shared kernel of the PQ training/encode oracles."""
    return (
        f"SELECT v{s}.vec_id, v{s}.e, {prev}.cl,"
        f" row_number() OVER (PARTITION BY v{s}.vec_id ORDER BY"
        f" round(list_dot_product(v{s}.e, v{s}.e)"
        f" + list_dot_product({prev}.c, {prev}.c)"
        f" - 2 * list_dot_product(v{s}.e, {prev}.c), {dp}), {prev}.cl) AS rn"
        f" FROM v{s}, {prev}"
    )


def _pq_sub_ctes(
    s: int,
    lo: int,
    hi: int,
    k: int,
    iters: int,
    dp: int,
    slice_expr: str | None = None,
    src: str = "embeddings",
) -> list[str]:
    """Unrolled Lloyd chain for one PQ subspace: sliced vectors v{s},
    id-seeded init c{s}0, ``iters`` assign/update rounds, and the final
    assignment f{s}.  The last centroid CTE is c{s}{iters}.
    ``slice_expr``/``src`` let the ADC oracle slice NORMALIZED vectors
    from a prepended unit-vector CTE instead of raw embeddings."""
    sl = slice_expr or f"embedding[{lo}:{hi}]::DOUBLE[]"
    ctes = [
        f"v{s} AS (SELECT vec_id, {sl} AS e FROM {src})",
        f"""c{s}0 AS (
  SELECT rn - 1 AS cl, e AS c FROM (
    SELECT e, row_number() OVER (ORDER BY vec_id) AS rn FROM v{s})
  WHERE rn <= {k})""",
    ]
    prev = f"c{s}0"
    for t in range(1, iters + 1):
        ctes.append(
            f"a{s}{t} AS (\n  SELECT vec_id, e, cl FROM ({_pq_assign_sql(s, prev, dp)})"
            f" WHERE rn = 1)"
        )
        ctes.append(
            f"""c{s}{t} AS (
  SELECT cl, list(m ORDER BY pos) AS c FROM (
    SELECT cl, pos, round(avg(val), {dp}) AS m FROM (
      SELECT cl, unnest(e) AS val, generate_subscripts(e, 1) AS pos
      FROM a{s}{t})
    GROUP BY cl, pos)
  GROUP BY cl)"""
        )
        prev = f"c{s}{t}"
    ctes.append(
        f"f{s} AS (\n  SELECT vec_id, cl FROM ({_pq_assign_sql(s, prev, dp)})"
        f" WHERE rn = 1)"
    )
    return ctes


def _pq_sql(k: int = 4, iters: int = 2, dp: int = 6) -> str:
    """Two unrolled Lloyd chains (one per subspace) — the `_lloyd_sql`
    recipe from contract.py applied to sliced vectors with id-seeded
    init, joined into the code histogram."""
    return (
        "WITH "
        + ",\n".join(
            _pq_sub_ctes(0, 1, 32, k, iters, dp) + _pq_sub_ctes(1, 33, 64, k, iters, dp)
        )
        + """
SELECT f0.cl AS code0, f1.cl AS code1, count(*)::BIGINT AS n_vectors
FROM f0 JOIN f1 USING (vec_id) GROUP BY 1, 2"""
    )


def graph_weighted_sssp(spark, sf_dir):
    """Weighted single-source shortest paths ([EXT]): Bellman-Ford over
    the customer–supplier trade graph with INTEGER edge weights
    w = 10 − min(9, #distinct orders linking the pair) — stronger trade
    ties are "shorter", so the frontier prefers heavily-traded links
    (the weighted counterpart of `graph_bfs_distance`; node key =
    2·custkey / 2·suppkey+1, seeds = suppliers of nation 0).  Three
    synchronous relaxation rounds, each ONE edge join + ONE min-agg on
    the node key (two shuffles/round, lineage bounded by
    ``cache.checkpoint``, each round superseding the last).  All-integer
    arithmetic → the unrolled-CTE DuckDB twin is hash-exact."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supplier = _t(spark, sf_dir, "supplier")
    ends = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .agg(F.count_distinct("o_orderkey").alias("n_orders"))
        .withColumn("w", (F.lit(10) - F.least(F.lit(9), F.col("n_orders"))).cast("long"))
    )
    edges = (
        ends.select(F.col("c").alias("u"), F.col("s").alias("v"), "w")
        .union(ends.select(F.col("s").alias("u"), F.col("c").alias("v"), "w"))
        .persist()
    )
    seeds = supplier.filter(F.col("s_nationkey") == 0).select(
        (F.col("s_suppkey") * 2 + 1).alias("node")
    )
    dist = checkpoint(seeds.withColumn("dist", F.lit(0).cast("long")))
    for _ in range(3):
        dist = checkpoint(
            edges.join(dist.withColumnRenamed("node", "u"), "u")
            .select(F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
            .unionByName(dist)
            .groupBy("node")
            .agg(F.min("dist").alias("dist")),
            supersedes=dist,
        )
    edges.unpersist()
    return dist


_SSSP_ROUND = """
d{i} AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT e.v AS node, d.dist + e.w AS dist
    FROM edges e JOIN d{j} d ON e.u = d.node
    UNION ALL SELECT node, dist FROM d{j}
  ) GROUP BY node
)"""

_SSSP_SQL = (
    """
WITH ends AS (
  SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s,
         (10 - least(9, count(DISTINCT o_orderkey)))::BIGINT AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
), edges AS (
  SELECT c AS u, s AS v, w FROM ends UNION ALL SELECT s AS u, c AS v, w FROM ends
), d0 AS (
  SELECT s_suppkey * 2 + 1 AS node, 0::BIGINT AS dist
  FROM supplier WHERE s_nationkey = 0
),"""
    + ",".join(_SSSP_ROUND.format(i=i, j=i - 1) for i in range(1, 4))
    + """
SELECT node, dist FROM d3
"""
)


def graph_hits(spark, sf_dir):
    """HITS hubs & authorities ([EXT], seventh graph operator): two
    mutual-reinforcement rounds over the DIRECTED customer→supplier
    trade graph (customers are hubs, suppliers authorities).  The
    UNNORMALIZED integer form — a_i(v) = Σ h_{i−1}(u) over in-edges,
    h_i(u) = Σ a_i(v) over out-edges, h₀ = 1 — keeps every score a
    BIGINT so the unrolled twin is hash-exact with zero float traps
    (scores grow ~degree² per round; the 100 TB variant normalizes by
    the round's max — an order-independent scalar — to stay bounded,
    documented not implemented as it changes nothing structural).
    Each half-round is one edge join + one sum-agg on the node key —
    the same two-shuffle shape as PageRank/BFS/SSSP."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_suppkey").alias("v"))
        .distinct()
        .persist()
    )
    hubs = edges.select("u").distinct().withColumn("h", F.lit(1).cast("long"))
    for _ in range(2):
        auth = (
            edges.join(hubs, "u")
            .groupBy("v")
            .agg(F.sum("h").alias("a"))
        )
        hubs = (
            edges.join(auth, "v")
            .groupBy("u")
            .agg(F.sum("a").alias("h"))
        )
    out = hubs.select(
        F.col("u").alias("node"), F.lit("hub").alias("kind"), F.col("h").alias("score")
    ).unionByName(
        auth.select(
            F.col("v").alias("node"), F.lit("auth").alias("kind"), F.col("a").alias("score")
        )
    )
    edges.unpersist()
    return out


_HITS_SQL = """
WITH edges AS (
  SELECT DISTINCT o_custkey AS u, l_suppkey AS v
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), h0 AS (
  SELECT DISTINCT u, 1::BIGINT AS h FROM edges
), a1 AS (
  SELECT v, sum(h)::BIGINT AS a FROM edges JOIN h0 USING (u) GROUP BY v
), h1 AS (
  SELECT u, sum(a)::BIGINT AS h FROM edges JOIN a1 USING (v) GROUP BY u
), a2 AS (
  SELECT v, sum(h)::BIGINT AS a FROM edges JOIN h1 USING (u) GROUP BY v
), h2 AS (
  SELECT u, sum(a)::BIGINT AS h FROM edges JOIN a2 USING (v) GROUP BY u
)
SELECT u AS node, 'hub' AS kind, h AS score FROM h2
UNION ALL
SELECT v AS node, 'auth' AS kind, a AS score FROM a2
"""


def events_value_winsorized(spark, sf_dir, approx: bool = False):
    """Winsorized robust stats per event type ([EXT]): clip `value` at
    the p05/p95 cuts, then report the clipped mean and the clip counts
    — the standard tail-taming step before training on noisy metrics.
    Two passes: one percentile agg (5 rows, broadcast back) + one
    partial+final agg over the clipped scan.

    ``approx=False`` (the oracled contract) computes exact
    interpolated percentiles — ``percentile`` buffers each group's
    values, fine at dimension grain, wrong at 100 TB fact grain.
    ``approx=True`` is the scale path, AS CODE (VERDICT r6 ask #4c):
    ``percentile_approx`` (Greenwald-Khanna sketch, accuracy 10⁴ —
    bounded state per group, mergeable partials, same two-pass plan
    shape).  The sketch is engine-specific so the approx path carries
    no DuckDB oracle; tests/test_ext_ops.py bounds its cuts against
    the exact ones by GK's rank-error guarantee instead."""
    ev = _t(spark, sf_dir, "events")
    if approx:
        cuts = ev.groupBy("event_type").agg(
            F.percentile_approx("value", 0.05, 10_000).alias("lo"),
            F.percentile_approx("value", 0.95, 10_000).alias("hi"),
        )
    else:
        cuts = ev.groupBy("event_type").agg(
            F.expr("percentile(value, 0.05)").alias("lo"),
            F.expr("percentile(value, 0.95)").alias("hi"),
        )
    clipped = ev.join(F.broadcast(cuts), "event_type").withColumn(
        "wv", F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    )
    return (
        clipped.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.any_value("lo").alias("__lo"),
            F.any_value("hi").alias("__hi"),
            F.avg("wv").alias("__mean"),
            F.sum((F.col("value") < F.col("lo")).cast("long")).alias("n_clipped_low"),
            F.sum((F.col("value") > F.col("hi")).cast("long")).alias("n_clipped_high"),
        )
        .select(
            "event_type",
            "n_events",
            F.round(F.col("__lo"), 6).alias("p05"),
            F.round(F.col("__hi"), 6).alias("p95"),
            F.round(F.col("__mean"), 4).alias("winsorized_mean"),
            "n_clipped_low",
            "n_clipped_high",
        )
    )


_WINSORIZED_SQL = """
WITH cuts AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       count(*)::BIGINT                                     AS n_events,
       round(any_value(lo), 6)                              AS p05,
       round(any_value(hi), 6)                              AS p95,
       round(avg(least(greatest(e.value, c.lo), c.hi)), 4)  AS winsorized_mean,
       sum(CASE WHEN e.value < c.lo THEN 1 ELSE 0 END)::BIGINT AS n_clipped_low,
       sum(CASE WHEN e.value > c.hi THEN 1 ELSE 0 END)::BIGINT AS n_clipped_high
FROM events e JOIN cuts c USING (event_type)
GROUP BY e.event_type
"""


def ann_pq_adc_topk(spark, sf_dir):
    """PQ-compressed ANN via asymmetric distance computation ([EXT],
    fourth ANN variant — the memory-bound 100 TB path where the index
    holds CODES, not vectors): train the `embedding_pq_codes` codebooks,
    screen with per-query ADC lookup tables over the code columns only,
    exact-cosine refine the survivors.  Deterministic end to end, so the
    DuckDB twin (same Lloyd chains, same rounded lookup arithmetic, same
    tie-breaks) is hash-exact; recall vs brute force is pinned in
    tests/test_similarity.py."""
    from ..operators.similarity import pq_adc_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = pq_adc_topk(emb, queries, k=5)
    return out.select(
        "query_id",
        "neighbor_id",
        "cosine",
        F.col("knn_rank").cast("long").alias("knn_rank"),
    )


def _pq_adc_sql(
    k_codes: int = 16,
    iters: int = 2,
    dp: int = 6,
    n_cand: int = 100,
    topk: int = 5,
    n_sub: int = 4,
    dim: int = 64,
) -> str:
    """Replay `ann_pq_adc_topk`: L2-normalize, the ``n_sub``
    `_pq_sub_ctes` Lloyd chains over sliced UNIT vectors, per-query ADC
    distance tables against the FINAL centroids (c{s}{iters}), rounded
    table-sum screen with (adc, id) tie-break, exact-cosine refine."""
    sub_dim = dim // n_sub
    chains: list[str] = []
    for s in range(n_sub):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        chains += _pq_sub_ctes(
            s, lo, hi, k_codes, iters, dp,
            slice_expr=f"eu[{lo}:{hi}]", src="un",
        )
    parts = [
        """WITH un AS (
  SELECT vec_id,
         CASE WHEN list_dot_product(e, e) > 0
              THEN [x / sqrt(list_dot_product(e, e)) FOR x IN e]
              ELSE e END AS eu
  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
),
"""
        + ",\n".join(chains)
    ]
    for s in range(n_sub):
        parts.append(
            f""",
dt{s} AS (
  SELECT q.vec_id AS query_id, c.cl AS code,
         round(list_dot_product(q.e, q.e) + list_dot_product(c.c, c.c)
               - 2 * list_dot_product(q.e, c.c), {dp}) AS d
  FROM v{s} q, c{s}{iters} c WHERE q.vec_id < 10
)"""
        )
    code_joins = "\n    ".join(
        f"JOIN f{s} ON f{s}.vec_id = f0.vec_id" for s in range(1, n_sub)
    )
    dt_joins = "\n    ".join(
        f"JOIN dt{s} ON dt{s}.code = f{s}.cl AND dt{s}.query_id = dt0.query_id"
        for s in range(1, n_sub)
    )
    adc_sum = " + ".join(f"dt{s}.d" for s in range(n_sub))
    parts.append(
        f""",
cand AS (
  SELECT query_id, nid FROM (
    SELECT dt0.query_id, f0.vec_id AS nid,
           row_number() OVER (PARTITION BY dt0.query_id
                              ORDER BY round({adc_sum}, {dp}), f0.vec_id) AS rn
    FROM f0
    {code_joins}
    JOIN dt0 ON dt0.code = f0.cl
    {dt_joins}
    WHERE dt0.query_id <> f0.vec_id)
  WHERE rn <= {n_cand}
), vv AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), s AS (
  SELECT cand.query_id, cand.nid,
         round(list_dot_product(qv.e, nv.e) /
               (sqrt(list_dot_product(qv.e, qv.e)) * sqrt(list_dot_product(nv.e, nv.e))),
               4) AS cosine
  FROM cand JOIN vv qv ON qv.vec_id = cand.query_id
            JOIN vv nv ON nv.vec_id = cand.nid
), r AS (
  SELECT query_id, nid AS neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nid) AS knn_rank
  FROM s
)
SELECT query_id, neighbor_id, cosine, knn_rank::BIGINT AS knn_rank
FROM r WHERE knn_rank <= {topk}"""
    )
    return "".join(parts)


def ann_mmr_topk(spark, sf_dir):
    """Maximal-marginal-relevance diversified retrieval ([EXT], the
    re-ranking stage of a retrieval stack): greedy λ·relevance −
    (1−λ)·max-sim-to-selected over a 20-candidate pool per query
    (operators/similarity.py:mmr_topk).  The greedy loop is sequential
    in k but bounded in data — corpus-scale work is only the relevance
    pool.  Unrolled 5-step DuckDB twin; hash-exact."""
    from ..operators.similarity import mmr_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return mmr_topk(emb, queries, k=5, pool=20)


def _mmr_sql(k: int = 5, pool: int = 20, lam: float = 0.7) -> str:
    """Replay mmr_topk: rounded(4) cosine pool + pairwise sims, then k−1
    unrolled greedy steps.  The (1−λ) literal is embedded as the repr of
    Python's ``1.0 − lam`` so both engines multiply by the SAME binary64
    (1.0−0.7 is 0.30000000000000004, NOT 0.3)."""
    cos = (
        "round(list_dot_product({a}.e, {b}.e) / "
        "(sqrt(list_dot_product({a}.e, {a}.e)) * "
        "sqrt(list_dot_product({b}.e, {b}.e))), 4)"
    )
    parts = [
        f"""WITH vv AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
relall AS (
  SELECT q.vec_id AS query_id, c.vec_id AS nid, {cos.format(a='q', b='c')} AS rel
  FROM vv q JOIN vv c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 10
),
pool AS (
  SELECT query_id, nid, rel FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, nid) AS rn
    FROM relall) WHERE rn <= {pool}
),
pair AS (
  SELECT p1.query_id, p1.nid AS a, p2.nid AS b, {cos.format(a='va', b='vb')} AS sim
  FROM pool p1
  JOIN pool p2 ON p1.query_id = p2.query_id AND p1.nid <> p2.nid
  JOIN vv va ON va.vec_id = p1.nid
  JOIN vv vb ON vb.vec_id = p2.nid
),
selu1 AS (
  SELECT query_id, nid, rel, 1 AS mmr_rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, nid) AS rn
    FROM pool) WHERE rn = 1
)"""
    ]
    for t in range(2, k + 1):
        j = t - 1
        parts.append(
            f""",
sc{t} AS (
  SELECT p.query_id, p.nid, p.rel,
         round({lam!r} * p.rel - {1.0 - lam!r} * max(pr.sim), 6) AS mmr
  FROM pool p
  JOIN pair pr ON pr.query_id = p.query_id AND pr.a = p.nid
  JOIN selu{j} s ON s.query_id = pr.query_id AND s.nid = pr.b
  WHERE NOT EXISTS (SELECT 1 FROM selu{j} x
                    WHERE x.query_id = p.query_id AND x.nid = p.nid)
  GROUP BY p.query_id, p.nid, p.rel
),
selu{t} AS (
  SELECT query_id, nid, rel, mmr_rank FROM selu{j}
  UNION ALL
  SELECT query_id, nid, rel, {t} AS mmr_rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY mmr DESC, nid) AS rn
    FROM sc{t}) WHERE rn = 1
)"""
        )
    parts.append(
        f"""
SELECT query_id, nid AS neighbor_id, rel AS relevance, mmr_rank::BIGINT AS mmr_rank
FROM selu{k}"""
    )
    return "".join(parts)


QUERIES = {
    "events_value_trend": (events_value_trend, _TREND_SQL),
    "events_markov_transitions": (events_markov_transitions, _MARKOV_SQL),
    "docs_token_entropy": (docs_token_entropy, _ENTROPY_SQL),
    "events_value_mad": (events_value_mad, _MAD_SQL),
    "graph_pagerank": (graph_pagerank, _PAGERANK_SQL),
    "events_cms_heavy_hitters": (events_cms_heavy_hitters, _CMS_SQL),
    "events_kmv_distinct": (events_kmv_distinct, _KMV_SQL),
    "events_retention_cohorts": (events_retention_cohorts, _RETENTION_SQL),
    "events_user_ewma": (events_user_ewma, _EWMA_SQL),
    "events_attribution_linear": (events_attribution_linear, _ATTRIB_LINEAR_SQL),
    "streaming_cms_heavy_hitters": (streaming_cms_heavy_hitters, _STREAM_CMS_SQL),
    "events_activity_streaks": (events_activity_streaks, _STREAKS_SQL),
    "customer_rfm_segments": (customer_rfm_segments, _RFM_SQL),
    "customer_rfm_segments_scaled": (customer_rfm_segments_scaled, _RFM_SQL),
    "events_daily_resample": (events_daily_resample, _RESAMPLE_SQL),
    "users_radius_join": (users_radius_join, _RADIUS_SQL),
    "events_session_paths": (events_session_paths, _SESSION_PATHS_SQL),
    "orders_scd2_join": (orders_scd2_join, _SCD2_SQL),
    "events_rolling_distinct_users": (events_rolling_distinct_users, _ROLLING_DISTINCT_SQL),
    "events_rolling_distinct_users_kmv": (events_rolling_distinct_users_kmv, _ROLLING_DISTINCT_KMV_SQL),
    "events_chi_square": (events_chi_square, _CHI_SQUARE_SQL),
    "events_gap_survival": (events_gap_survival, _SURVIVAL_SQL),
    "orders_benford_digits": (orders_benford_digits, _BENFORD_SQL),
    "customer_abc_analysis": (customer_abc_analysis, _ABC_SQL),
    "customer_abc_analysis_scaled": (customer_abc_analysis_scaled, _ABC_SCALED_SQL),
    "events_dow_seasonality": (events_dow_seasonality, _DOW_SQL),
    "events_funnel_conversion": (events_funnel_conversion, _FUNNEL_SQL),
    "events_error_bursts": (events_error_bursts, _ERROR_BURSTS_SQL),
    "docs_weighted_sample": (docs_weighted_sample, _WEIGHTED_SAMPLE_SQL),
    "graph_triangles": (graph_triangles, _TRIANGLES_SQL),
    "events_kmv_type_overlap": (events_kmv_type_overlap, _KMV_OVERLAP_SQL),
    "docs_bm25_search": (docs_bm25_search, _BM25_SQL),
    "dedup_prefix_filter": (dedup_prefix_filter, _PREFIX_FILTER_SQL),
    "graph_label_propagation": (graph_label_propagation, _LPA_SQL),
    "events_incident_overlap": (events_incident_overlap, _INCIDENT_OVERLAP_SQL),
    "basket_association_rules": (basket_association_rules, _ASSOC_SQL),
    "graph_bfs_distance": (graph_bfs_distance, _BFS_SQL),
    "events_user_growth": (events_user_growth, _USER_GROWTH_SQL),
    "dedup_sorted_neighborhood": (dedup_sorted_neighborhood, _SNM_SQL),
    "orders_pareto_frontier": (orders_pareto_frontier, _PARETO_SQL),
    "events_cusum_changepoints": (events_cusum_changepoints, _CUSUM_SQL),
    "events_pattern_match": (events_pattern_match, _PATTERN_SQL),
    "graph_personalized_pagerank": (graph_personalized_pagerank, _ppr_sql()),
    "docs_classifier_auc": (docs_classifier_auc, _AUC_SQL),
    "events_seasonal_decompose": (events_seasonal_decompose, _SEASONAL_SQL),
    "embedding_pq_codes": (embedding_pq_codes, _pq_sql()),
    "graph_weighted_sssp": (graph_weighted_sssp, _SSSP_SQL),
    "graph_hits": (graph_hits, _HITS_SQL),
    "events_value_winsorized": (events_value_winsorized, _WINSORIZED_SQL),
    "ann_pq_adc_topk": (ann_pq_adc_topk, _pq_adc_sql()),
    "ann_mmr_topk": (ann_mmr_topk, _mmr_sql()),
}
