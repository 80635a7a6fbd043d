"""[EXT] Round-6 batch 5: item-item collaborative filtering, phrase
blocklist matching, Welch's t-test, range-partition layout audit, and
split-conformal prediction — each with a hash-exact DuckDB twin.

- ``items_cooccurrence_topk`` — item-item collaborative filtering
  (Sarwar et al. 2001 / Linden et al. 2003 item-to-item): cosine
  similarity over order-basket co-occurrence, top-3 neighbors per part.
  Pair fan-out is bounded PER BASKET (the association-rules discipline,
  plus an explicit basket-size cap a pathological mega-order cannot
  blow past), item supports are broadcast, and ranking orders by the
  RAW cosine double — one division of one sqrt of an integer product,
  bit-identical cross-engine — so row_number needs no rounding slack.
- ``docs_blocklist_phrases`` — multi-phrase blocklist matching (the
  safety/contamination filter every corpus gate runs): the blocklist
  (here the 20 highest-document-frequency English bigrams, a
  deterministic self-derived stand-in for a curated phrase list) is a
  BROADCAST relation probed by one tokenize-once bigram scan — never a
  per-phrase LIKE sweep (20 phrases ≡ 20 scans at 100 TB).  The bigram
  array is persisted BEFORE explode (the explode-reevaluation fence,
  see operators/dedup.py).
- ``events_welch_ttest`` — Welch's unequal-variance t-test between
  every event-type pair.  Moments are CENT-QUANTIZED BIGINTs
  (floor(value·100) — floor, not round: double floor is
  engine-identical, while round(double) sits on the Spark-BigDecimal /
  DuckDB-double boundary documented in PERF.md), so Σv and Σv² are
  order-insensitive-exact; t and the Welch–Satterthwaite df are one
  identical double expression tree over those integers, rounded 4.
  One partial+final agg over the scan; the pair grid is a 5×5 self-join
  of a 5-row relation.
- ``layout_range_partition`` — sampled-boundary range partitioning
  (the TeraSort / ``repartitionByRange`` scheme) as an auditable
  relation: a deterministic md5 1/128 sample elects 7 ntile boundary
  keys (single-partition window over the SAMPLE only — the documented
  sample-grain budget; this is literally RangePartitioner's own
  collect), the boundary array rides a broadcast onto one full scan,
  and the output is the per-range row count + key span + balance ratio
  vs ideal.  At 100 TB this is the write-path audit that proves a
  layout decision before committing a multi-hour repartition job.
- ``classifier_conformal`` — split-conformal prediction (Vovk et al.;
  Angelopoulos & Bates 2021 tutorial shape) over the hashed-classifier
  probability: a deterministic md5 1/5 calibration split, integer
  nonconformity a6 = |y·10⁶ − p6|, the ⌈0.9(n+1)⌉-th smallest score
  found on the DISTINCT-VALUE GRID (per-value counts + one cumulative
  window over ≤n_cal distinct a6 values — the Mann-Whitney/KS
  discipline, no corpus-grain single-partition sort), threshold
  broadcast back onto the eval half for coverage and mean
  prediction-set size.  Everything is BIGINT until two final ratios.

Reference parity: all [EXT] — the reference (``process_aspep/``) is a
batch workbook pipeline with none of this tier.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..sources.registry import fan_for_compute, load_table as _t
from .oracle_util import SPARK_ROUND4_MACRO
from .xxh64_sql import PRELUDE as _XXH_PRELUDE
from .xxh64_sql import classifier_wts_ctes as _cls_wts


# --------------------------------------------------------------------------
# items_cooccurrence_topk
# --------------------------------------------------------------------------

_CF_CAP = 64  # max distinct items per basket admitted to pair generation
_CF_MINSUP = 2
_CF_TOPK = 3


def items_cooccurrence_topk(spark, sf_dir):
    """Top-3 item-item cosine neighbors from order-basket co-occurrence.

    cos(a,b) = sup_ab / sqrt(sup_a · sup_b) over distinct
    (order, part) baskets; pairs below ``_CF_MINSUP`` shared baskets are
    pruned before any join-back.  Baskets larger than ``_CF_CAP``
    distinct items are excluded outright (a no-op on this data — max
    basket is 13 — but the guard is what bounds the per-basket pair
    fan-out at cap² on a pathological corpus, the same skew policy as
    ``shingle_df_cap``).  The ranking ORDER BY uses the raw cosine
    double: sqrt and division of exact integers are correctly-rounded
    IEEE ops, so the sort key is bit-identical cross-engine and ties
    are broken by (sup_ab desc, neighbor asc)."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("item")
    ).distinct()
    ok = (
        baskets.groupBy("o")
        .agg(F.count("*").alias("sz"))
        .filter(F.col("sz") <= _CF_CAP)
        .select("o")
    )
    baskets = baskets.join(ok, "o")
    isup = baskets.groupBy("item").agg(F.count("*").alias("sup"))
    pairs = (
        baskets.alias("a")
        .join(baskets.alias("b"), "o")
        .filter(F.col("a.item") < F.col("b.item"))
        .groupBy(F.col("a.item").alias("x"), F.col("b.item").alias("y"))
        .agg(F.count("*").alias("sup_ab"))
        .filter(F.col("sup_ab") >= _CF_MINSUP)
    )
    both = pairs.select(
        F.col("x").alias("item"), F.col("y").alias("neighbor"), "sup_ab"
    ).unionByName(
        pairs.select(
            F.col("y").alias("item"), F.col("x").alias("neighbor"), "sup_ab"
        )
    )
    si = isup.select(F.col("item"), F.col("sup").alias("sup_i"))
    sn = isup.select(F.col("item").alias("neighbor"), F.col("sup").alias("sup_n"))
    cos = F.col("sup_ab").cast("double") / F.sqrt(
        (F.col("sup_i") * F.col("sup_n")).cast("double")
    )
    w = Window.partitionBy("item").orderBy(
        F.desc("__cos"), F.desc("sup_ab"), F.asc("neighbor")
    )
    return (
        both.join(F.broadcast(si), "item")
        .join(F.broadcast(sn), "neighbor")
        .withColumn("__cos", cos)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _CF_TOPK)
        .select(
            "item",
            "neighbor",
            "sup_ab",
            F.round(F.col("__cos"), 4).alias("cosine"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


_CF_SQL = SPARK_ROUND4_MACRO + f"""
WITH baskets AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS item FROM lineitem
), ok AS (
  SELECT o FROM baskets GROUP BY o HAVING count(*) <= {_CF_CAP}
), bk AS MATERIALIZED (
  SELECT b.o, b.item FROM baskets b JOIN ok USING (o)
), isup AS MATERIALIZED (
  SELECT item, count(*)::BIGINT AS sup FROM bk GROUP BY item
), pairs AS MATERIALIZED (
  SELECT a.item AS x, b.item AS y, count(*)::BIGINT AS sup_ab
  FROM bk a JOIN bk b ON a.o = b.o AND a.item < b.item
  GROUP BY 1, 2
  HAVING count(*) >= {_CF_MINSUP}
), dirpairs AS (
  SELECT x AS item, y AS neighbor, sup_ab FROM pairs
  UNION ALL
  SELECT y AS item, x AS neighbor, sup_ab FROM pairs
), scored AS (
  SELECT dirpairs.item, dirpairs.neighbor, sup_ab,
         sup_ab::DOUBLE / sqrt((si.sup * sn.sup)::DOUBLE) AS cos
  FROM dirpairs
  JOIN isup si ON si.item = dirpairs.item
  JOIN isup sn ON sn.item = dirpairs.neighbor
), ranked AS (
  SELECT item, neighbor, sup_ab, cos,
         row_number() OVER (PARTITION BY item
                            ORDER BY cos DESC, sup_ab DESC, neighbor ASC) AS rnk
  FROM scored
)
SELECT item, neighbor, sup_ab, spark_round4(cos) AS cosine, rnk::BIGINT AS rnk
FROM ranked WHERE rnk <= {_CF_TOPK}
"""


# --------------------------------------------------------------------------
# docs_blocklist_phrases
# --------------------------------------------------------------------------

_BL_TOP = 20
_BL_WORD_RE = "[a-z0-9]+"


def docs_blocklist_phrases(spark, sf_dir):
    """Per-document blocklist-phrase hits: occurrences and distinct
    phrases matched, against a 20-bigram broadcast blocklist (the
    highest-document-frequency English bigrams — a deterministic
    stand-in for a curated phrase list; df ties break on the bigram
    string).  One tokenize → bigram pass over the corpus feeds BOTH the
    blocklist derivation and the match probe; the bigram ARRAY frame is
    persisted before its two consumers (and before explode — the
    re-evaluation fence documented in operators/dedup.py).  The probe
    is a broadcast hash join riding the exploded scan plus one keyed
    agg — the shape that lets a 10⁵-phrase production blocklist gate
    100 TB in a single pass, vs 10⁵ LIKE scans."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower("text"), F.lit(_BL_WORD_RE), 0)
    bigrams = F.when(
        F.size("__toks") >= 2,
        F.expr(
            "transform(sequence(0, size(__toks) - 2), "
            "i -> concat(__toks[i], ' ', __toks[i + 1]))"
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    arr = (
        docs.withColumn("__toks", toks)
        .withColumn("__bg", bigrams)
        .select("doc_id", "lang", "__bg")
        .persist()
    )
    bg = arr.select("doc_id", "lang", F.explode("__bg").alias("bg"))
    blocklist = (
        bg.filter(F.col("lang") == "en")
        .select("doc_id", "bg")
        .distinct()
        .groupBy("bg")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), F.asc("bg"))
        .limit(_BL_TOP)
        .select("bg")
    )
    return (
        bg.join(F.broadcast(blocklist), "bg")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_hits"),
            F.countDistinct("bg").alias("n_phrases"),
        )
    )


_BL_SQL = f"""
WITH base AS (
  SELECT doc_id, lang, regexp_extract_all(lower(text), '{_BL_WORD_RE}') AS w
  FROM documents
), bg AS MATERIALIZED (
  SELECT doc_id, lang,
         unnest([w[i] || ' ' || w[i + 1] FOR i IN range(1, len(w))]) AS bg
  FROM base
), bl AS MATERIALIZED (
  SELECT bg FROM (
    SELECT bg, count(*) AS df
    FROM (SELECT DISTINCT doc_id, bg FROM bg WHERE lang = 'en')
    GROUP BY bg
  ) ORDER BY df DESC, bg ASC LIMIT {_BL_TOP}
)
SELECT doc_id, any_value(lang) AS lang,
       count(*)::BIGINT AS n_hits,
       count(DISTINCT bg.bg)::BIGINT AS n_phrases
FROM bg JOIN bl USING (bg)
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# events_welch_ttest
# --------------------------------------------------------------------------


def events_welch_ttest(spark, sf_dir):
    """Welch's unequal-variance t-test between every ordered pair of
    event types on cent-quantized value (floor(value·100) BIGINT — see
    module docstring for why floor, not round).  The corpus-grain work
    is ONE partial+final agg producing a 5-row moment relation
    (n, Σv, Σv²); the t statistic and Welch–Satterthwaite df are a
    fixed double expression over the 10-row pair grid.  Σv is cast to
    double BEFORE squaring (Σv ~ 3·10¹⁰ at sf0.1 would overflow BIGINT
    squared; double keeps it exact to 2⁵³ and both engines square the
    same double)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.floor(F.col("value") * 100).cast("long").alias("v")
    )
    # the 5-row moment relation is persisted so BOTH sides of the pair
    # grid read one cached scan — without it each alias re-plans the
    # full events scan (2× IO at 100 TB for a 5-row intermediate)
    m = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("v").alias("s1"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
    ).persist()

    def mean(side):
        return F.col(f"{side}.s1").cast("double") / F.col(f"{side}.n").cast("double")

    def var(side):
        s1d = F.col(f"{side}.s1").cast("double")
        return (
            F.col(f"{side}.s2").cast("double")
            - s1d * s1d / F.col(f"{side}.n").cast("double")
        ) / (F.col(f"{side}.n") - F.lit(1)).cast("double")

    va_na = var("a") / F.col("a.n").cast("double")
    vb_nb = var("b") / F.col("b.n").cast("double")
    se2 = va_na + vb_nb
    t = (mean("a") - mean("b")) / F.sqrt(se2)
    df = (se2 * se2) / (
        va_na * va_na / (F.col("a.n") - F.lit(1)).cast("double")
        + vb_nb * vb_nb / (F.col("b.n") - F.lit(1)).cast("double")
    )
    return (
        m.alias("a")
        .join(m.alias("b"), F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            F.round(t, 4).alias("t_stat"),
            F.round(df, 4).alias("welch_df"),
        )
    )


_WELCH_SQL = """
WITH m AS MATERIALIZED (
  SELECT event_type, count(*)::BIGINT AS n,
         sum(CAST(floor(value * 100) AS BIGINT))::BIGINT AS s1,
         sum(CAST(floor(value * 100) AS BIGINT)
             * CAST(floor(value * 100) AS BIGINT))::BIGINT AS s2
  FROM events GROUP BY event_type
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       a.n AS n_a, b.n AS n_b,
       round(
         (a.s1::DOUBLE / a.n::DOUBLE - b.s1::DOUBLE / b.n::DOUBLE)
         / sqrt(
             ((a.s2::DOUBLE - a.s1::DOUBLE * a.s1::DOUBLE / a.n::DOUBLE)
                / (a.n - 1)::DOUBLE) / a.n::DOUBLE
           + ((b.s2::DOUBLE - b.s1::DOUBLE * b.s1::DOUBLE / b.n::DOUBLE)
                / (b.n - 1)::DOUBLE) / b.n::DOUBLE
         ), 4) AS t_stat,
       round(
         ((((a.s2::DOUBLE - a.s1::DOUBLE * a.s1::DOUBLE / a.n::DOUBLE)
              / (a.n - 1)::DOUBLE) / a.n::DOUBLE
          + ((b.s2::DOUBLE - b.s1::DOUBLE * b.s1::DOUBLE / b.n::DOUBLE)
               / (b.n - 1)::DOUBLE) / b.n::DOUBLE)
         * (((a.s2::DOUBLE - a.s1::DOUBLE * a.s1::DOUBLE / a.n::DOUBLE)
               / (a.n - 1)::DOUBLE) / a.n::DOUBLE
           + ((b.s2::DOUBLE - b.s1::DOUBLE * b.s1::DOUBLE / b.n::DOUBLE)
                / (b.n - 1)::DOUBLE) / b.n::DOUBLE))
         / (
             (((a.s2::DOUBLE - a.s1::DOUBLE * a.s1::DOUBLE / a.n::DOUBLE)
                 / (a.n - 1)::DOUBLE) / a.n::DOUBLE)
             * (((a.s2::DOUBLE - a.s1::DOUBLE * a.s1::DOUBLE / a.n::DOUBLE)
                 / (a.n - 1)::DOUBLE) / a.n::DOUBLE)
             / (a.n - 1)::DOUBLE
           + (((b.s2::DOUBLE - b.s1::DOUBLE * b.s1::DOUBLE / b.n::DOUBLE)
                 / (b.n - 1)::DOUBLE) / b.n::DOUBLE)
             * (((b.s2::DOUBLE - b.s1::DOUBLE * b.s1::DOUBLE / b.n::DOUBLE)
                 / (b.n - 1)::DOUBLE) / b.n::DOUBLE)
             / (b.n - 1)::DOUBLE
         ), 4) AS welch_df
FROM m a JOIN m b ON a.event_type < b.event_type
"""


# --------------------------------------------------------------------------
# layout_range_partition
# --------------------------------------------------------------------------

_RP_BUCKETS = 8
_RP_SAMPLE_MOD = 128  # ~0.78% deterministic md5 sample


def layout_range_partition(spark, sf_dir):
    """Range-partition balance audit with sampled boundaries — the
    ``repartitionByRange`` / TeraSort scheme as a checkable relation.

    A deterministic md5 1/128 sample of order keys elects
    ``_RP_BUCKETS − 1`` boundary keys via ntile maxima (the
    single-partition window runs over the SAMPLE ONLY — the same
    bounded collect RangePartitioner itself performs); the sorted
    boundary array is broadcast onto one full scan where each row's
    bucket is 1 + |{b : key > b}| (an 7-element array probe inside
    codegen, no join).  Output: per-bucket row count, key span, and
    the balance ratio vs the ideal n/8 — the audit one runs BEFORE
    committing a 100 TB repartition write."""
    orders = _t(spark, sf_dir, "orders")
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    sample = orders.filter(h % _RP_SAMPLE_MOD == 0).select(
        F.col("o_orderkey").alias("k")
    )
    wt = Window.orderBy("k")
    bnd = (
        sample.withColumn("tile", F.ntile(_RP_BUCKETS).over(wt))
        .filter(F.col("tile") < _RP_BUCKETS)
        .groupBy("tile")
        .agg(F.max("k").alias("b"))
        .agg(F.sort_array(F.collect_list("b")).alias("bnd"))
    )
    bucket = (
        F.size(F.filter(F.col("bnd"), lambda b: F.col("o_orderkey") > b)) + 1
    ).cast("long")
    # total comes from a window over the 8 bucket rows, not a second
    # full scan: the audit touches the fact table exactly twice (key-only
    # sample scan + assignment scan), never three times
    wt_all = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        orders.crossJoin(F.broadcast(bnd))
        .select(bucket.alias("bucket"), "o_orderkey")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .withColumn("total", F.sum("n_rows").over(wt_all))
        .select(
            "bucket",
            "n_rows",
            "min_key",
            "max_key",
            F.round(
                (F.col("n_rows") * F.lit(_RP_BUCKETS)).cast("double")
                / F.col("total").cast("double"),
                4,
            ).alias("balance"),
        )
    )


_RP_SQL = f"""
WITH sample AS (
  SELECT o_orderkey AS k FROM orders
  WHERE CAST('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8) AS BIGINT)
        % {_RP_SAMPLE_MOD} = 0
), tiles AS (
  SELECT k, ntile({_RP_BUCKETS}) OVER (ORDER BY k) AS tile FROM sample
), bnd AS (
  SELECT list_sort(list(mx)) AS bnd FROM (
    SELECT max(k) AS mx FROM tiles WHERE tile < {_RP_BUCKETS} GROUP BY tile
  )
), assigned AS (
  SELECT (len(list_filter(bnd, x -> o_orderkey > x)) + 1)::BIGINT AS bucket,
         o_orderkey
  FROM orders, bnd
), per AS (
  SELECT bucket, count(*)::BIGINT AS n_rows,
         min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
  FROM assigned GROUP BY bucket
)
SELECT bucket, n_rows, min_key, max_key,
       round((n_rows * {_RP_BUCKETS})::DOUBLE
             / (sum(n_rows) OVER ())::DOUBLE, 4) AS balance
FROM per
"""


# --------------------------------------------------------------------------
# classifier_conformal
# --------------------------------------------------------------------------

_CONF_ALPHA_NUM = 9  # 1 - alpha = 9/10 kept integer


def classifier_conformal(spark, sf_dir):
    """Split-conformal prediction over the hashed-classifier
    probability (labels: the even/odd source-id ground truth shared
    with ``docs_classifier_auc``).  A deterministic md5 1/5 split
    carves the calibration half; nonconformity is the INTEGER
    a6 = y·10⁶ − p6 (signed-absorbed per class), the ⌈0.9(n_cal+1)⌉-th
    smallest a6 comes off the DISTINCT-VALUE GRID (per-value counts,
    one cumulative window over ≤ n_cal distinct values — never a
    corpus-grain single-partition sort), and the broadcast threshold
    scores the eval half: empirical coverage (≥ 0.9 by the conformal
    guarantee, up to discretization) and mean prediction-set size
    (how often the classifier is decisive vs {0,1}-ambiguous — the
    actionable knob for a model-gated corpus pipeline)."""
    from ..operators.classifier import score_documents

    docs = _t(spark, sf_dir, "documents")
    scored = score_documents(docs, "text", "doc_id", dim=4096, keep=("source",))
    base = scored.select(
        "doc_id",
        (F.substring("source", 4, 10).cast("int") % 2 == 0)
        .cast("long")
        .alias("y"),
        F.round(F.lit(1000000.0) / (F.lit(1.0) + F.exp(-F.col("score"))), 0)
        .cast("long")
        .alias("p6"),
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("conf|"), F.col("doc_id"))), 1, 8),
                16,
                10,
            ).cast("long")
            % 5
            == 0
        ).alias("is_cal"),
    ).persist()  # one scoring scan feeds calibration grid, n_cal, and eval
    a6 = F.when(F.col("y") == 1, 1000000 - F.col("p6")).otherwise(F.col("p6"))
    cal = base.filter("is_cal").select(a6.alias("a6"))
    ncal = cal.agg(F.count("*").alias("n_cal"))
    grid = cal.groupBy("a6").agg(F.count("*").alias("c"))
    wg = Window.orderBy("a6").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.withColumn("cum", F.sum("c").over(wg))
    k = F.floor(
        (F.lit(_CONF_ALPHA_NUM) * (F.col("n_cal") + 1) + 9).cast("double") / 10.0
    ).cast("long")
    thr = (
        cum.crossJoin(F.broadcast(ncal))
        .filter(F.col("cum") >= k)
        .agg(
            F.min("a6").alias("thr6"),
            F.first(k, ignorenulls=True).alias("k"),
            F.first(F.col("n_cal")).alias("n_cal"),
        )
    )
    ev = base.filter(~F.col("is_cal")).withColumn("a6", a6)
    return (
        ev.crossJoin(F.broadcast(thr))
        .select(
            "n_cal",
            "k",
            "thr6",
            (F.col("a6") <= F.col("thr6")).cast("long").alias("cov"),
            (
                (F.col("p6") <= F.col("thr6")).cast("long")
                + ((1000000 - F.col("p6")) <= F.col("thr6")).cast("long")
            ).alias("setsz"),
        )
        .groupBy("n_cal", "k", "thr6")
        .agg(
            F.count("*").alias("n_eval"),
            F.round(F.sum("cov").cast("double") / F.count("*"), 4).alias(
                "coverage"
            ),
            F.round(F.sum("setsz").cast("double") / F.count("*"), 4).alias(
                "avg_set_size"
            ),
        )
    )


_CONF_SQL = f"""{_XXH_PRELUDE}
WITH {_cls_wts()},
folded AS (
  SELECT doc_id,
         round(list_reduce(list_prepend(0.0::DOUBLE, wv), (a, b) -> a + b)
               / len(wv), 6) AS score
  FROM wts
), base AS MATERIALIZED (
  SELECT f.doc_id,
         (CAST(substr(d.source, 4) AS INT) % 2 = 0)::INT::BIGINT AS y,
         CAST(round(1000000.0::DOUBLE / (1.0 + exp(-score))) AS BIGINT) AS p6,
         CAST('0x' || substr(md5('conf|' || f.doc_id::VARCHAR), 1, 8) AS BIGINT)
           % 5 = 0 AS is_cal
  FROM folded f JOIN documents d USING (doc_id)
), cal AS MATERIALIZED (
  SELECT CASE WHEN y = 1 THEN 1000000 - p6 ELSE p6 END AS a6
  FROM base WHERE is_cal
), ncal AS (
  SELECT count(*)::BIGINT AS n_cal FROM cal
), cum AS (
  SELECT a6, sum(c) OVER (ORDER BY a6) AS cum FROM (
    SELECT a6, count(*) AS c FROM cal GROUP BY a6
  )
), kk AS (
  SELECT CAST(floor((9 * (n_cal + 1) + 9)::DOUBLE / 10.0) AS BIGINT) AS k,
         n_cal
  FROM ncal
), thr AS (
  SELECT min(a6) AS thr6, any_value(k) AS k, any_value(n_cal) AS n_cal
  FROM cum, kk WHERE cum >= k
)
SELECT n_cal, k, thr6,
       count(*)::BIGINT AS n_eval,
       round(sum((CASE WHEN y = 1 THEN 1000000 - p6 ELSE p6 END
                  <= thr6)::INT)::DOUBLE / count(*), 4) AS coverage,
       round(sum((p6 <= thr6)::INT + (1000000 - p6 <= thr6)::INT)::DOUBLE
             / count(*), 4) AS avg_set_size
FROM base, thr
WHERE NOT is_cal
GROUP BY n_cal, k, thr6
"""


# --------------------------------------------------------------------------
# events_cuped_adjustment
# --------------------------------------------------------------------------

_EPOCH_US = 1704067200000000  # 2024-01-01T00:00:00Z in micros
_CUPED_CUT_US = _EPOCH_US + 14 * 86400000000  # day 14 splits pre/post


def events_cuped_adjustment(spark, sf_dir):
    """CUPED variance-reduced A/B readout (Deng et al. 2013): variant =
    deterministic md5 user split, covariate X = pre-period spend, metric
    Y = post-period spend (cent-quantized BIGINTs per user), and the
    adjusted mean Ȳᵥ − θ(X̄ᵥ − X̄) with θ = cov(X,Y)/var(X) from POOLED
    integer moments.  Two keyed aggs total: user grain (one shuffle on
    user_id), then a 2-row variant grain + a 1-row broadcast of the
    pooled moments — the experimentation-platform readout that runs on
    every metric at 100 TB.  ρ² (the variance-reduction factor) rides
    along.  All sums are exact integers; θ, means and ρ² are one fixed
    double expression, rounded 4."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    cents = F.floor(F.col("value") * 100).cast("long")
    ug = (
        ev.select(
            "user_id",
            F.when(us < _CUPED_CUT_US, cents).otherwise(F.lit(0)).alias("xc"),
            F.when(us >= _CUPED_CUT_US, cents).otherwise(F.lit(0)).alias("yc"),
        )
        .groupBy("user_id")
        .agg(F.sum("xc").alias("x"), F.sum("yc").alias("y"))
        .withColumn(
            "variant",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("ab|"), F.col("user_id"))), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                % 2
            ).cast("long"),
        )
        .persist()  # one user-grain pass feeds pooled AND per-variant moments
    )
    pooled = ug.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    covxy = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double") / nd
    varx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double") / nd
    vary = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double") / nd
    g = pooled.select(
        (covxy / varx).alias("theta"),
        (F.col("sx").cast("double") / nd).alias("xbar_all"),
        (covxy * covxy / (varx * vary)).alias("rho2"),
    )
    pv = ug.groupBy("variant").agg(
        F.count("*").alias("n_users"),
        F.sum("x").alias("sxv"),
        F.sum("y").alias("syv"),
    )
    xbar_v = F.col("sxv").cast("double") / F.col("n_users").cast("double")
    ybar_v = F.col("syv").cast("double") / F.col("n_users").cast("double")
    return pv.crossJoin(F.broadcast(g)).select(
        "variant",
        "n_users",
        F.round(xbar_v / 100.0, 4).alias("mean_pre"),
        F.round(ybar_v / 100.0, 4).alias("mean_post"),
        F.round(F.col("theta"), 4).alias("theta"),
        F.round(
            (ybar_v - F.col("theta") * (xbar_v - F.col("xbar_all"))) / 100.0, 4
        ).alias("mean_adjusted"),
        F.round(F.col("rho2"), 4).alias("rho2"),
    )


_CUPED_SQL = f"""
WITH ug AS MATERIALIZED (
  SELECT user_id,
         sum(CASE WHEN epoch_us(ts) < {_CUPED_CUT_US}
                  THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)::BIGINT
           AS x,
         sum(CASE WHEN epoch_us(ts) >= {_CUPED_CUT_US}
                  THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)::BIGINT
           AS y,
         CAST('0x' || substr(md5('ab|' || user_id::VARCHAR), 1, 8) AS BIGINT)
           % 2 AS variant
  FROM events GROUP BY user_id
), pooled AS (
  SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
         sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx,
         sum(y * y)::BIGINT AS syy
  FROM ug
), g AS (
  SELECT (sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n::DOUBLE)
           / (sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE) AS theta,
         sx::DOUBLE / n::DOUBLE AS xbar_all,
         ((sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n::DOUBLE)
          * (sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n::DOUBLE))
           / ((sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE)
              * (syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n::DOUBLE)) AS rho2
  FROM pooled
), pv AS (
  SELECT variant, count(*)::BIGINT AS n_users,
         sum(x)::BIGINT AS sxv, sum(y)::BIGINT AS syv
  FROM ug GROUP BY variant
)
SELECT variant, n_users,
       round((sxv::DOUBLE / n_users::DOUBLE) / 100.0, 4) AS mean_pre,
       round((syv::DOUBLE / n_users::DOUBLE) / 100.0, 4) AS mean_post,
       round(theta, 4) AS theta,
       round((syv::DOUBLE / n_users::DOUBLE
              - theta * (sxv::DOUBLE / n_users::DOUBLE - xbar_all)) / 100.0,
             4) AS mean_adjusted,
       round(rho2, 4) AS rho2
FROM pv, g
"""


# --------------------------------------------------------------------------
# user_rate_shrinkage
# --------------------------------------------------------------------------

_EB_MIN_N = 10
_EB_TOPK = 20


def user_rate_shrinkage(spark, sf_dir):
    """Empirical-Bayes beta-binomial shrinkage of per-user purchase
    rates (the smoothing every ranking/CTR system applies before
    sorting sparse rates): n = click+view exposures, k = purchases;
    method-of-moments α, β from the POPULATION of per-user rates, then
    shrunk_rate = (k + α)/(n + α + β).  Cross-engine exactness: each
    user's raw rate is the INTEGER p6 = (k·10⁶) div n (integer floor
    division — no float rounding), so Σp6 / Σp6² are exact BIGINTs and
    the MoM α/β are one fixed double expression.  Users below
    ``_EB_MIN_N`` exposures are excluded from BOTH the moment fit and
    the output (documented support floor).  Output: the ``_EB_TOPK``
    highest-exposure users (ties on user_id) with raw vs shrunk rate,
    α/β carried as columns.  Shapes: one user-grain keyed agg, a 1-row
    moment broadcast, and a TakeOrdered top-k — no corpus-grain sort."""
    ev = _t(spark, sf_dir, "events")
    ug = (
        ev.groupBy("user_id")
        .agg(
            F.sum(
                F.col("event_type").isin("click", "view").cast("long")
            ).alias("n"),
            F.sum((F.col("event_type") == "purchase").cast("long")).alias("k"),
        )
        .filter(F.col("n") >= _EB_MIN_N)
        .withColumn("p6", F.expr("(k * 1000000) div n"))
        .persist()  # feeds the moment fit and the top-k output
    )
    mom = ug.agg(
        F.count("*").alias("nu"),
        F.sum("p6").alias("sp"),
        F.sum(F.col("p6") * F.col("p6")).alias("spp"),
    )
    nud = F.col("nu").cast("double")
    m1 = F.col("sp").cast("double") / nud / 1000000.0
    # sample variance of the rates, de-scaled from 1e12
    varr = (
        (
            F.col("spp").cast("double")
            - F.col("sp").cast("double") * F.col("sp").cast("double") / nud
        )
        / (F.col("nu") - F.lit(1)).cast("double")
        / 1.0e12
    )
    common = m1 * (F.lit(1.0) - m1) / varr - F.lit(1.0)
    g = mom.select(
        (m1 * common).alias("alpha"), ((F.lit(1.0) - m1) * common).alias("beta")
    )
    return (
        ug.orderBy(F.desc("n"), F.asc("user_id"))
        .limit(_EB_TOPK)
        .crossJoin(F.broadcast(g))
        .select(
            "user_id",
            "n",
            "k",
            F.round(F.col("p6").cast("double") / 1000000.0, 4).alias("raw_rate"),
            F.round(F.col("alpha"), 4).alias("alpha"),
            F.round(F.col("beta"), 4).alias("beta"),
            F.round(
                (F.col("k").cast("double") + F.col("alpha"))
                / (F.col("n").cast("double") + F.col("alpha") + F.col("beta")),
                4,
            ).alias("shrunk_rate"),
        )
    )


_EB_SQL = f"""
WITH ug AS MATERIALIZED (
  SELECT user_id,
         sum((event_type IN ('click', 'view'))::INT)::BIGINT AS n,
         sum((event_type = 'purchase')::INT)::BIGINT AS k
  FROM events GROUP BY user_id
  HAVING sum((event_type IN ('click', 'view'))::INT) >= {_EB_MIN_N}
), ug6 AS MATERIALIZED (
  SELECT user_id, n, k, (k * 1000000) // n AS p6 FROM ug
), mom AS (
  SELECT count(*)::BIGINT AS nu, sum(p6)::BIGINT AS sp,
         sum(p6 * p6)::BIGINT AS spp
  FROM ug6
), g AS (
  SELECT (sp::DOUBLE / nu::DOUBLE / 1000000.0)
           * ((sp::DOUBLE / nu::DOUBLE / 1000000.0)
              * (1.0 - sp::DOUBLE / nu::DOUBLE / 1000000.0)
              / ((spp::DOUBLE - sp::DOUBLE * sp::DOUBLE / nu::DOUBLE)
                 / (nu - 1)::DOUBLE / 1.0e12)
              - 1.0) AS alpha,
         (1.0 - sp::DOUBLE / nu::DOUBLE / 1000000.0)
           * ((sp::DOUBLE / nu::DOUBLE / 1000000.0)
              * (1.0 - sp::DOUBLE / nu::DOUBLE / 1000000.0)
              / ((spp::DOUBLE - sp::DOUBLE * sp::DOUBLE / nu::DOUBLE)
                 / (nu - 1)::DOUBLE / 1.0e12)
              - 1.0) AS beta
  FROM mom
), top AS (
  SELECT user_id, n, k, p6 FROM ug6
  ORDER BY n DESC, user_id ASC LIMIT {_EB_TOPK}
)
SELECT user_id, n, k,
       round(p6::DOUBLE / 1000000.0, 4) AS raw_rate,
       round(alpha, 4) AS alpha, round(beta, 4) AS beta,
       round((k::DOUBLE + alpha) / (n::DOUBLE + alpha + beta), 4)
         AS shrunk_rate
FROM top, g
"""


# --------------------------------------------------------------------------
# docs_nb_crossval
# --------------------------------------------------------------------------

_NBCV_K = 5
_NBCV_WORD_RE = "[a-z0-9]+"


def _cv_fold(col):
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("cv|"), col.cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % _NBCV_K
    )


def docs_nb_crossval(spark, sf_dir):
    """K-fold cross-validation of the multinomial NB language model by
    LEAVE-ONE-FOLD-OUT SUBTRACTION: the per-fold training counts are
    never recomputed — count once at (class, word) and (class, word,
    fold) grain, and fold f's model is ``global − fold_f`` (priors,
    totals, and the per-fold vocabulary likewise, the latter as
    |{w : global_w > fold_w}| on the vocab×K grid).  ONE token scan
    trains all K models; a naive CV re-runs training K times — the
    difference between 1 and K corpus passes at 100 TB.  Scoring rides
    the same token relation: tokens join the 25-row broadcast
    (class, fold) constants, the vocab-grain count relations, and fold
    per-doc log10 likelihoods in position order (the ordered-left-fold
    recipe of ``docs_nb_classify``); argmax breaks ties on class asc
    over the RAW fold sum — bit-identical cross-engine, no rounding
    slack needed.  Output: per-fold document count, hits, accuracy
    (round 4) — the honest generalization estimate for the lang-ID
    gate, vs the single-split estimate ``docs_nb_classify`` gives."""
    docs = _t(spark, sf_dir, "documents").withColumn("fold", _cv_fold(F.col("doc_id")))
    # The regex+posexplode materializes in tok's persist job — fused onto
    # the docs scan, which on a compact single-row-group file is ONE
    # effective task (the r12 event-log finding on the capped twin: one
    # 17 s task vs a 0.7 s stage median at sf1).  The token branch
    # therefore reads through the adaptive fan (no-op at sf0.1/at-scale,
    # see registry.fan_for_compute); the prior branches below keep the
    # plain scan — per-row work there is a trivial count.  Downstream is
    # order-insensitive by construction (integer count aggs; scoring
    # folds over an array_sort'ed (pos, term) array).
    tok = fan_for_compute(_t(spark, sf_dir, "documents")).withColumn(
        "fold", _cv_fold(F.col("doc_id"))
    ).select(
        "doc_id",
        F.col("lang"),
        "fold",
        F.posexplode(
            F.regexp_extract_all(F.lower("text"), F.lit(_NBCV_WORD_RE), 0)
        ).alias("pos", "w"),
    ).persist()  # one scan feeds global counts, fold counts, and scoring
    cw_g = tok.groupBy(F.col("lang").alias("cls"), "w").agg(
        F.count("*").alias("cg")
    )
    cw_f = tok.groupBy(F.col("lang").alias("cls"), "w", "fold").agg(
        F.count("*").alias("cf")
    )
    totc_g = cw_g.groupBy("cls").agg(F.sum("cg").alias("tot_g"))
    totc_f = cw_f.groupBy("cls", "fold").agg(F.sum("cf").alias("tot_f"))
    # per-fold vocabulary on the vocab × K grid
    wg = tok.groupBy("w").agg(F.count("*").alias("cw_all"))
    wf = tok.groupBy("w", "fold").agg(F.count("*").alias("cw_fold"))
    folds = spark.range(_NBCV_K).select(F.col("id").cast("long").alias("fold"))
    vocab_f = (
        wg.crossJoin(F.broadcast(folds))
        .join(wf, ["w", "fold"], "left")
        .filter(F.col("cw_all") > F.coalesce(F.col("cw_fold"), F.lit(0)))
        .groupBy("fold")
        .agg(F.count("*").alias("v"))
    )
    pri_g = docs.groupBy(F.col("lang").alias("cls")).agg(F.count("*").alias("n_c"))
    pri_f = docs.groupBy(F.col("lang").alias("cls"), "fold").agg(
        F.count("*").alias("n_cf")
    )
    nfold = docs.groupBy("fold").agg(F.count("*").alias("n_f"))
    n_all = docs.agg(F.count("*").alias("n_all"))
    classes = (
        pri_g.crossJoin(F.broadcast(folds))
        .join(pri_f, ["cls", "fold"], "left")
        .join(totc_g, "cls")
        .join(totc_f, ["cls", "fold"], "left")
        .join(vocab_f, "fold")
        .join(nfold, "fold")
        .crossJoin(F.broadcast(n_all))
        .select(
            "cls",
            "fold",
            (F.col("tot_g") - F.coalesce(F.col("tot_f"), F.lit(0))).alias("tot_ex"),
            "v",
            F.log10(
                (F.col("n_c") - F.coalesce(F.col("n_cf"), F.lit(0))).cast("double")
                / (F.col("n_all") - F.col("n_f")).cast("double")
            ).alias("log_prior"),
        )
    )
    terms = (
        tok.join(F.broadcast(classes), "fold")
        .join(cw_g, ["cls", "w"], "left")
        .join(cw_f, ["cls", "w", "fold"], "left")
        .select(
            "doc_id",
            "lang",
            "fold",
            "cls",
            "log_prior",
            "pos",
            F.log10(
                (
                    F.coalesce(F.col("cg"), F.lit(0))
                    - F.coalesce(F.col("cf"), F.lit(0))
                    + F.lit(1)
                ).cast("double")
                / (F.col("tot_ex") + F.col("v")).cast("double")
            ).alias("term"),
        )
    )
    folded = terms.groupBy("doc_id", "lang", "fold", "cls", "log_prior").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "term"))),
                lambda s: s["term"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("loglik")
    )
    wpred = Window.partitionBy("doc_id").orderBy(
        F.desc(F.col("log_prior") + F.col("loglik")), F.asc("cls")
    )
    pred = (
        folded.withColumn("__r", F.row_number().over(wpred))
        .filter(F.col("__r") == 1)
        .select("doc_id", "lang", "fold", "cls")
    )
    return (
        pred.groupBy("fold")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("cls") == F.col("lang")).cast("long")).alias("n_correct"),
        )
        .select(
            "fold",
            "n_docs",
            "n_correct",
            F.round(
                F.col("n_correct").cast("double") / F.col("n_docs").cast("double"),
                4,
            ).alias("accuracy"),
        )
    )


_NBCV_SQL = f"""
WITH docs AS MATERIALIZED (
  SELECT doc_id, lang, text,
         CAST('0x' || substr(md5('cv|' || doc_id::VARCHAR), 1, 8) AS BIGINT)
           % {_NBCV_K} AS fold
  FROM documents
), tok AS MATERIALIZED (
  SELECT doc_id, lang, fold,
         unnest(regexp_extract_all(lower(text), '{_NBCV_WORD_RE}')) AS w,
         generate_subscripts(regexp_extract_all(lower(text), '{_NBCV_WORD_RE}'), 1)
           AS pos
  FROM docs
), cw_g AS MATERIALIZED (
  SELECT lang AS cls, w, count(*)::BIGINT AS cg FROM tok GROUP BY 1, 2
), cw_f AS MATERIALIZED (
  SELECT lang AS cls, w, fold, count(*)::BIGINT AS cf FROM tok GROUP BY 1, 2, 3
), totc_g AS (SELECT cls, sum(cg)::BIGINT AS tot_g FROM cw_g GROUP BY cls),
totc_f AS (SELECT cls, fold, sum(cf)::BIGINT AS tot_f FROM cw_f GROUP BY 1, 2),
wg AS MATERIALIZED (SELECT w, count(*)::BIGINT AS cw_all FROM tok GROUP BY w),
wf AS MATERIALIZED (
  SELECT w, fold, count(*)::BIGINT AS cw_fold FROM tok GROUP BY 1, 2
), folds AS (SELECT unnest(generate_series(0, {_NBCV_K - 1}))::BIGINT AS fold),
vocab_f AS (
  SELECT fold, count(*)::BIGINT AS v
  FROM wg CROSS JOIN folds
  LEFT JOIN wf USING (w, fold)
  WHERE cw_all > coalesce(cw_fold, 0)
  GROUP BY fold
), pri_g AS (SELECT lang AS cls, count(*)::BIGINT AS n_c FROM docs GROUP BY 1),
pri_f AS (
  SELECT lang AS cls, fold, count(*)::BIGINT AS n_cf FROM docs GROUP BY 1, 2
), nfold AS (SELECT fold, count(*)::BIGINT AS n_f FROM docs GROUP BY fold),
nall AS (SELECT count(*)::BIGINT AS n_all FROM docs),
classes AS MATERIALIZED (
  SELECT pri_g.cls, folds.fold,
         tot_g - coalesce(tot_f, 0) AS tot_ex, v,
         log10((n_c - coalesce(n_cf, 0))::DOUBLE / (n_all - n_f)::DOUBLE)
           AS log_prior
  FROM pri_g CROSS JOIN folds
  LEFT JOIN pri_f ON pri_f.cls = pri_g.cls AND pri_f.fold = folds.fold
  JOIN totc_g ON totc_g.cls = pri_g.cls
  LEFT JOIN totc_f ON totc_f.cls = pri_g.cls AND totc_f.fold = folds.fold
  JOIN vocab_f ON vocab_f.fold = folds.fold
  JOIN nfold ON nfold.fold = folds.fold
  CROSS JOIN nall
), terms AS (
  SELECT t.doc_id, t.lang, t.fold, c.cls, c.log_prior, t.pos,
         log10((coalesce(cw_g.cg, 0) - coalesce(cw_f.cf, 0) + 1)::DOUBLE
               / (c.tot_ex + c.v)::DOUBLE) AS term
  FROM tok t
  JOIN classes c ON c.fold = t.fold
  LEFT JOIN cw_g ON cw_g.cls = c.cls AND cw_g.w = t.w
  LEFT JOIN cw_f ON cw_f.cls = c.cls AND cw_f.w = t.w AND cw_f.fold = t.fold
), folded AS MATERIALIZED (
  SELECT doc_id, lang, fold, cls,
         log_prior + list_reduce(
           list_prepend(0.0::DOUBLE, list(term ORDER BY pos)),
           (a, b) -> a + b) AS score
  FROM terms
  GROUP BY doc_id, lang, fold, cls, log_prior
), pred AS (
  SELECT doc_id, lang, fold, cls,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, cls ASC) AS r
  FROM folded
)
SELECT fold, count(*)::BIGINT AS n_docs,
       sum((cls = lang)::INT)::BIGINT AS n_correct,
       round(sum((cls = lang)::INT)::DOUBLE / count(*)::DOUBLE, 4) AS accuracy
FROM pred WHERE r = 1
GROUP BY fold
"""


# --------------------------------------------------------------------------
# docs_nb_crossval_capped — the scale-path twin (VERDICT r6 ask #3)
# --------------------------------------------------------------------------

# vocabulary df floor: a word enters the model only if it appears in at
# least max(2, ceil(n_docs/1000)) documents — integer math, so both
# engines elect the identical vocabulary with no tie ambiguity.  The
# same relative-df discipline as docs_pmi_pairs' caps: at 100 TB the
# (cls, word, fold) model table is bounded by the cap (rare words are
# most of a Zipf vocabulary), which is what keeps it broadcastable.
_NBCV_DF_DENOM = 1000


def docs_nb_crossval_capped(spark, sf_dir):
    """K-fold NB cross-validation restructured to SUFFICIENT STATISTICS
    — the scale-path twin of ``docs_nb_crossval`` (which stays in the
    registry as the exact positional-fold variant).

    Four changes, each the 100-TB discipline:

    1. **Doc×word grain, not token grain.**  Tokens aggregate once to
       (doc, word, n) — ONE persisted relation, bounded by vocab-per-
       doc, that every downstream job reuses.  The exact variant fans
       the FULL token relation ×K classes and sorts per-position
       arrays — its 21 s at sf1 is that fan-out.
    2. **Relative-df vocab cap** (``df ≥ max(2, ceil(n_docs/1000))``,
       document frequency, integer math): bounds the model.  Since
       Σ_w df(w) ≤ n_docs·max_doc_len, at most 1000·max_doc_len words
       can clear the floor — the model size is bounded INDEPENDENT of
       corpus size, which is what licenses both the broadcast and the
       driver-side assembly below.  OOV tokens are dropped from
       training AND scoring (the model is the NB over the capped
       vocabulary — a self-consistent contract with its own oracle).
    3. **Driver-assembled INTEGER model, JVM float math.**  The
       sufficient statistics are two tiny integer collects — the
       (cls, w, fold) count cube over the capped vocab and the
       (cls, fold) prior cube — and the leave-one-fold-out subtraction
       is exact integer arithmetic in Python (the centroid/BPE-table
       precedent; a chained-tiny-DataFrame formulation spent 2.7 s of
       wall on ~20 25-row shuffle stages).  All float math (log10,
       divisions) stays in Spark EXPRESSIONS over the rebuilt literal
       frames, so every double is produced by the same JVM ops the
       row-grain formulation used — the DuckDB twin hash-matches with
       no rounding slack.
    4. **Class-vectorized scoring, one pass, no window.**  The model
       broadcasts at (w, fold) grain with cls-ASC arrays of integer
       numerators; scoring is one broadcast join + one per-doc groupBy;
       per class the left fold over w-ascending terms is bit-identical
       to the (doc, cls)-grain shape.  argmax(s DESC, cls ASC) becomes
       array_position(s, array_max(s)) on the cls-ASC array.  Docs
       whose every token is OOV fall out of the join and classify by
       prior alone (left join; exercised in tests)."""
    docs = _t(spark, sf_dir, "documents").withColumn("fold", _cv_fold(F.col("doc_id")))
    # (doc, word, n) sufficient statistics, persisted: the explode is
    # fenced from the regexp by the aggregation itself, and this is the
    # ONLY relation any downstream job rescans.  The regex+explode is the
    # query's dominant single-task cost when the docs scan is a compact
    # single-row-group file (r12 event-log capture at sf1: one 17 s task
    # vs 0.7 s stage median), so THIS branch reads through the adaptive
    # fan (no-op at sf0.1/at-scale, see registry.fan_for_compute); the
    # prior/scoring branches keep the plain scan — their per-row work is
    # trivial and the scoring join re-exchanges on doc_id anyway.
    docs_fanned = fan_for_compute(_t(spark, sf_dir, "documents")).withColumn(
        "fold", _cv_fold(F.col("doc_id"))
    )
    dw = (
        docs_fanned.select(
            "doc_id",
            "lang",
            "fold",
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit(_NBCV_WORD_RE), 0)
            ).alias("w"),
        )
        .groupBy("doc_id", "lang", "fold", "w")
        .agg(F.count("*").alias("n"))
        .persist()
    )
    # prior cube: 25 integer rows — n_all, per-class, per-fold counts
    base = docs.groupBy("lang", "fold").agg(F.count("*").alias("n_cf")).collect()
    n_all = sum(r["n_cf"] for r in base)
    cls_names = sorted({r["lang"] for r in base})
    folds = list(range(_NBCV_K))
    n_c = {c: 0 for c in cls_names}
    n_f = {f: 0 for f in folds}
    n_cf = {}
    for r in base:
        n_c[r["lang"]] += r["n_cf"]
        n_f[r["fold"]] += r["n_cf"]
        n_cf[(r["lang"], r["fold"])] = r["n_cf"]
    min_df = max(2, -(-n_all // _NBCV_DF_DENOM))
    # capped-vocab count cube in ONE scan of dw (r8: the previous
    # two-pass shape — vocab election groupBy(w), then join+groupBy —
    # rescanned the persisted dw twice and cost ~0.7 s of the sf0.1
    # constant).  Pass 1 aggregates at (w, lang, fold) grain; pass 2 is
    # a TINY shuffle at w grain (input is already model-sized) that
    # sums document frequency and gathers the ≤ cls·K cells per word,
    # so the df filter and the collect both happen post-cap.  dw rows
    # are distinct (doc, w) pairs, so df(w) = Σ dfp.
    cwf = dw.groupBy("w", "lang", "fold").agg(
        F.sum("n").alias("cf"), F.count("*").alias("dfp")
    )
    per_w = cwf.groupBy("w").agg(
        F.sum("dfp").alias("df_w"),
        F.collect_list(F.struct("lang", "fold", "cf")).alias("cells"),
    )
    cw_rows = (
        per_w.filter(F.col("df_w") >= F.lit(min_df))
        .select("w", F.explode("cells").alias("c"))
        .select("c.lang", "w", "c.fold", "c.cf")
        .collect()
    )
    # exact integer model assembly (leave-one-fold-out subtraction)
    cg, cf, tot_g, tot_f = {}, {}, {c: 0 for c in cls_names}, {}
    cw_all, cw_fold = {}, {}
    for r in cw_rows:
        c, w, f, n = r["lang"], r["w"], r["fold"], r["cf"]
        cg[(c, w)] = cg.get((c, w), 0) + n
        cf[(c, w, f)] = n
        tot_g[c] += n
        tot_f[(c, f)] = tot_f.get((c, f), 0) + n
        cw_all[w] = cw_all.get(w, 0) + n
        cw_fold[(w, f)] = cw_fold.get((w, f), 0) + n
    words = sorted({w for _, w in cg})
    v = {
        f: sum(1 for w in words if cw_all[w] > cw_fold.get((w, f), 0))
        for f in folds
    }
    tot_ex = {(c, f): tot_g[c] - tot_f.get((c, f), 0) for c in cls_names for f in folds}
    # literal frames: INTEGER numerators/denominators only; log10 and
    # division happen in Spark expressions (same JVM ops as the
    # row-grain shape ⇒ bit-identical doubles)
    model_rows = [
        (
            w,
            f,
            [cg.get((c, w), 0) - cf.get((c, w, f), 0) + 1 for c in cls_names],
            [tot_ex[(c, f)] + v[f] for c in cls_names],
        )
        for w in words
        for f in folds
    ]
    model_schema = (
        "w string, fold long, nums array<long>, dens array<long>"
    )
    model = spark.createDataFrame(model_rows, model_schema).select(
        "w",
        "fold",
        F.zip_with(
            "nums",
            "dens",
            lambda nu, de: F.log10(nu.cast("double") / de.cast("double")),
        ).alias("logps"),
    )
    prior_rows = [
        (
            f,
            [n_c[c] - n_cf.get((c, f), 0) for c in cls_names],
            n_all - n_f[f],
            cls_names,
        )
        for f in folds
    ]
    priors = spark.createDataFrame(
        prior_rows,
        "fold long, pnums array<long>, pden long, names_arr array<string>",
    ).select(
        "fold",
        F.transform(
            "pnums",
            lambda nu: F.log10(nu.cast("double") / F.col("pden").cast("double")),
        ).alias("prior_arr"),
        "names_arr",
    )
    # scoring: ONE broadcast join, ONE per-doc groupBy; the class
    # fan-out lives inside arrays, not rows
    dwl = (
        dw.join(F.broadcast(model), ["w", "fold"])
        .select(
            "doc_id",
            F.struct(
                "w",
                F.transform(
                    "logps", lambda p: F.col("n").cast("double") * p
                ).alias("t"),
            ).alias("wt"),
        )
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("wt")).alias("wts"))
    )
    zeros = F.transform("prior_arr", lambda _: F.lit(0.0))
    loglik = F.when(F.col("wts").isNull(), zeros).otherwise(
        F.aggregate(
            F.transform("wts", lambda x: x["t"]),
            zeros,
            lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
        )
    )
    scored = (
        docs.select("doc_id", "lang", "fold")
        .join(dwl, "doc_id", "left")  # null wts ⇒ all-OOV doc ⇒ prior-only
        .join(F.broadcast(priors), "fold")
        .select(
            "fold",
            "lang",
            F.zip_with("prior_arr", loglik, lambda a, b: a + b).alias("s_arr"),
            F.col("names_arr"),
        )
    )
    # argmax with the (s DESC, cls ASC) tie rule: arrays are cls-ASC, so
    # the FIRST position holding the max is the lowest class
    pred = scored.select(
        "fold",
        (
            F.element_at(
                "names_arr",
                F.array_position(F.col("s_arr"), F.array_max("s_arr")).cast("int"),
            )
            == F.col("lang")
        ).cast("long").alias("hit"),
    )
    return (
        pred.groupBy("fold")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("hit").alias("n_correct"),
        )
        .select(
            "fold",
            "n_docs",
            "n_correct",
            F.round(
                F.col("n_correct").cast("double") / F.col("n_docs").cast("double"),
                4,
            ).alias("accuracy"),
        )
    )


_NBCV_CAPPED_SQL = f"""
WITH docs AS MATERIALIZED (
  SELECT doc_id, lang, text,
         CAST('0x' || substr(md5('cv|' || doc_id::VARCHAR), 1, 8) AS BIGINT)
           % {_NBCV_K} AS fold
  FROM documents
), dw AS MATERIALIZED (
  SELECT doc_id, lang, fold, w, count(*)::BIGINT AS n
  FROM (SELECT doc_id, lang, fold,
               unnest(regexp_extract_all(lower(text), '{_NBCV_WORD_RE}')) AS w
        FROM docs)
  GROUP BY 1, 2, 3, 4
), nall AS (SELECT count(*)::BIGINT AS n_all FROM docs),
vocab AS MATERIALIZED (
  SELECT w FROM (SELECT w, count(*)::BIGINT AS df_w FROM dw GROUP BY w)
  CROSS JOIN nall
  WHERE df_w >= greatest(2, (n_all + {_NBCV_DF_DENOM - 1}) // {_NBCV_DF_DENOM})
), dwv AS MATERIALIZED (
  SELECT dw.* FROM dw JOIN vocab USING (w)
), cw_g AS MATERIALIZED (
  SELECT lang AS cls, w, sum(n)::BIGINT AS cg FROM dwv GROUP BY 1, 2
), cw_f AS MATERIALIZED (
  SELECT lang AS cls, w, fold, sum(n)::BIGINT AS cf FROM dwv GROUP BY 1, 2, 3
), totc_g AS (SELECT cls, sum(cg)::BIGINT AS tot_g FROM cw_g GROUP BY cls),
totc_f AS (SELECT cls, fold, sum(cf)::BIGINT AS tot_f FROM cw_f GROUP BY 1, 2),
wg AS MATERIALIZED (SELECT w, sum(n)::BIGINT AS cw_all FROM dwv GROUP BY w),
wf AS MATERIALIZED (
  SELECT w, fold, sum(n)::BIGINT AS cw_fold FROM dwv GROUP BY 1, 2
), folds AS (SELECT unnest(generate_series(0, {_NBCV_K - 1}))::BIGINT AS fold),
vocab_f AS (
  SELECT fold, count(*)::BIGINT AS v
  FROM wg CROSS JOIN folds
  LEFT JOIN wf USING (w, fold)
  WHERE cw_all > coalesce(cw_fold, 0)
  GROUP BY fold
), pri_g AS (SELECT lang AS cls, count(*)::BIGINT AS n_c FROM docs GROUP BY 1),
pri_f AS (
  SELECT lang AS cls, fold, count(*)::BIGINT AS n_cf FROM docs GROUP BY 1, 2
), nfold AS (SELECT fold, count(*)::BIGINT AS n_f FROM docs GROUP BY fold),
classes AS MATERIALIZED (
  SELECT pri_g.cls, folds.fold,
         tot_g - coalesce(tot_f, 0) AS tot_ex, v,
         log10((n_c - coalesce(n_cf, 0))::DOUBLE / (n_all - n_f)::DOUBLE)
           AS log_prior
  FROM pri_g CROSS JOIN folds
  LEFT JOIN pri_f ON pri_f.cls = pri_g.cls AND pri_f.fold = folds.fold
  JOIN totc_g ON totc_g.cls = pri_g.cls
  LEFT JOIN totc_f ON totc_f.cls = pri_g.cls AND totc_f.fold = folds.fold
  JOIN vocab_f ON vocab_f.fold = folds.fold
  JOIN nfold ON nfold.fold = folds.fold
  CROSS JOIN nall
), terms AS (
  SELECT t.doc_id, t.lang, t.fold, c.cls, c.log_prior, t.w,
         t.n::DOUBLE * log10((coalesce(cw_g.cg, 0) - coalesce(cw_f.cf, 0) + 1)::DOUBLE
               / (c.tot_ex + c.v)::DOUBLE) AS term
  FROM dwv t
  JOIN classes c ON c.fold = t.fold
  LEFT JOIN cw_g ON cw_g.cls = c.cls AND cw_g.w = t.w
  LEFT JOIN cw_f ON cw_f.cls = c.cls AND cw_f.w = t.w AND cw_f.fold = t.fold
), folded AS MATERIALIZED (
  SELECT doc_id, lang, fold, cls,
         log_prior + list_reduce(
           list_prepend(0.0::DOUBLE, list(term ORDER BY w)),
           (a, b) -> a + b) AS s
  FROM terms
  GROUP BY doc_id, lang, fold, cls, log_prior
), oov AS (
  SELECT d.doc_id, d.lang, d.fold, c.cls, c.log_prior AS s
  FROM docs d JOIN classes c ON c.fold = d.fold
  WHERE d.doc_id NOT IN (SELECT DISTINCT doc_id FROM dwv)
), pred AS (
  SELECT doc_id, lang, fold, cls,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY s DESC, cls ASC) AS r
  FROM (SELECT * FROM folded UNION ALL SELECT * FROM oov)
)
SELECT fold, count(*)::BIGINT AS n_docs,
       sum((cls = lang)::INT)::BIGINT AS n_correct,
       round(sum((cls = lang)::INT)::DOUBLE / count(*)::DOUBLE, 4) AS accuracy
FROM pred WHERE r = 1
GROUP BY fold
"""


# --------------------------------------------------------------------------
# customer_k_anonymity
# --------------------------------------------------------------------------

_KANON_K = 5


def customer_k_anonymity(spark, sf_dir):
    """k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala
    et al. 2007) over the customer quasi-identifier (nation, market
    segment, account-balance band) with the account-balance SIGN as the
    stand-in sensitive attribute — the release gate a training-data
    pipeline runs before publishing user-derived rows.  One keyed agg
    to QI-class grain, then a tiny class-size rollup: per class-size
    bucket, the number of classes, rows, rows violating k=5, and the
    minimum l-diversity — all integers (one final ratio).  At 100 TB
    this is scan + two keyed aggs; no sort, no join."""
    cust = _t(spark, sf_dir, "customer")
    qi = cust.select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
        (F.col("c_acctbal") < 0).cast("long").alias("sensitive"),
    )
    classes = qi.groupBy("nation", "segment", "bal_band").agg(
        F.count("*").alias("cls_size"),
        F.countDistinct("sensitive").alias("l_div"),
    )
    return (
        classes.groupBy("cls_size")
        .agg(
            F.count("*").alias("n_classes"),
            F.sum("cls_size").alias("n_rows"),
            F.min("l_div").alias("min_l_diversity"),
        )
        .select(
            "cls_size",
            "n_classes",
            "n_rows",
            F.when(F.col("cls_size") < _KANON_K, F.col("n_rows"))
            .otherwise(F.lit(0))
            .alias("rows_violating_k"),
            "min_l_diversity",
        )
    )


_KANON_SQL = f"""
WITH qi AS (
  SELECT c_nationkey AS nation, c_mktsegment AS segment,
         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
         (c_acctbal < 0)::INT::BIGINT AS sensitive
  FROM customer
), classes AS (
  SELECT nation, segment, bal_band, count(*)::BIGINT AS cls_size,
         count(DISTINCT sensitive)::BIGINT AS l_div
  FROM qi GROUP BY 1, 2, 3
)
SELECT cls_size, count(*)::BIGINT AS n_classes,
       sum(cls_size)::BIGINT AS n_rows,
       CASE WHEN cls_size < {_KANON_K} THEN sum(cls_size)::BIGINT
            ELSE 0 END AS rows_violating_k,
       min(l_div)::BIGINT AS min_l_diversity
FROM classes
GROUP BY cls_size
"""


# --------------------------------------------------------------------------
# lineitem_reconciliation
# --------------------------------------------------------------------------

_RECON_BUCKETS = 64


def lineitem_reconciliation(spark, sf_dir):
    """Cross-system migration/replication reconciliation: compare a
    table against its replica with per-bucket ORDER-INSENSITIVE row
    checksums instead of a row-level join — the audit that certifies a
    100 TB copy with two scans and a 64-row compare.  Each row hashes
    to a 32-bit md5 integer over its canonicalized business columns;
    bucket = hash % 64; the bucket signature is (row count, Σ hash) —
    both associative-commutative BIGINT aggregates, so partial aggs
    merge freely.  The 'replica' is derived deterministically with an
    injected fault (rows whose hash % 9973 == 0 get a one-cent price
    corruption), so mismatched buckets are real and the blast-radius
    readout (how many buckets would need re-sync) is non-trivial.
    Output: per-bucket rows/checksums for both sides + match flag."""
    li = _t(spark, sf_dir, "lineitem")

    def rowsig(df):
        canon = F.concat_ws(
            "|",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
            F.col("l_partkey").cast("string"),
            F.col("price_c").cast("string"),
        )
        h = F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("long")
        return df.select((h % _RECON_BUCKETS).alias("bucket"), h.alias("h"))

    src = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
    )
    keyh = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "~",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    replica = src.withColumn(
        "price_c",
        F.when(keyh % 9973 == 0, F.col("price_c") + 1).otherwise(F.col("price_c")),
    )
    a = rowsig(src).groupBy("bucket").agg(
        F.count("*").alias("src_rows"), F.sum("h").alias("src_sum")
    )
    b = rowsig(replica).groupBy("bucket").agg(
        F.count("*").alias("dst_rows"), F.sum("h").alias("dst_sum")
    )
    return a.join(b, "bucket", "full").select(
        "bucket",
        "src_rows",
        "dst_rows",
        "src_sum",
        "dst_sum",
        (
            (F.col("src_rows") == F.col("dst_rows"))
            & (F.col("src_sum") == F.col("dst_sum"))
        )
        .cast("long")
        .alias("is_match"),
    )


_RECON_SQL = f"""
WITH src AS MATERIALIZED (
  SELECT l_orderkey, l_linenumber, l_partkey,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_c
  FROM lineitem
), replica AS (
  SELECT l_orderkey, l_linenumber, l_partkey,
         CASE WHEN CAST('0x' || substr(md5(l_orderkey::VARCHAR || '~'
                    || l_linenumber::VARCHAR), 1, 8) AS BIGINT) % 9973 = 0
              THEN price_c + 1 ELSE price_c END AS price_c
  FROM src
), ah AS (
  SELECT CAST('0x' || substr(md5(l_orderkey::VARCHAR || '|'
              || l_linenumber::VARCHAR || '|' || l_partkey::VARCHAR || '|'
              || price_c::VARCHAR), 1, 8) AS BIGINT) AS h
  FROM src
), bh AS (
  SELECT CAST('0x' || substr(md5(l_orderkey::VARCHAR || '|'
              || l_linenumber::VARCHAR || '|' || l_partkey::VARCHAR || '|'
              || price_c::VARCHAR), 1, 8) AS BIGINT) AS h
  FROM replica
), a AS (
  SELECT h % {_RECON_BUCKETS} AS bucket, count(*)::BIGINT AS src_rows,
         sum(h)::BIGINT AS src_sum
  FROM ah GROUP BY 1
), b AS (
  SELECT h % {_RECON_BUCKETS} AS bucket, count(*)::BIGINT AS dst_rows,
         sum(h)::BIGINT AS dst_sum
  FROM bh GROUP BY 1
)
SELECT bucket, src_rows, dst_rows, src_sum, dst_sum,
       (src_rows = dst_rows AND src_sum = dst_sum)::INT::BIGINT AS is_match
FROM a FULL JOIN b USING (bucket)
"""


# --------------------------------------------------------------------------
# embedding_jl_audit
# --------------------------------------------------------------------------

_JL_K = 16
_JL_D = 64


def _jl_matrix() -> list:
    """Deterministic ±1 Rademacher projection matrix (k rows × d cols)
    from md5 parity — a LITERAL both engines embed, so no engine hash
    is evaluated per row (at 100 TB the matrix is a broadcast constant;
    here it is 1,024 inline literals)."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"jl|{j}|{i}".encode()).hexdigest()[:8], 16) % 2 == 0
            else -1
            for i in range(_JL_D)
        ]
        for j in range(_JL_K)
    ]


def embedding_jl_audit(spark, sf_dir):
    """Johnson–Lindenstrauss random-projection audit: project d=64
    embeddings to k=16 with a deterministic ±1 Rademacher matrix
    (Achlioptas 2003) and report the distribution of pairwise
    squared-distance distortion ||Ra−Rb||²/||a−b||² over the
    consecutive-id pair sample — the check one runs BEFORE swapping a
    corpus index to a cheaper projected space.  Distortion ratios are
    bucketed at 0.1 grain (integer counts; min/max ride along rounded
    4).  Exactness: the projection fold, the squared-diff folds, and
    the final ratio run in INDEX ORDER on both engines (zip_with +
    left fold ≡ DuckDB list comprehension + list_reduce), so the raw
    doubles are bit-identical before any rounding.  Shapes: one keyed
    self-join on vec_id+1 (no window over the corpus), map-side
    projection, one tiny histogram agg."""
    R = _jl_matrix()
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    rlit = F.array(
        *[F.array(*[F.lit(float(v)) for v in row]) for row in R]
    )
    proj = F.transform(
        rlit,
        lambda row: F.aggregate(
            F.zip_with(F.col("x"), row, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        / F.lit(4.0),  # 1/sqrt(k), k=16
    )
    # persist the projected frame: both pair sides read ONE cached
    # projection pass (the 1,024-term folds are the expensive map work)
    p = emb.select("vec_id", "x", proj.alias("y")).persist()
    a = p.select(
        F.col("vec_id").alias("id"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = p.select(
        (F.col("vec_id") - 1).alias("id"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
    )

    def sqdist(u, v):
        return F.aggregate(
            F.zip_with(F.col(u), F.col(v), lambda s, t: (s - t) * (s - t)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    pairs = a.join(b, "id").select(
        "id",
        (sqdist("ya", "yb") / sqdist("xa", "xb")).alias("ratio"),
    )
    return (
        pairs.groupBy(F.floor(F.col("ratio") * 10).cast("long").alias("ratio_band"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.min("ratio"), 4).alias("min_ratio"),
            F.round(F.max("ratio"), 4).alias("max_ratio"),
        )
    )


def _jl_sql() -> str:
    R = _jl_matrix()
    rlit = "[" + ", ".join(
        "[" + ", ".join(f"{float(v)}::DOUBLE" for v in row) + "]" for row in R
    ) + "]"
    return f"""
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
), proj AS MATERIALIZED (
  SELECT vec_id, x,
         list_transform({rlit}, row ->
           list_reduce(
             list_prepend(0.0::DOUBLE,
               [x[i] * row[i] FOR i IN range(1, len(x) + 1)]),
             (a, b) -> a + b) / 4.0) AS y
  FROM emb
), pairs AS (
  SELECT a.vec_id AS id,
         list_reduce(list_prepend(0.0::DOUBLE,
           [(a.y[i] - b.y[i]) * (a.y[i] - b.y[i]) FOR i IN range(1, len(a.y) + 1)]),
           (p, q) -> p + q)
         / list_reduce(list_prepend(0.0::DOUBLE,
           [(a.x[i] - b.x[i]) * (a.x[i] - b.x[i]) FOR i IN range(1, len(a.x) + 1)]),
           (p, q) -> p + q) AS ratio
  FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1
)
SELECT CAST(floor(ratio * 10) AS BIGINT) AS ratio_band,
       count(*)::BIGINT AS n_pairs,
       round(min(ratio), 4) AS min_ratio,
       round(max(ratio), 4) AS max_ratio
FROM pairs
GROUP BY 1
"""


# --------------------------------------------------------------------------
# events_ucb1_replay
# --------------------------------------------------------------------------


def events_ucb1_replay(spark, sf_dir):
    """Offline UCB1 bandit replay (Auer et al. 2002): arms = event
    types, reward = cent value, one decision per day — which arm the
    policy WOULD have pulled given cumulative evidence through the
    previous day (mean + sqrt(2·ln N / n), unplayed arms first with
    arm-asc priority).  The replay runs entirely on the day × arm GRID
    (≤ 5·days rows — the dim-grain window budget): raw events reduce
    once to per-cell (plays, Σcents), cumulative state is a per-arm
    window with a -1 row bound, N comes from a same-grid day window.
    Raw-double argmax (ln/sqrt of exact integers — bit-identical) with
    arm-asc ties; scores surface rounded 4.  The policy-evaluation
    shape every logged-decision system replays at scale."""
    ev = _t(spark, sf_dir, "events")
    cells = (
        ev.select(
            F.to_date("ts").alias("day"),
            F.col("event_type").alias("arm"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("day", "arm")
        .agg(F.count("*").alias("n_dt"), F.sum("cents").alias("r_dt"))
        .persist()  # the tiny cell grid feeds days, arms, and the replay
    )
    days = cells.select("day").distinct()
    arms = cells.select("arm").distinct()
    grid = (
        days.crossJoin(F.broadcast(arms))
        .join(cells, ["day", "arm"], "left")
        .select(
            "day",
            "arm",
            F.coalesce(F.col("n_dt"), F.lit(0)).alias("n_dt"),
            F.coalesce(F.col("r_dt"), F.lit(0)).alias("r_dt"),
        )
    )
    wprev = (
        Window.partitionBy("arm")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    g = grid.withColumn("cum_n", F.coalesce(F.sum("n_dt").over(wprev), F.lit(0)))
    g = g.withColumn("cum_r", F.coalesce(F.sum("r_dt").over(wprev), F.lit(0)))
    wday = Window.partitionBy("day")
    g = g.withColumn("n_total", F.sum("cum_n").over(wday))
    score = F.when(
        F.col("cum_n") > 0,
        F.col("cum_r").cast("double") / (F.lit(100.0) * F.col("cum_n").cast("double"))
        + F.sqrt(
            F.lit(2.0)
            * F.log(F.col("n_total").cast("double"))
            / F.col("cum_n").cast("double")
        ),
    )
    wpick = Window.partitionBy("day").orderBy(
        (F.col("cum_n") > 0).cast("int").asc(),
        F.when(F.col("cum_n") > 0, -score).otherwise(F.lit(0.0)).asc(),
        F.asc("arm"),
    )
    return (
        g.withColumn("__score", score)
        .withColumn("__r", F.row_number().over(wpick))
        .filter(F.col("__r") == 1)
        .select(
            "day",
            F.col("arm").alias("chosen_arm"),
            F.round(F.col("__score"), 4).alias("ucb_score"),
            F.when(
                F.col("n_dt") > 0,
                F.round(
                    F.col("r_dt").cast("double")
                    / (F.lit(100.0) * F.col("n_dt").cast("double")),
                    4,
                ),
            ).alias("realized_mean"),
        )
    )


_UCB_SQL = SPARK_ROUND4_MACRO + """
WITH cells AS MATERIALIZED (
  SELECT ts::DATE AS day, event_type AS arm,
         count(*)::BIGINT AS n_dt,
         sum(CAST(floor(value * 100) AS BIGINT))::BIGINT AS r_dt
  FROM events GROUP BY 1, 2
), grid AS (
  SELECT d.day, a.arm,
         coalesce(n_dt, 0)::BIGINT AS n_dt, coalesce(r_dt, 0)::BIGINT AS r_dt
  FROM (SELECT DISTINCT day FROM cells) d
  CROSS JOIN (SELECT DISTINCT arm FROM cells) a
  LEFT JOIN cells USING (day, arm)
), g AS (
  SELECT *,
         coalesce(sum(n_dt) OVER (PARTITION BY arm ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_n,
         coalesce(sum(r_dt) OVER (PARTITION BY arm ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_r
  FROM grid
), g2 AS (
  SELECT *, sum(cum_n) OVER (PARTITION BY day)::BIGINT AS n_total,
         CASE WHEN cum_n > 0 THEN
           cum_r::DOUBLE / (100.0 * cum_n::DOUBLE)
           + sqrt(2.0 * ln(n_total_pre::DOUBLE) / cum_n::DOUBLE)
         END AS score
  FROM (SELECT *, sum(cum_n) OVER (PARTITION BY day)::BIGINT AS n_total_pre
        FROM g)
), picked AS (
  SELECT *, row_number() OVER (PARTITION BY day ORDER BY
           (cum_n > 0)::INT ASC,
           CASE WHEN cum_n > 0 THEN -score ELSE 0.0 END ASC,
           arm ASC) AS r
  FROM g2
)
SELECT day, arm AS chosen_arm,
       CASE WHEN score IS NOT NULL THEN spark_round4(score) END AS ucb_score,
       CASE WHEN n_dt > 0
            THEN spark_round4(r_dt::DOUBLE / (100.0 * n_dt::DOUBLE)) END
         AS realized_mean
FROM picked WHERE r = 1
"""


# --------------------------------------------------------------------------
# events_ips_offpolicy
# --------------------------------------------------------------------------

_IPS_CLIP = 3
_IPS_TARGET = "purchase"


def events_ips_offpolicy(spark, sf_dir):
    """Off-policy evaluation of a fixed target policy (always pull
    'purchase') from logged traffic via inverse-propensity scoring
    (Horvitz–Thompson; Swaminathan & Joachims SNIPS): behavior
    propensities are the empirical per-day action frequencies, so the
    per-day importance weight is the exact rational N_d/n_d (clipped at
    3 by an INTEGER comparison, no float threshold).  Raw events
    reduce to ≤ n_days cells (matched Σcents, matched count, day
    total); the IPS / clipped-IPS / SNIPS sums fold over the DAY-SORTED
    cell array (ordered left fold — the cross-engine IEEE discipline),
    one row out.  The counterfactual-readout shape for any logged
    decision system: one scan, one tiny grid, no row-level weights
    materialized."""
    ev = _t(spark, sf_dir, "events")
    cells = (
        ev.select(
            F.to_date("ts").alias("day"),
            F.col("event_type").alias("a"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("day")
        .agg(
            F.count("*").alias("nd"),
            F.sum((F.col("a") == _IPS_TARGET).cast("long")).alias("nm"),
            F.sum(
                F.when(F.col("a") == _IPS_TARGET, F.col("cents")).otherwise(0)
            ).alias("sm"),
        )
        .filter(F.col("nm") > 0)
    )
    w = F.col("c.nd").cast("double") / F.col("c.nm").cast("double")
    wc = F.when(
        F.col("c.nd") <= _IPS_CLIP * F.col("c.nm"), w
    ).otherwise(F.lit(float(_IPS_CLIP)))
    terms = cells.alias("c").select(
        "c.day",
        "c.nd",
        "c.nm",
        (F.col("c.sm").cast("double") * w).alias("t_ips"),
        (F.col("c.sm").cast("double") * wc).alias("t_num_c"),
        (F.col("c.nm").cast("double") * wc).alias("t_den_c"),
    )

    def fold(field):
        return F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("day", field))),
                lambda s: s[field],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    return terms.agg(
        F.count("*").alias("n_days"),
        F.sum("nd").alias("n_total"),
        F.sum("nm").alias("n_matched"),
        F.round(fold("t_ips") / (F.lit(100.0) * F.sum("nd")), 4).alias("ips_value"),
        F.round(fold("t_num_c") / (F.lit(100.0) * F.sum("nd")), 4).alias(
            "ips_clipped"
        ),
        F.round(fold("t_num_c") / (F.lit(100.0) * fold("t_den_c")), 4).alias(
            "snips_clipped"
        ),
    )


_IPS_SQL = f"""
WITH cells AS MATERIALIZED (
  SELECT ts::DATE AS day, count(*)::BIGINT AS nd,
         sum((event_type = '{_IPS_TARGET}')::INT)::BIGINT AS nm,
         sum(CASE WHEN event_type = '{_IPS_TARGET}'
                  THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)::BIGINT
           AS sm
  FROM events GROUP BY 1
  HAVING sum((event_type = '{_IPS_TARGET}')::INT) > 0
), terms AS (
  SELECT day, nd, nm,
         sm::DOUBLE * (nd::DOUBLE / nm::DOUBLE) AS t_ips,
         sm::DOUBLE * (CASE WHEN nd <= {_IPS_CLIP} * nm
                            THEN nd::DOUBLE / nm::DOUBLE
                            ELSE {_IPS_CLIP}.0 END) AS t_num_c,
         nm::DOUBLE * (CASE WHEN nd <= {_IPS_CLIP} * nm
                            THEN nd::DOUBLE / nm::DOUBLE
                            ELSE {_IPS_CLIP}.0 END) AS t_den_c
  FROM cells
)
SELECT count(*)::BIGINT AS n_days,
       sum(nd)::BIGINT AS n_total,
       sum(nm)::BIGINT AS n_matched,
       round(list_reduce(list_prepend(0.0::DOUBLE, list(t_ips ORDER BY day)),
                         (a, b) -> a + b) / (100.0 * sum(nd)), 4) AS ips_value,
       round(list_reduce(list_prepend(0.0::DOUBLE, list(t_num_c ORDER BY day)),
                         (a, b) -> a + b) / (100.0 * sum(nd)), 4) AS ips_clipped,
       round(list_reduce(list_prepend(0.0::DOUBLE, list(t_num_c ORDER BY day)),
                         (a, b) -> a + b)
             / (100.0 *
                list_reduce(list_prepend(0.0::DOUBLE, list(t_den_c ORDER BY day)),
                            (a, b) -> a + b)), 4) AS snips_clipped
FROM terms
"""


# --------------------------------------------------------------------------
# media_phash_dedup
# --------------------------------------------------------------------------


def media_phash_dedup(spark, sf_dir):
    """Perceptual image dedup: REAL PNG pixel decode (stdlib inflate +
    full five-type scanline defilter, ``functions/media.py``) → 64-bit
    average hash with exact integer mean comparisons → exact-hash
    family grouping (count + id span per family).  Grouping at hash
    grain is the scale-safe dedup shape (one keyed agg, NO pair
    generation — the SimHash exact-band argument; a hamming-band
    near-dup pass would bucket on hash prefixes with the LSH cap
    discipline).  The ORACLE recomputes each hash in CLOSED FORM from
    the deterministic synthesis recipe (gradient pixel (fill+y)%256,
    dims from doc_id/text length) without touching a byte — so the
    correctness gate proves the real decoder + hash end-to-end against
    an independent derivation.  Audio/video/undecodable assets yield
    null hashes and are quarantined out."""
    from ..operators.multimodal import documents_as_media, perceptual_hash

    docs = _t(spark, sf_dir, "documents")
    ph = perceptual_hash(documents_as_media(docs))
    return (
        ph.filter(F.col("phash_hi").isNotNull())
        .groupBy("phash_hi", "phash_lo")
        .agg(
            F.count("*").alias("n_assets"),
            F.min("asset_id").alias("min_id"),
            F.max("asset_id").alias("max_id"),
        )
    )


def _phash_sql() -> str:
    bit = []
    for r in range(8):
        bit.append(
            f"(list_sum([(fill + y) % 256 FOR y IN "
            f"range(({r} * h) // 8, ({r + 1} * h) // 8)]) * h"
            f" > s * ((({r + 1} * h) // 8 - ({r} * h) // 8)))::INT AS b{r}"
        )
    hi = " + ".join(f"b{r} * ({255 << (24 - 8 * r)})" for r in range(4))
    lo = " + ".join(f"b{r} * ({255 << (24 - 8 * (r - 4))})" for r in range(4, 8))
    return f"""
WITH img AS (
  SELECT doc_id AS asset_id, doc_id % 256 AS fill,
         16 + length(text) % 48 AS h
  FROM documents WHERE doc_id % 3 = 0
), withs AS (
  SELECT *, list_sum([(fill + y) % 256 FOR y IN range(0, h)]) AS s FROM img
), bits AS (
  SELECT asset_id, {", ".join(bit)}
  FROM withs
), hashed AS (
  SELECT asset_id, ({hi})::BIGINT AS phash_hi, ({lo})::BIGINT AS phash_lo
  FROM bits
)
SELECT phash_hi, phash_lo, count(*)::BIGINT AS n_assets,
       min(asset_id) AS min_id, max(asset_id) AS max_id
FROM hashed
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# events_forecast_backtest
# --------------------------------------------------------------------------

_FB_SPLIT = "2024-01-24"  # last 7 days are the holdout
_FB_SEASON = 7


def events_forecast_backtest(spark, sf_dir):
    """Seasonal-naive forecast backtest with MASE (Hyndman & Koehler
    2006): per event type, forecast daily revenue with ŷ_d = y_{d−7},
    score the 7-day holdout by MAE, and scale it by the IN-SAMPLE
    seasonal-naive MAE (the MASE denominator) so accuracy is comparable
    across series of different magnitude — the backtest gate a
    forecasting pipeline runs before promoting a model.  Everything
    reduces to the day×type grid first (≤ 5·days rows), the lag is one
    per-type grid window, and all |error| sums are BIGINT cents — two
    exact integer sums per type, one final division, round 4."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.to_date("ts").alias("day"),
            F.col("event_type").alias("series"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("day", "series")
        .agg(F.sum("cents").alias("y"))
    )
    w = Window.partitionBy("series").orderBy("day")
    lagd = daily.withColumn("y_lag", F.lag("y", _FB_SEASON).over(w)).withColumn(
        "is_test", F.col("day") >= F.lit(_FB_SPLIT).cast("date")
    )
    err = F.abs(F.col("y") - F.col("y_lag"))
    agg = (
        lagd.filter(F.col("y_lag").isNotNull())
        .groupBy("series")
        .agg(
            F.sum((~F.col("is_test")).cast("long")).alias("n_train"),
            F.sum(F.col("is_test").cast("long")).alias("n_test"),
            F.sum(F.when(~F.col("is_test"), err).otherwise(0)).alias("sae_train"),
            F.sum(F.when(F.col("is_test"), err).otherwise(0)).alias("sae_test"),
        )
    )
    mae_test = F.col("sae_test").cast("double") / F.col("n_test").cast("double")
    mae_train = F.col("sae_train").cast("double") / F.col("n_train").cast("double")
    return agg.select(
        "series",
        "n_train",
        "n_test",
        F.round(mae_test / 100.0, 4).alias("mae_test"),
        F.round(mae_train / 100.0, 4).alias("mae_insample"),
        F.round(mae_test / mae_train, 4).alias("mase"),
    )


_FB_SQL = SPARK_ROUND4_MACRO + f"""
WITH daily AS (
  SELECT ts::DATE AS day, event_type AS series,
         sum(CAST(floor(value * 100) AS BIGINT))::BIGINT AS y
  FROM events GROUP BY 1, 2
), lagd AS (
  SELECT *, lag(y, {_FB_SEASON}) OVER (PARTITION BY series ORDER BY day)
           AS y_lag,
         day >= DATE '{_FB_SPLIT}' AS is_test
  FROM daily
), agg AS (
  SELECT series,
         sum((NOT is_test)::INT)::BIGINT AS n_train,
         sum(is_test::INT)::BIGINT AS n_test,
         sum(CASE WHEN NOT is_test THEN abs(y - y_lag) ELSE 0 END)::BIGINT
           AS sae_train,
         sum(CASE WHEN is_test THEN abs(y - y_lag) ELSE 0 END)::BIGINT
           AS sae_test
  FROM lagd WHERE y_lag IS NOT NULL
  GROUP BY series
)
SELECT series, n_train, n_test,
       spark_round4(sae_test::DOUBLE / n_test::DOUBLE / 100.0) AS mae_test,
       spark_round4(sae_train::DOUBLE / n_train::DOUBLE / 100.0) AS mae_insample,
       spark_round4((sae_test::DOUBLE / n_test::DOUBLE)
             / (sae_train::DOUBLE / n_train::DOUBLE)) AS mase
FROM agg
"""


# --------------------------------------------------------------------------
# linkage_entity_clusters
# --------------------------------------------------------------------------


def linkage_entity_clusters(spark, sf_dir):
    """The full entity-resolution pipeline: blocked Fellegi–Sunter
    match pairs (``customer_record_linkage``) → connected components
    over the bipartite record graph (A-records at 2k, B-records at
    2k+1 — disjoint id spaces) → one row per MERGED ENTITY with record
    counts per feed and the custkey span.  Transitive closure is what
    turns pairwise matches into entities (A₁—B₃—A₇ collapses to one);
    the CC runs on match edges only (bounded by linkage output, itself
    block-bounded), pointer-jump iterations as in
    ``operators/components.py``."""
    from ..operators.components import connected_components

    from .analytics_r8 import customer_record_linkage

    matches = customer_record_linkage(spark, sf_dir).select(
        (F.col("a_key") * 2).alias("id_a"),
        (F.col("b_key") * 2 + 1).alias("id_b"),
    )
    cc = connected_components(matches, "id_a", "id_b")
    return (
        cc.groupBy("component")
        .agg(
            F.count("*").alias("n_records"),
            F.sum((F.col("node") % 2 == 0).cast("long")).alias("n_feed_a"),
            F.sum((F.col("node") % 2 == 1).cast("long")).alias("n_feed_b"),
            F.min(F.floor(F.col("node") / 2)).cast("long").alias("min_custkey"),
            F.max(F.floor(F.col("node") / 2)).cast("long").alias("max_custkey"),
        )
        .select(
            F.col("component").alias("entity"),
            "n_records",
            "n_feed_a",
            "n_feed_b",
            "min_custkey",
            "max_custkey",
        )
    )


def _linkage_cc_sql() -> str:
    from .analytics_r8 import _RL_SQL

    prefix = _RL_SQL[: _RL_SQL.rindex("SELECT a_key, b_key, name_dist")]
    prefix = prefix.replace("WITH h AS (", "WITH RECURSIVE h AS (", 1)
    return prefix.rstrip() + """, matches AS MATERIALIZED (
  SELECT a_key * 2 AS id_a, b_key * 2 + 1 AS id_b
  FROM scored WHERE score >= 6.0
), edges AS MATERIALIZED (
  SELECT id_a AS s, id_b AS d FROM matches
  UNION
  SELECT id_b AS s, id_a AS d FROM matches
), reach AS (
  SELECT s AS node, s AS r FROM edges
  UNION
  SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.node
), cc AS MATERIALIZED (
  SELECT node, min(r) AS component FROM reach GROUP BY node
)
SELECT component AS entity, count(*)::BIGINT AS n_records,
       sum((node % 2 = 0)::INT)::BIGINT AS n_feed_a,
       sum((node % 2 = 1)::INT)::BIGINT AS n_feed_b,
       CAST(min(node // 2) AS BIGINT) AS min_custkey,
       CAST(max(node // 2) AS BIGINT) AS max_custkey
FROM cc GROUP BY component
"""


# --------------------------------------------------------------------------
# layout_hash_partition
# --------------------------------------------------------------------------

_HP_BUCKETS = 64


def layout_hash_partition(spark, sf_dir):
    """Hash-partition balance audit — the companion to
    ``layout_range_partition``: assign each order key to one of 64
    hash buckets (portable md5 hash, the engine-neutral stand-in for
    murmur3 `pmod(hash(k), n)`), and report the balance summary plus a
    chi-square uniformity statistic ((o−e)²/e with e = n/64 in exact
    arithmetic until one division) — the pre-flight check that a
    chosen partition count and key won't skew a 100 TB shuffle.  One
    scan, one 64-group agg, one 1-row rollup."""
    orders = _t(spark, sf_dir, "orders")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("hp|"), F.col("o_orderkey"))), 1, 8), 16, 10
    ).cast("long")
    per = (
        orders.select((h % _HP_BUCKETS).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("o"))
    )
    agg = per.agg(
        F.count("*").alias("n_buckets_used"),
        F.sum("o").alias("n_rows"),
        F.min("o").alias("min_rows"),
        F.max("o").alias("max_rows"),
        F.sum(F.col("o") * F.col("o")).alias("sum_sq"),
    )
    # chi2 = B/n * sum(o^2) - n  (algebraic expansion of sum((o-e)^2/e))
    chi2 = (
        F.lit(float(_HP_BUCKETS)) * F.col("sum_sq").cast("double")
        / F.col("n_rows").cast("double")
        - F.col("n_rows").cast("double")
    )
    return agg.select(
        "n_buckets_used",
        "n_rows",
        "min_rows",
        "max_rows",
        F.round(
            F.col("max_rows").cast("double")
            * F.lit(float(_HP_BUCKETS))
            / F.col("n_rows").cast("double"),
            4,
        ).alias("max_balance"),
        F.round(chi2, 4).alias("chi2"),
    )


_HP_SQL = f"""
WITH per AS (
  SELECT CAST('0x' || substr(md5('hp|' || o_orderkey::VARCHAR), 1, 8) AS BIGINT)
           % {_HP_BUCKETS} AS bucket,
         count(*)::BIGINT AS o
  FROM orders GROUP BY 1
)
SELECT count(*)::BIGINT AS n_buckets_used,
       sum(o)::BIGINT AS n_rows,
       min(o)::BIGINT AS min_rows,
       max(o)::BIGINT AS max_rows,
       round(max(o)::DOUBLE * {_HP_BUCKETS}.0 / sum(o)::DOUBLE, 4)
         AS max_balance,
       round({_HP_BUCKETS}.0 * sum(o * o)::DOUBLE / sum(o)::DOUBLE
             - sum(o)::DOUBLE, 4) AS chi2
FROM per
"""


# --------------------------------------------------------------------------
# components_incremental
# --------------------------------------------------------------------------


def components_incremental(spark, sf_dir):
    """Incremental connected-components maintenance — the graph twin of
    ``events_mv_incremental``: a nightly dup-family graph keeps its old
    component labels, and a delta batch (docs with md5(doc_id)%10 == 0)
    contributes only its NEW edges.  The merge runs CC on the
    CONTRACTED graph — touched edges with old endpoints mapped through
    their existing labels — so the iterative work is O(components
    touched + delta nodes), never a full-graph recompute.  Min-label
    CC COMPOSES: an old component's label is already the min id of its
    old part, so the contracted fixpoint reproduces exactly the labels
    a full recompute would assign — and the ORACLE IS THE FULL
    RECOMPUTE (recursive-CTE closure over all edges), so the
    correctness gate itself proves the maintenance algebra.  Output:
    one row per component with member counts split old/new."""
    from ..operators.components import connected_components
    from ..operators.dedup import jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    is_new = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ccd|"), F.col("doc_id"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 10
        == 0
    )
    docs = docs.withColumn("__new", is_new)
    pairs = jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.05)
    flags = docs.select("doc_id", "__new")
    fa = flags.select(F.col("doc_id").alias("id_a"), F.col("__new").alias("na"))
    fb = flags.select(F.col("doc_id").alias("id_b"), F.col("__new").alias("nb"))
    tagged = pairs.join(F.broadcast(fa), "id_a").join(F.broadcast(fb), "id_b").persist()
    old_edges = tagged.filter(~F.col("na") & ~F.col("nb")).select("id_a", "id_b")
    touched = tagged.filter(F.col("na") | F.col("nb")).select("id_a", "id_b")
    base = connected_components(old_edges, "id_a", "id_b")  # (node, component)
    la = base.select(F.col("node").alias("id_a"), F.col("component").alias("ca"))
    lb = base.select(F.col("node").alias("id_b"), F.col("component").alias("cb"))
    contracted = (
        touched.join(la, "id_a", "left")
        .join(lb, "id_b", "left")
        .select(
            F.coalesce(F.col("ca"), F.col("id_a")).alias("id_a"),
            F.coalesce(F.col("cb"), F.col("id_b")).alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
    )
    cc2 = connected_components(contracted, "id_a", "id_b")  # label -> new label
    relab = cc2.select(F.col("node").alias("component"), F.col("component").alias("c2"))
    # final label per matched node: old nodes re-labelled through cc2 when
    # their component was touched; new nodes take their cc2 label directly
    old_final = base.join(relab, "component", "left").select(
        "node", F.coalesce(F.col("c2"), F.col("component")).alias("final")
    )
    new_nodes = (
        touched.select(F.col("id_a").alias("node"))
        .union(touched.select(F.col("id_b").alias("node")))
        .distinct()
        .join(base.select("node"), "node", "left_anti")
    )
    new_final = new_nodes.join(
        cc2.select(F.col("node"), F.col("component").alias("final")), "node"
    ).select("node", "final")
    allf = old_final.unionByName(new_final)
    return (
        allf.join(F.broadcast(flags.select(F.col("doc_id").alias("node"), "__new")), "node")
        .groupBy(F.col("final").alias("component"))
        .agg(
            F.count("*").alias("n_members"),
            F.sum((~F.col("__new")).cast("long")).alias("n_old"),
            F.sum(F.col("__new").cast("long")).alias("n_new"),
        )
    )


_CCD_SQL = """
WITH RECURSIVE words AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents
), tri AS MATERIALIZED (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 3
), sizes AS MATERIALIZED (
  SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM tri a JOIN tri b USING (sh)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS MATERIALIZED (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE round(n_common / (sa.n + sb.n - n_common), 4) >= 0.05
), edges AS MATERIALIZED (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION
  SELECT id_b AS s, id_a AS d FROM pairs
), reach AS (
  SELECT s AS node, s AS r FROM edges
  UNION
  SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.node
), cc AS MATERIALIZED (
  SELECT node, min(r) AS component FROM reach GROUP BY node
)
SELECT component, count(*)::BIGINT AS n_members,
       sum((CAST('0x' || substr(md5('ccd|' || node::VARCHAR), 1, 8) AS BIGINT)
            % 10 <> 0)::INT)::BIGINT AS n_old,
       sum((CAST('0x' || substr(md5('ccd|' || node::VARCHAR), 1, 8) AS BIGINT)
            % 10 = 0)::INT)::BIGINT AS n_new
FROM cc GROUP BY component
"""


# --------------------------------------------------------------------------
# streaming_mv_maintenance
# --------------------------------------------------------------------------


def streaming_mv_maintenance(spark, sf_dir):
    """Streaming materialized-view maintenance end to end
    (streaming/mv.py): the daily rollup MV maintained through THREE
    real micro-batches (input re-sharded, maxFilesPerTrigger=1) of
    foreachBatch delta-agg + full-outer coalesce-sum merges, with
    replay-idempotence batch markers.  The ORACLE is the one flat
    GROUP BY full recompute — equality through repeated
    order-insensitive merges proves the maintenance algebra under the
    streaming engine, completing the batch
    ``events_mv_incremental`` story (same metric, same merge)."""
    from ..streaming.mv import run_streaming_mv_maintenance

    return run_streaming_mv_maintenance(spark, f"{sf_dir}/events.parquet")


def streaming_mv_many_batches(spark, sf_dir):
    """``streaming_mv_maintenance`` under a 10× BATCH COUNT (30 real
    micro-batches instead of 3) — the r7-verdict state-growth probe:
    each foreachBatch merge reads the full MV store back, so batch
    count (not input size) drives the read-amplification term, and the
    MV-grain store is what bounds it.  Same flat-recompute oracle —
    the maintained store is split-count invariant (pinned for the
    3-split shape by
    ``tests/test_r9.py::test_streaming_mv_equals_batch_recompute`` and
    for fewer rows than splits by
    ``test_streaming_mv_tiny_input_fewer_rows_than_splits``; this entry
    IS the 30-split pin, enforced every correctness sweep)."""
    from ..streaming.mv import run_streaming_mv_maintenance

    return run_streaming_mv_maintenance(
        spark, f"{sf_dir}/events.parquet", n_splits=30
    )


_MV_FLAT_SQL = """
SELECT ts::DATE::VARCHAR AS day, event_type,
       count(*)::BIGINT AS n_events,
       sum(round(value * 100)::BIGINT)::BIGINT AS cents_sum
FROM events GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# referential_integrity_audit
# --------------------------------------------------------------------------


def referential_integrity_audit(spark, sf_dir):
    """Foreign-key orphan audit across the star schema — the
    data-quality gate that runs before every publish: for each FK edge
    (lineitem→orders, lineitem→part, lineitem→supplier,
    orders→customer), the child row count, orphan count (child keys
    with no parent), and orphan rate.  Each check is ONE anti-join —
    broadcast when the parent key set fits (at 100 TB the parent key
    column is still only n_parent×8 bytes; beyond broadcast it becomes
    a shuffled anti-join on the same plan), and all four checks union
    into one relation.  Counts are exact integers; one rate division."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")

    def check(name, child, fk, parent, pk):
        pkeys = F.broadcast(
            parent.select(F.col(pk).alias("k")).distinct().withColumn(
                "__present", F.lit(1)
            )
        )
        return (
            child.select(F.col(fk).alias("k"))
            .join(pkeys, "k", "left")
            .agg(
                F.lit(name).alias("fk_edge"),
                F.count("*").alias("n_rows"),
                F.sum(F.col("__present").isNull().cast("long")).alias("n_orphans"),
            )
        )

    checks = [
        check("lineitem.l_orderkey->orders", li, "l_orderkey", orders, "o_orderkey"),
        check("lineitem.l_partkey->part", li, "l_partkey", part, "p_partkey"),
        check("lineitem.l_suppkey->supplier", li, "l_suppkey", supp, "s_suppkey"),
        check("orders.o_custkey->customer", orders, "o_custkey", cust, "c_custkey"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.select(
        "fk_edge",
        "n_rows",
        "n_orphans",
        F.round(F.col("n_orphans").cast("double") / F.col("n_rows").cast("double"), 6)
        .alias("orphan_rate"),
    )


_RI_SQL = """
SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
       (SELECT count(*) FROM lineitem)::BIGINT AS n_rows,
       (SELECT count(*) FROM lineitem
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))::BIGINT
         AS n_orphans
UNION ALL
SELECT 'lineitem.l_partkey->part',
       (SELECT count(*) FROM lineitem)::BIGINT,
       (SELECT count(*) FROM lineitem
        WHERE l_partkey NOT IN (SELECT p_partkey FROM part))::BIGINT
UNION ALL
SELECT 'lineitem.l_suppkey->supplier',
       (SELECT count(*) FROM lineitem)::BIGINT,
       (SELECT count(*) FROM lineitem
        WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))::BIGINT
UNION ALL
SELECT 'orders.o_custkey->customer',
       (SELECT count(*) FROM orders)::BIGINT,
       (SELECT count(*) FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))::BIGINT
"""

_RI_RATE_SQL = (
    "SELECT fk_edge, n_rows, n_orphans, "
    "round(n_orphans::DOUBLE / n_rows::DOUBLE, 6) AS orphan_rate FROM ("
    + _RI_SQL
    + ")"
)


# --------------------------------------------------------------------------
# events_value_psi
# --------------------------------------------------------------------------

_PSI_BINS = 10
_PSI_SPLIT_US = 1704067200000000 + 14 * 86400000000  # day 14


def events_value_psi(spark, sf_dir):
    """Population Stability Index (the scorecard-monitoring drift
    metric) of the purchase-value distribution, weeks 1-2 (baseline) vs
    weeks 3+ (current): decile bin edges come from the BASELINE's exact
    cent-value grid (per-value counts + one cumulative window over
    distinct cents — the Mann-Whitney discipline, never a
    corpus-grain sort), both periods are histogrammed against those
    edges by an 9-element broadcast array probe, and
    PSI = Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ) folds over the bin index in order
    (ordered left fold, cross-engine IEEE-identical; bins are
    Laplace-smoothed by +1 count so empty bins cannot produce ±inf).
    PSI < 0.1 is the conventional 'stable' gate.  One scan, one grid
    window, one histogram agg."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    us = F.unix_micros(F.col("ts"))
    base = ev.filter(us < _PSI_SPLIT_US).select(
        F.floor(F.col("value") * 100).cast("long").alias("c")
    ).persist()
    ncal = base.agg(F.count("*").alias("n"))
    grid = base.groupBy("c").agg(F.count("*").alias("cnt"))
    wg = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.withColumn("cum", F.sum("cnt").over(wg))
    # edge i (i=1..9) = smallest cent value with cum ≥ ceil(i·n/10)
    edges = (
        cum.crossJoin(F.broadcast(ncal))
        .select(
            "c",
            "cum",
            F.explode(
                F.expr(f"transform(sequence(1, {_PSI_BINS - 1}), i -> i)")
            ).alias("i"),
            "n",
        )
        .filter(F.col("cum") * _PSI_BINS >= F.col("i") * F.col("n"))
        .groupBy("i")
        .agg(F.min("c").alias("edge"))
        .agg(F.sort_array(F.collect_list("edge")).alias("edges"))
    )
    both = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.floor(F.col("value") * 100).cast("long").alias("c"),
            (F.unix_micros(F.col("ts")) < _PSI_SPLIT_US).alias("is_base"),
        )
        .crossJoin(F.broadcast(edges))
        .select(
            (F.size(F.filter(F.col("edges"), lambda e: F.col("c") > e)) + 1).alias(
                "bin"
            ),
            "is_base",
        )
        .groupBy("bin")
        .agg(
            F.sum(F.col("is_base").cast("long")).alias("nb"),
            F.sum((~F.col("is_base")).cast("long")).alias("nc"),
        )
        .persist()  # the 10-row histogram feeds totals AND terms
    )
    tot = both.agg(
        F.sum(F.col("nb") + 1).alias("tb"), F.sum(F.col("nc") + 1).alias("tc")
    )
    term = (
        (F.col("nb") + 1).cast("double") / F.col("tb").cast("double")
        - (F.col("nc") + 1).cast("double") / F.col("tc").cast("double")
    ) * (
        F.log(
            ((F.col("nb") + 1).cast("double") / F.col("tb").cast("double"))
            / ((F.col("nc") + 1).cast("double") / F.col("tc").cast("double"))
        )
    )
    terms = both.crossJoin(F.broadcast(tot)).select("bin", term.alias("t"))
    return terms.agg(
        F.count("*").alias("n_bins"),
        F.round(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("bin", "t"))),
                    lambda s: s["t"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("psi"),
    )


_PSI_SQL = f"""
WITH p AS MATERIALIZED (
  SELECT CAST(floor(value * 100) AS BIGINT) AS c,
         epoch_us(ts) < {_PSI_SPLIT_US} AS is_base
  FROM events WHERE event_type = 'purchase'
), ncal AS (SELECT count(*)::BIGINT AS n FROM p WHERE is_base),
cum AS (
  SELECT c, sum(cnt) OVER (ORDER BY c) AS cum FROM (
    SELECT c, count(*) AS cnt FROM p WHERE is_base GROUP BY c
  )
), edges AS (
  SELECT list_sort(list(edge)) AS edges FROM (
    SELECT i, min(c) AS edge
    FROM cum, ncal, (SELECT unnest(generate_series(1, {_PSI_BINS - 1})) AS i)
    WHERE cum * {_PSI_BINS} >= i * n
    GROUP BY i
  )
), hist AS (
  SELECT (len(list_filter(edges, e -> c > e)) + 1)::BIGINT AS bin,
         sum(is_base::INT)::BIGINT AS nb,
         sum((NOT is_base)::INT)::BIGINT AS nc
  FROM p, edges
  GROUP BY 1
), tot AS (
  SELECT sum(nb + 1)::BIGINT AS tb, sum(nc + 1)::BIGINT AS tc FROM hist
), terms AS (
  SELECT bin,
         ((nb + 1)::DOUBLE / tb::DOUBLE - (nc + 1)::DOUBLE / tc::DOUBLE)
         * ln(((nb + 1)::DOUBLE / tb::DOUBLE)
              / ((nc + 1)::DOUBLE / tc::DOUBLE)) AS t
  FROM hist, tot
)
SELECT count(*)::BIGINT AS n_bins,
       round(list_reduce(list_prepend(0.0::DOUBLE, list(t ORDER BY bin)),
                         (a, b) -> a + b), 6) AS psi
FROM terms
"""


QUERIES = {
    "items_cooccurrence_topk": (items_cooccurrence_topk, _CF_SQL),
    "docs_blocklist_phrases": (docs_blocklist_phrases, _BL_SQL),
    "events_welch_ttest": (events_welch_ttest, _WELCH_SQL),
    "layout_range_partition": (layout_range_partition, _RP_SQL),
    "classifier_conformal": (classifier_conformal, _CONF_SQL),
    "events_cuped_adjustment": (events_cuped_adjustment, _CUPED_SQL),
    "user_rate_shrinkage": (user_rate_shrinkage, _EB_SQL),
    "docs_nb_crossval": (docs_nb_crossval, _NBCV_SQL),
    "docs_nb_crossval_capped": (docs_nb_crossval_capped, _NBCV_CAPPED_SQL),
    "customer_k_anonymity": (customer_k_anonymity, _KANON_SQL),
    "lineitem_reconciliation": (lineitem_reconciliation, _RECON_SQL),
    "embedding_jl_audit": (embedding_jl_audit, _jl_sql()),
    "events_ucb1_replay": (events_ucb1_replay, _UCB_SQL),
    "events_ips_offpolicy": (events_ips_offpolicy, _IPS_SQL),
    "media_phash_dedup": (media_phash_dedup, _phash_sql()),
    "events_forecast_backtest": (events_forecast_backtest, _FB_SQL),
    "linkage_entity_clusters": (linkage_entity_clusters, _linkage_cc_sql()),
    "layout_hash_partition": (layout_hash_partition, _HP_SQL),
    "components_incremental": (components_incremental, _CCD_SQL),
    "streaming_mv_maintenance": (streaming_mv_maintenance, _MV_FLAT_SQL),
    "streaming_mv_many_batches": (streaming_mv_many_batches, _MV_FLAT_SQL),
    "referential_integrity_audit": (referential_integrity_audit, _RI_RATE_SQL),
    "events_value_psi": (events_value_psi, _PSI_SQL),
}
