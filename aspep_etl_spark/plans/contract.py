"""Driver-contract queries: every SURVEY.md §2 operator exercised on the
driver's TPC-H-ish testdata, each with a DuckDB oracle twin.

This module and every plans module that contributes queries declare one
``QUERIES = {name: (builder, oracle_sql)}`` dict.  ``builder(spark, sf_dir)
-> DataFrame`` is built from the engine's own operator library (this is what
proves the operators, not ad-hoc SQL); ``oracle_sql`` is the ANSI-SQL twin
DuckDB runs over the same parquet (the driver registers tables as views).
``merge_queries`` merges them once, in a fixed module order, into
``SPARK_QUERIES`` (name -> builder) and ``ORACLE_SQL`` (name -> oracle); a
name registered by two modules raises ``ValueError``.

Engine-parity notes baked into every oracle:
- every aggregate/computed column aliased identically on both sides;
- doubles rounded (2dp money, 4dp ratios) on both sides so value-hash
  comparison is immune to summation-order noise;
- DuckDB ``SUM(int)`` returns HUGEINT and ``RANK()`` BIGINT — oracles cast
  to match Spark's types exactly;
- regex semantics kept RE2∩Java-compatible; DuckDB `regexp_replace` needs
  the explicit 'g' flag to match Spark's global default;
- cosine math uses double-precision `list_dot_product(x::DOUBLE[], ...)`
  (DuckDB's `list_cosine_similarity` computes in float32 and diverges at
  the 7th decimal — enough to flip a rounded 4dp value).
"""

from __future__ import annotations

import sys

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.scalar import cleanse_numeric, safe_ratio
from ..operators.dedup import (
    embedding_near_dup_pairs_bucketed,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    shingle_df_cap,
    simhash,
    substring_span_dedup,
)
from ..operators.filters import filter_significant
from ..operators.multimodal import documents_as_media, extract_media_features
from ..operators.recode import recode_values
from ..operators.setops import union_by_name
from ..operators.similarity import brute_force_topk, ivf_topk, srp_lsh_topk, srp_planes
from ..operators.stats import append_cohort_stats
from ..operators.text import fingerprint, langid_scores, passes_quality, quality_metrics
from ..operators.windows import cohort_ranks, signed_delta_ranks, yoy_deltas
from ..streaming.events import hourly_rollup_batch, run_streaming_rollup


from ..sources.registry import fan_for_compute, load_table as _t  # (spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Core relational queries (SURVEY.md §2.2-2.8 on TPC-H-ish tables)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped flagship aggregation (A2/F6/P5)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1999-12-31")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
        ).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       round(avg(l_quantity), 4)                                        AS avg_qty,
       round(avg(l_extendedprice), 4)                                   AS avg_price,
       round(avg(l_discount), 4)                                        AS avg_disc,
       count(*)::BIGINT                                                 AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-12-31'
GROUP BY l_returnflag, l_linestatus
"""


def q3_top_orders(spark, sf_dir):
    """Join + agg + deterministic top-k (TPC-H Q3-shaped)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-01-01")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            "l_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_Q3_SQL = """
SELECT l_orderkey,
       CAST(o_orderdate AS VARCHAR) AS o_orderdate,
       o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q5_region_revenue(spark, sf_dir):
    """Multi-dim broadcast join chain: revenue per region/nation (J1 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    dims = supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey).join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    return (
        li.join(F.broadcast(dims.select("s_suppkey", "n_name", "r_name")), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


_Q5_SQL = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*)::BIGINT AS n_items
FROM lineitem
JOIN supplier ON l_suppkey   = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def flagship_ratio_rank(spark, sf_dir):
    """ASPEP minimum-slice shape (SURVEY.md §7): safe-ratio metric + cohort
    rank — pay_per_unit per (supplier, returnflag), ranked in the
    returnflag cohort with null-parity min-ties rank (F7 + W3 + A2)."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_suppkey", "l_returnflag").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
    )
    agg = agg.withColumn(
        "pay_per_unit", F.round(safe_ratio(F.col("total_price"), F.col("total_qty")), 4)
    )
    ranked = cohort_ranks(agg, ["l_returnflag"], ["pay_per_unit"])
    return ranked.select(
        "l_suppkey", "l_returnflag", "total_price", "total_qty", "pay_per_unit",
        "pay_per_unit_rank",
    )


# Spark's round(double, n) is BigDecimal.valueOf(x).setScale(n, HALF_UP):
# it rounds the SHORTEST round-trip decimal repr of the double, while
# DuckDB's native round() scales in double arithmetic — the two disagree
# when a quotient's shortest repr sits just off a .00005 boundary whose
# double-scaled product lands exactly on .5 (observed once in 3000 groups
# at sf0.1: 2028.9547499999999 → Spark .9547, DuckDB .9548).  spark_round4
# reproduces Java semantics: first %.Ng repr that round-trips (= shortest),
# parsed as DECIMAL, rounded half-away — 0/25k divergences vs a BigDecimal
# twin across structured-boundary stress values.
#
# Scale 24 (not 17): a shortest repr below ~1e-3 carries more fractional
# digits than significant ones (e.g. 4.9999999999999996e-05 has 21), and a
# too-narrow DECIMAL would double-round it up onto the very boundary the
# macro exists to avoid.  24 covers every |x| ≥ 1e-7 exactly, and below
# that no .00005 boundary is reachable; integer part is capped at 1e14 —
# fine for ratio-scale values, assert on the caller if reusing elsewhere.
from .oracle_util import SPARK_ROUND4_MACRO as _SPARK_ROUND4_MACRO  # noqa: E402

_FLAGSHIP_SQL = _SPARK_ROUND4_MACRO + """
WITH agg AS (
  SELECT l_suppkey, l_returnflag,
         round(sum(l_extendedprice), 2) AS total_price,
         round(sum(l_quantity), 2)      AS total_qty
  FROM lineitem GROUP BY l_suppkey, l_returnflag
), m AS (
  SELECT *, CASE WHEN total_qty <> 0 THEN spark_round4(total_price / total_qty) END AS pay_per_unit
  FROM agg
)
SELECT l_suppkey, l_returnflag, total_price, total_qty, pay_per_unit,
       CASE WHEN pay_per_unit IS NOT NULL THEN
         CAST(RANK() OVER (PARTITION BY l_returnflag, (pay_per_unit IS NULL)
                           ORDER BY pay_per_unit DESC) AS DOUBLE)
       END AS pay_per_unit_rank
FROM m
"""


def p5_date_range_filter(spark, sf_dir):
    """Half-open range predicate pushed to the parquet scan (P5)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter((F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
    )


_P5_SQL = """
SELECT o_orderkey, o_custkey, CAST(o_orderdate AS VARCHAR) AS o_orderdate,
       round(o_totalprice, 2) AS o_totalprice
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
"""


def p8_significance_filter(spark, sf_dir):
    """Row-wise max-abs significance filter (P8/A4)."""
    li = _t(spark, sf_dir, "lineitem")
    return filter_significant(li, ["l_quantity", "l_discount", "l_tax"], threshold=45.0).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


_P8_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem
WHERE greatest(abs(l_quantity), abs(l_discount), abs(l_tax)) > 45.0
"""


def f5_numeric_cleanse(spark, sf_dir):
    """Dirty-numeric cleanse (F5): commas, unicode minus, accounting
    negatives, junk→null — over deterministically dirtied strings."""
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("int").cast("string")
    dirty = (
        F.when(F.col("l_linenumber") % 4 == 0, F.concat(q, F.lit(","), q, F.lit("00")))
        .when(F.col("l_linenumber") % 4 == 1, F.concat(F.lit("("), q, F.lit(")")))
        .when(F.col("l_linenumber") % 4 == 2, F.concat(F.lit("−"), q))
        .otherwise(F.lit("N/A"))
    )
    d = li.withColumn("cleansed", cleanse_numeric(dirty))
    return d.groupBy("l_returnflag").agg(
        F.round(F.sum("cleansed"), 2).alias("sum_clean"),
        F.count("cleansed").alias("n_parsed"),
        F.count("*").alias("n_rows"),
    )


_F5_SQL = """
WITH dirty AS (
  SELECT l_returnflag,
         CASE
           WHEN l_linenumber % 4 = 0 THEN CAST(l_quantity AS INT)::VARCHAR || ',' || CAST(l_quantity AS INT)::VARCHAR || '00'
           WHEN l_linenumber % 4 = 1 THEN '(' || CAST(l_quantity AS INT)::VARCHAR || ')'
           WHEN l_linenumber % 4 = 2 THEN '−' || CAST(l_quantity AS INT)::VARCHAR
           ELSE 'N/A'
         END AS s
  FROM lineitem
), cleansed AS (
  SELECT l_returnflag,
         TRY_CAST(
           regexp_replace(
             regexp_replace(replace(s, ',', ''), '[−–—]', '-', 'g'),
             '^\\((.+)\\)$', '-\\1')
         AS DOUBLE) AS v
  FROM dirty
)
SELECT l_returnflag,
       round(sum(v), 2)   AS sum_clean,
       count(v)::BIGINT   AS n_parsed,
       count(*)::BIGINT   AS n_rows
FROM cleansed GROUP BY l_returnflag
"""


def f7_safe_ratio(spark, sf_dir):
    """Zero-guarded division (F7): null on zero divisor, never inf."""
    li = _t(spark, sf_dir, "lineitem")
    denom = F.col("l_quantity") - 25
    # No rounding: a single IEEE divide is bit-identical across engines,
    # while decimal rounding of a .5-ulp boundary is not.
    return li.select(
        "l_orderkey",
        "l_linenumber",
        safe_ratio(F.col("l_extendedprice"), denom).alias("price_per_excess_unit"),
    )


_F7_SQL = """
SELECT l_orderkey, l_linenumber,
       CASE WHEN (l_quantity - 25) <> 0
            THEN l_extendedprice / (l_quantity - 25) END AS price_per_excess_unit
FROM lineitem
"""


def j1_broadcast_dim_join(spark, sf_dir):
    """Broadcast dim lookup chain (J1): customer → nation → region."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nkey"), F.col("n_name"), F.col("n_regionkey")
    )
    region = _t(spark, sf_dir, "region")
    dim = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
    joined = cust.join(F.broadcast(dim), cust.c_nationkey == dim.nkey, "left")
    return joined.groupBy("r_name", "n_name").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
    )


_J1_SQL = """
SELECT r_name, n_name,
       count(*)::BIGINT             AS n_customers,
       round(sum(c_acctbal), 2)     AS total_acctbal,
       round(avg(c_acctbal), 4)     AS avg_acctbal
FROM customer
LEFT JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def j2_recode_passthrough(spark, sf_dir):
    """Map-side value recode with pass-through on miss (J2/J3)."""
    cust = _t(spark, sf_dir, "customer")
    seg = recode_values(
        F.col("c_mktsegment"),
        {"BUILDING": "bldg", "AUTOMOBILE": "auto", "MACHINERY": "mach"},
    )
    return cust.withColumn("segment", seg).groupBy("segment").agg(
        F.count("*").alias("n_customers")
    )


_J2_SQL = """
SELECT CASE c_mktsegment
         WHEN 'BUILDING' THEN 'bldg'
         WHEN 'AUTOMOBILE' THEN 'auto'
         WHEN 'MACHINERY' THEN 'mach'
         ELSE c_mktsegment END AS segment,
       count(*)::BIGINT AS n_customers
FROM customer GROUP BY 1
"""


def a1_grouped_median(spark, sf_dir):
    """Fused exact grouped median + mean in one shuffle (A1/A2).

    Selects straight off the fused aggregate — no per-stat self-join (a
    projection-join of two views of the same agg re-executes the agg on
    both sides unless ReuseExchange catches it; at 100 TB that's a whole
    extra scan+shuffle)."""
    from ..operators.stats import grouped_stats

    li = _t(spark, sf_dir, "lineitem")
    fused = grouped_stats(
        li, ["l_returnflag", "l_linestatus"], ["l_quantity", "l_extendedprice"]
    )
    return fused.select(
        "l_returnflag",
        "l_linestatus",
        F.round("__median__l_quantity", 4).alias("median_qty"),
        F.round("__median__l_extendedprice", 4).alias("median_price"),
        F.round("__mean__l_quantity", 4).alias("mean_qty"),
        F.round("__mean__l_extendedprice", 4).alias("mean_price"),
    )


_A1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(median(l_quantity), 4)      AS median_qty,
       round(median(l_extendedprice), 4) AS median_price,
       round(avg(l_quantity), 4)         AS mean_qty,
       round(avg(l_extendedprice), 4)    AS mean_price
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def a1_grouped_median_approx(spark, sf_dir):
    """A1 with the sketch-based median (``percentile_approx``): mergeable
    percentile_approx partials instead of exact median's per-group sort —
    the 100 TB path (reference asset_checks.py:60 rel-1e-3 budget).

    The sketch value itself is engine-specific (Spark's KLL-style sketch vs
    DuckDB's t-digest), so the oracled output carries the *invariant*
    instead of the raw sketch — computed WITHOUT any per-group buffering
    aggregate (an earlier draft verified against exact
    percentile(0.49/0.51) in the same agg and cost 3.6 s at sf0.1 vs
    0.7 s for the raw sketch).  Two streaming hash-agg passes:

      1. the sketch pass — percentile_approx + avg + count per group
         (mergeable partials; this alone is the 100 TB plan);
      2. a rank-count pass — broadcast the 6-row sketch result back onto
         the scan and count, per group, values < and <= the sketch
         median.

    percentile_approx(c, 0.5, acc) returns a DATA ELEMENT whose rank is
    within n*(0.5 +/- 1/acc); with acc=10^4 we check the element's
    occupied rank interval [cnt_lt+1, cnt_le] against the 100x-slackened
    window n*(0.5 +/- 0.01), and that it IS an element
    (cnt_le > cnt_lt) — emitted as 1/0 flags the hash covers next to the
    exact means/counts.  DuckDB's twin emits constant-1 flags; any
    sketch regression (wrong rank, interpolated non-element) flips a
    flag and hash-mismatches."""
    li = _t(spark, sf_dir, "lineitem")
    from ..operators.stats import APPROX_MEDIAN_ACCURACY

    acc = F.lit(APPROX_MEDIAN_ACCURACY)
    keys = ["l_returnflag", "l_linestatus"]
    cols = ("l_quantity", "l_extendedprice")
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs += [
            F.percentile_approx(c, F.lit(0.5), acc).alias(f"__apx__{c}"),
            F.avg(c).alias(f"__mean__{c}"),
        ]
    sk = li.groupBy(*keys).agg(*aggs)
    rank_aggs = []
    for c in cols:
        rank_aggs += [
            F.sum((F.col(c) < F.col(f"__apx__{c}")).cast("long")).alias(
                f"__lt__{c}"
            ),
            F.sum((F.col(c) <= F.col(f"__apx__{c}")).cast("long")).alias(
                f"__le__{c}"
            ),
            F.first(f"__mean__{c}").alias(f"__mean__{c}"),
        ]
    rank_aggs.append(F.first("n_rows").alias("n_rows"))
    ranked = li.join(F.broadcast(sk), keys).groupBy(*keys).agg(*rank_aggs)

    def _ok(c):
        # Small-group guard: for n_rows < 100 the ±1% rank window is
        # narrower than one element (n_rows=1 gives hi=floor(0.51)=0, so
        # lt < hi can never hold; n_rows=2 would force the sketch to pick
        # the lower element) — any element a nonempty group's sketch
        # returns is a valid median there, so the flag short-circuits to
        # is_element.  TPC-H lineitem's 4 big groups always take the full
        # window; the guard keeps the harness correct on generic inputs.
        lo = F.ceil(F.col("n_rows") * 0.49)
        hi = F.floor(F.col("n_rows") * 0.51)
        in_window = (F.col(f"__le__{c}") >= lo) & (F.col(f"__lt__{c}") < hi)
        is_element = F.col(f"__le__{c}") > F.col(f"__lt__{c}")
        small = F.col("n_rows") < F.lit(100)
        return (
            F.when(small, is_element).otherwise(in_window & is_element)
        ).cast("int")

    return ranked.select(
        *keys,
        F.col("n_rows"),
        F.round("__mean__l_quantity", 4).alias("mean_qty"),
        F.round("__mean__l_extendedprice", 4).alias("mean_price"),
        _ok("l_quantity").alias("approx_qty_ok"),
        _ok("l_extendedprice").alias("approx_price_ok"),
    )


_A1_APPROX_SQL = """
SELECT l_returnflag, l_linestatus,
       count(*)::BIGINT               AS n_rows,
       round(avg(l_quantity), 4)      AS mean_qty,
       round(avg(l_extendedprice), 4) AS mean_price,
       1 AS approx_qty_ok,
       1 AS approx_price_ok
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def a1_grouped_median_sketch(spark, sf_dir):
    """The sketch pass of ``a1_grouped_median_approx`` ALONE — the actual
    100 TB plan: ONE streaming hash-agg of mergeable percentile_approx
    partials + means + counts per group, no second rank-count scan.

    The r8 oracled entry pays for its own verification (sketch pass +
    rank-count audit pass = 1.31 s at sf0.1 vs 0.72 s for the sketch
    alone), so this is the r8-verdict slot split (the
    docs_nb_crossval / _capped precedent): the HEADLINE BENCH times this
    single-pass plan, while ``a1_grouped_median_approx`` stays
    registry-green as the strong rank-count oracle twin.  The sketch
    value itself is engine-specific, so the oracled output forces the
    sketch through a weak single-pass invariant instead of emitting it
    raw: percentile_approx returns a DATA ELEMENT of the group, hence
    always within [min, max] — computable in the SAME aggregate with two
    cheap extra partials and unprunable by Catalyst (the sketch column
    feeds the emitted flag).  DuckDB's twin emits constant-1 flags; a
    sketch returning garbage outside the group's value range flips the
    flag and hash-mismatches."""
    li = _t(spark, sf_dir, "lineitem")
    from ..operators.stats import APPROX_MEDIAN_ACCURACY

    acc = F.lit(APPROX_MEDIAN_ACCURACY)
    keys = ["l_returnflag", "l_linestatus"]
    cols = ("l_quantity", "l_extendedprice")
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs += [
            F.percentile_approx(c, F.lit(0.5), acc).alias(f"__apx__{c}"),
            F.min(c).alias(f"__min__{c}"),
            F.max(c).alias(f"__max__{c}"),
            F.avg(c).alias(f"__mean__{c}"),
        ]
    sk = li.groupBy(*keys).agg(*aggs)

    def _in_range(c):
        return (
            (F.col(f"__apx__{c}") >= F.col(f"__min__{c}"))
            & (F.col(f"__apx__{c}") <= F.col(f"__max__{c}"))
        ).cast("int")

    return sk.select(
        *keys,
        F.col("n_rows"),
        F.round("__mean__l_quantity", 4).alias("mean_qty"),
        F.round("__mean__l_extendedprice", 4).alias("mean_price"),
        _in_range("l_quantity").alias("apx_qty_in_range"),
        _in_range("l_extendedprice").alias("apx_price_in_range"),
    )


_A1_SKETCH_SQL = """
SELECT l_returnflag, l_linestatus,
       count(*)::BIGINT               AS n_rows,
       round(avg(l_quantity), 4)      AS mean_qty,
       round(avg(l_extendedprice), 4) AS mean_price,
       1 AS apx_qty_in_range,
       1 AS apx_price_in_range
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def a3_stats_union_back(spark, sf_dir):
    """derive_stats shape on TPC-H (A1-A3+U1): per-cohort stat rows appended
    into the fact with pseudo-key labels."""
    li = _t(spark, sf_dir, "lineitem")
    fact = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )
    out = append_cohort_stats(
        fact,
        group_keys=["l_returnflag"],
        stat_cols=["sum_qty", "sum_price"],
        stat_labels={"median": "ALL-median", "mean": "ALL-mean"},
        label_col="l_linestatus",
        scope_col=None,
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        F.round("sum_qty", 4).alias("sum_qty"),
        F.round("sum_price", 4).alias("sum_price"),
    )


_A3_SQL = """
WITH fact AS (
  SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2)      AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_price
  FROM lineitem GROUP BY l_returnflag, l_linestatus
), med AS (
  SELECT l_returnflag, 'ALL-median' AS l_linestatus,
         median(sum_qty) AS sum_qty, median(sum_price) AS sum_price
  FROM fact GROUP BY l_returnflag
), mn AS (
  SELECT l_returnflag, 'ALL-mean' AS l_linestatus,
         avg(sum_qty) AS sum_qty, avg(sum_price) AS sum_price
  FROM fact GROUP BY l_returnflag
)
SELECT l_returnflag, l_linestatus,
       round(sum_qty, 4) AS sum_qty, round(sum_price, 4) AS sum_price
FROM (SELECT * FROM fact UNION ALL SELECT * FROM med UNION ALL SELECT * FROM mn)
"""


def w1_lag_deltas(spark, sf_dir):
    """Positional lag pct/abs deltas per cohort (W1/W2) — pandas
    ``pct_change``/``diff`` parity over (customer) ordered order history."""
    o = _t(spark, sf_dir, "orders")
    d = yoy_deltas(
        o,
        cohort_keys=["o_custkey"],
        order_keys=["o_orderdate", "o_orderkey"],
        metric_cols=["o_totalprice"],
    )
    return d.select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice_1yr_pct", 4).alias("d1_pct"),
        F.round("o_totalprice_5yr_pct", 4).alias("d4_pct"),
        F.round("o_totalprice_1yr_abs", 4).alias("d1_abs"),
        F.round("o_totalprice_5yr_abs", 4).alias("d4_abs"),
    )


_W1_SQL = """
WITH lagged AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         LAG(o_totalprice, 1) OVER w AS p1,
         LAG(o_totalprice, 4) OVER w AS p4
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
)
SELECT o_orderkey, o_custkey,
       CASE WHEN p1 <> 0 THEN round(o_totalprice / p1 - 1, 4) END AS d1_pct,
       CASE WHEN p4 <> 0 THEN round(o_totalprice / p4 - 1, 4) END AS d4_pct,
       round(o_totalprice - p1, 4) AS d1_abs,
       round(o_totalprice - p4, 4) AS d4_abs
FROM lagged
"""


def w3_rank_null_parity(spark, sf_dir):
    """Min-ties descending rank with pandas null semantics (W3): nulls
    unranked, excluded from the count."""
    li = _t(spark, sf_dir, "lineitem")
    d = li.withColumn("disc_nz", F.nullif(F.col("l_discount"), F.lit(0.0)))
    ranked = cohort_ranks(d, ["l_suppkey"], ["disc_nz"])
    return ranked.select("l_orderkey", "l_linenumber", "l_suppkey", "disc_nz", "disc_nz_rank")


_W3_SQL = """
SELECT l_orderkey, l_linenumber, l_suppkey,
       nullif(l_discount, 0.0) AS disc_nz,
       CASE WHEN nullif(l_discount, 0.0) IS NOT NULL THEN
         CAST(RANK() OVER (PARTITION BY l_suppkey, (nullif(l_discount, 0.0) IS NULL)
                           ORDER BY nullif(l_discount, 0.0) DESC) AS DOUBLE)
       END AS disc_nz_rank
FROM lineitem
"""


def w4_signed_ranks(spark, sf_dir):
    """Directional sign-partitioned ranks (W4): positives desc, negatives asc."""
    li = _t(spark, sf_dir, "lineitem")
    d = li.withColumn("qty_delta", F.col("l_quantity") - 25)
    ranked = signed_delta_ranks(d, ["l_suppkey"], ["qty_delta"])
    return ranked.select(
        "l_orderkey", "l_linenumber", "l_suppkey", "qty_delta",
        "qty_delta_pos_rank", "qty_delta_neg_rank",
    )


_W4_SQL = """
SELECT l_orderkey, l_linenumber, l_suppkey,
       l_quantity - 25 AS qty_delta,
       CASE WHEN l_quantity - 25 > 0 THEN
         CAST(RANK() OVER (PARTITION BY l_suppkey
                           ORDER BY (CASE WHEN l_quantity - 25 > 0 THEN l_quantity - 25 END)
                           DESC NULLS LAST) AS DOUBLE)
       END AS qty_delta_pos_rank,
       CASE WHEN l_quantity - 25 < 0 THEN
         CAST(RANK() OVER (PARTITION BY l_suppkey
                           ORDER BY (CASE WHEN l_quantity - 25 < 0 THEN l_quantity - 25 END)
                           ASC NULLS LAST) AS DOUBLE)
       END AS qty_delta_neg_rank
FROM lineitem
"""


def u1_union_by_name(spark, sf_dir):
    """Union-by-name with missing-column→null alignment (U1)."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    b = o.filter(F.col("o_orderstatus") != "O").select("o_orderkey", "o_orderstatus")
    return union_by_name([a, b])


_U1_SQL = """
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
FROM orders WHERE o_orderstatus = 'O'
UNION ALL BY NAME
SELECT o_orderkey, o_orderstatus
FROM orders WHERE o_orderstatus <> 'O'
"""


def o1_topk_sort(spark, sf_dir):
    """Total-order top-k (O1 + LIMIT): deterministic via full tiebreak."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey", "l_linenumber", F.round("l_extendedprice", 2).alias("l_extendedprice")
        )
        .orderBy(F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .limit(100)
    )


_O1_SQL = """
SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
LIMIT 100
"""


# ---------------------------------------------------------------------------
# [EXT] dedup / text / similarity / events
# ---------------------------------------------------------------------------

def dedup_exact_q(spark, sf_dir):
    """Exact dedup: min-id survivor + dup count per identical text (one hash-agg shuffle)."""
    docs = _t(spark, sf_dir, "documents")
    out = exact_dedup(docs, ["text"], "doc_id")
    return out.select(
        "doc_id", F.col("dup_count").cast("long").alias("dup_count"), F.md5("text").alias("text_hash")
    )


_DEDUP_EXACT_SQL = """
SELECT min(doc_id) AS doc_id, count(*)::BIGINT AS dup_count, md5(text) AS text_hash
FROM documents GROUP BY text
"""


def dedup_ngram_jaccard_q(spark, sf_dir):
    """Trigram-Jaccard near-dup pairs via posting lists (one shuffle on shingle)."""
    docs = _t(spark, sf_dir, "documents")
    return jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.05)


def dedup_ngram_jaccard_capped_q(spark, sf_dir):
    """Scale-path n-gram Jaccard: posting lists frequency-capped at the
    default df policy (``shingle_df_cap``) — the hot-shingle guard a
    100 TB run always enables.  ``n_docs`` is a driver scalar (one
    count over a column-pruned scan), the documented sizing pattern."""
    docs = _t(spark, sf_dir, "documents")
    cap = shingle_df_cap(docs.count())
    return jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.05, max_shingle_df=cap
    )


_NGRAM_JACCARD_SQL = """
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
WHERE round(n_common / (sa.n + sb.n - n_common), 4) >= 0.05
"""

# Same shape as _NGRAM_JACCARD_SQL with the default df-cap policy applied:
# only shingles whose document frequency is within max(8, floor(0.1·n_docs))
# generate candidates; per-doc sizes stay FULL shingle counts (the cap prunes
# the intersection search, not the Jaccard denominator).
_NGRAM_JACCARD_CAPPED_SQL = """
WITH words AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents
), tri AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 3
), sizes AS (
  SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id
), keep AS (
  SELECT sh FROM tri GROUP BY sh
  HAVING count(*) BETWEEN 2 AND
    greatest(8, floor(0.1 * (SELECT count(*) FROM documents))::BIGINT)
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM tri a JOIN tri b USING (sh) JOIN keep USING (sh)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_common / (sa.n + sb.n - n_common), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(n_common / (sa.n + sb.n - n_common), 4) >= 0.05
"""


def text_quality_q(spark, sf_dir):
    """Per-document quality metrics: token count, punctuation/stopword ratios, token length."""
    docs = fan_for_compute(_t(spark, sf_dir, "documents"))
    m = quality_metrics(F.col("text"))
    return docs.select(
        "doc_id",
        m["n_tokens"].alias("n_tokens"),
        m["punct_ratio"].alias("punct_ratio"),
        m["stopword_ratio"].alias("stopword_ratio"),
        m["mean_token_len"].alias("mean_token_len"),
    )


_TEXT_QUALITY_SQL = """
WITH base AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS n_tokens,
         length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS alnum_space,
         length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS alnum,
         len(regexp_extract_all(lower(text), '\\b(the|and|of|a|is)\\b')) AS stop
  FROM documents
)
SELECT doc_id, n_tokens,
       round((n_chars - alnum_space) / n_chars, 4)     AS punct_ratio,
       round(stop / greatest(n_tokens, 1), 4)          AS stopword_ratio,
       round(alnum / greatest(n_tokens, 1), 4)         AS mean_token_len
FROM base
"""


def text_langid_q(spark, sf_dir):
    """Function-word n-gram language identification (codegen regex, no Python)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", langid_scores(F.col("text")).alias("pred_lang"))


_TEXT_LANGID_SQL = """
WITH s AS (
  SELECT doc_id, lang,
         len(regexp_extract_all(lower(text), '\\b(the|and|of|a|is)\\b'))  AS s_en,
         len(regexp_extract_all(lower(text), '\\b(el|la|de|que|y)\\b'))   AS s_es,
         len(regexp_extract_all(lower(text), '\\b(der|die|und|das|ist)\\b')) AS s_de,
         len(regexp_extract_all(lower(text), '\\b(le|la|et|les|des)\\b')) AS s_fr
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN s_en = 0 AND s_es = 0 AND s_de = 0 AND s_fr = 0 THEN 'und'
            WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
            WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
            WHEN s_de >= s_fr THEN 'de'
            ELSE 'fr' END AS pred_lang
FROM s
"""


def text_fingerprint_q(spark, sf_dir):
    """Canonical md5 fingerprint over normalized text (whitespace/punct-insensitive identity)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))


_TEXT_FINGERPRINT_SQL = """
SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint
FROM documents
"""


def ann_cosine_topk_q(spark, sf_dir):
    """Exact brute-force cosine top-k: broadcast query set over one corpus scan."""
    emb = _t(spark, sf_dir, "embeddings")
    # fan the CORPUS side only (the per-row cosine×|queries| work); the
    # query side is a 10-row broadcast build that needs no parallelism
    corpus = fan_for_compute(_t(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    out = brute_force_topk(corpus, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", "cosine", F.col("knn_rank").cast("long").alias("knn_rank")
    )


_ANN_SQL = """
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS ne FROM embeddings),
s AS (
  SELECT qid, nid,
         round(list_dot_product(qe, ne) /
               (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ne, ne))), 4) AS cosine
  FROM q, c WHERE qid <> nid
), r AS (
  SELECT qid AS query_id, nid AS neighbor_id, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS knn_rank
  FROM s
)
SELECT query_id, neighbor_id, cosine, knn_rank::BIGINT AS knn_rank
FROM r WHERE knn_rank <= 5
"""


def dedup_embedding_cosine_q(spark, sf_dir):
    """Embedding near-dup pairs through the BUCKETED (leader/IVF) candidate
    path — hash-matches the all-pairs oracle with no cross join in the plan."""
    emb = _t(spark, sf_dir, "embeddings")
    # The synthetic embeddings top out at cosine ≈ 0.51; 0.4 exercises the
    # threshold path with a non-trivial result set.  Runs through the
    # BUCKETED (leader/IVF) candidate path — no cross join in the plan
    # (pinned by tests/test_physical_plans.py) — and still hash-matches the
    # all-pairs DuckDB oracle: bucketing generates candidates, the exact
    # cosine verifies them.  A 0.4 threshold sits far below the usual
    # near-dup regime (≥0.9), so candidate generation needs wide
    # multi-assignment (n_assign=10) to keep recall exact; at the default
    # 0.95 the defaults (32/4) are much cheaper.
    return embedding_near_dup_pairs_bucketed(
        emb, threshold=0.4, n_leaders=24, n_assign=10
    )


_EMB_NEARDUP_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.e, b.e) /
             (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 4) AS cosine
FROM v a, v b
WHERE a.vec_id < b.vec_id
  AND round(list_dot_product(a.e, b.e) /
            (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 4) >= 0.4
"""


def events_hourly_rollup_q(spark, sf_dir):
    """Tumbling 1-hour event rollup (batch twin of the streaming path)."""
    return hourly_rollup_batch(_t(spark, sf_dir, "events"))


_EVENTS_ROLLUP_SQL = """
SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour_start, event_type,
       count(*)::BIGINT AS n_events, round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2
"""


def events_latest_per_user_q(spark, sf_dir):
    """Latest event per user (top-1 window with event_id tie-break)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "event_id", "event_type", "value", F.col("ts").cast("string").alias("ts_str"))
    )


_EVENTS_LATEST_SQL = """
SELECT user_id, event_id, event_type, value, CAST(ts AS VARCHAR) AS ts_str
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def events_sessionize_q(spark, sf_dir):
    """Gap-based sessionization (30 min) — LAG + running SUM, the batch twin
    of a stateful streaming session window."""
    from ..streaming.events import sessionize

    s = sessionize(_t(spark, sf_dir, "events"), gap_seconds=1800)
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min(F.col("ts").cast("string")).alias("session_start"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


_EVENTS_SESSION_SQL = """
WITH t AS (
  SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events
), flagged AS (
  SELECT *, CASE WHEN LAG(ts_s) OVER w IS NULL OR ts_s - LAG(ts_s) OVER w > 1800
                 THEN 1 ELSE 0 END AS new_s
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, session_id, count(*)::BIGINT AS n_events,
       CAST(min(ts) AS VARCHAR) AS session_start,
       round(sum(value), 2) AS total_value
FROM sessions GROUP BY user_id, session_id
"""


def p6_anti_filter(spark, sf_dir):
    """Anti-filter a rollup label before cohort stats (P6 — the reference's
    `state code != "US"` exclusion shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_returnflag") != "N")
        .groupBy("l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").alias("n_rows"),
        )
    )


_P6_SQL = """
SELECT l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*)::BIGINT AS n_rows
FROM lineitem WHERE l_returnflag <> 'N' GROUP BY l_linestatus
"""


def p9_point_lookup(spark, sf_dir):
    """Golden-row point lookup (P9): partition-prunable key predicates."""
    from ..operators.filters import point_lookup

    li = _t(spark, sf_dir, "lineitem")
    return point_lookup(
        li,
        {"l_orderkey": 1, "l_returnflag": "A"},
        ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"],
    )


_P9_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem WHERE l_orderkey = 1 AND l_returnflag = 'A'
"""


def f1_slugify(spark, sf_dir):
    """Distributed slugify (F1) over part names."""
    from ..functions.scalar import slugify_expr

    part = _t(spark, sf_dir, "part")
    return part.select("p_partkey", slugify_expr(F.col("p_name")).alias("slug"))


_F1_SQL = """
SELECT p_partkey,
       lower(regexp_replace(regexp_replace(trim(p_name), '\\s+', '_', 'g'),
                            '[^a-zA-Z0-9_]', '', 'g')) AS slug
FROM part
"""


def f3_dim_normalize(spark, sf_dir):
    """Trim/lower normalize + uppercase code + conditional classify
    (F3/F4/F8) over the nation dim."""
    from ..functions.scalar import normalize_dim, upper_code

    n = _t(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        normalize_dim(F.col("n_name")).alias("norm_name"),
        upper_code(normalize_dim(F.col("n_name"))).alias("code"),
        F.when(F.col("n_regionkey") == 0, F.lit("home")).otherwise(F.lit("away")).alias("scope"),
    )


_F3_SQL = """
SELECT n_nationkey,
       lower(trim(n_name)) AS norm_name,
       upper(lower(trim(n_name))) AS code,
       CASE WHEN n_regionkey = 0 THEN 'home' ELSE 'away' END AS scope
FROM nation
"""


def q6_revenue_delta(spark, sf_dir):
    """TPC-H Q6 shape: tight scan-side predicates, single global agg."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


_Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*)::BIGINT AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
"""


def agg_rollup(spark, sf_dir):
    """ROLLUP grouping sets (beyond the reference's surface — free in
    Spark, exposed by the engine)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count("*").alias("n_rows"))
    )


_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty, count(*)::BIGINT AS n_rows
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def j4_semi_anti_join(spark, sf_dir):
    """Left-semi + left-anti joins (engine surface beyond the reference):
    customers with vs without orders in a date window."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "2000-01-01")
    on = cust.c_custkey == orders.o_custkey
    with_orders = cust.join(orders, on, "left_semi").select(
        "c_custkey", F.lit("active").alias("status")
    )
    without = cust.join(orders, on, "left_anti").select(
        "c_custkey", F.lit("inactive").alias("status")
    )
    return union_by_name([with_orders, without])


_J4_SQL = """
WITH recent AS (SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01')
SELECT c_custkey, 'active' AS status FROM customer
WHERE EXISTS (SELECT 1 FROM recent WHERE o_custkey = c_custkey)
UNION ALL
SELECT c_custkey, 'inactive' AS status FROM customer
WHERE NOT EXISTS (SELECT 1 FROM recent WHERE o_custkey = c_custkey)
"""


def agg_count_distinct(spark, sf_dir):
    """Exact distinct aggregation (beyond the reference's surface)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


_COUNT_DISTINCT_SQL = """
SELECT l_returnflag,
       count(DISTINCT l_suppkey)::BIGINT AS n_suppliers,
       count(DISTINCT l_partkey)::BIGINT AS n_parts
FROM lineitem GROUP BY l_returnflag
"""


def events_json_props(spark, sf_dir):
    """JSON property extraction from the events props column ([EXT] — the
    reference has no JSON functions)."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return e.withColumn("k", k).groupBy("event_type").agg(
        F.round(F.avg("k"), 4).alias("avg_k"),
        F.max("k").alias("max_k"),
        F.count("k").alias("n_with_k"),
    )


_EVENTS_JSON_SQL = """
SELECT event_type,
       round(avg(json_extract(props, '$.k')::BIGINT), 4) AS avg_k,
       max(json_extract(props, '$.k')::BIGINT)           AS max_k,
       count(json_extract(props, '$.k'))::BIGINT         AS n_with_k
FROM events GROUP BY event_type
"""


def q2_min_cost_supplier(spark, sf_dir):
    """Correlated-subquery shape (TPC-H Q2): per part, the supplier(s)
    matching the minimum account balance — decorrelated into a window
    minimum, the scale-correct plan (no per-row subquery execution)."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    supp = _t(spark, sf_dir, "supplier")
    joined = li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
    w = Window.partitionBy("l_partkey")
    out = joined.withColumn("min_bal", F.min("s_acctbal").over(w))
    return (
        out.filter(F.col("s_acctbal") == F.col("min_bal"))
        .select(
            "l_partkey",
            "s_suppkey",
            F.round("s_acctbal", 2).alias("s_acctbal"),
        )
    )


_Q2_SQL = """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
j AS (
  SELECT p.l_partkey, s.s_suppkey, s.s_acctbal,
         min(s.s_acctbal) OVER (PARTITION BY p.l_partkey) AS min_bal
  FROM pairs p JOIN supplier s ON p.l_suppkey = s.s_suppkey
)
SELECT l_partkey, s_suppkey, round(s_acctbal, 2) AS s_acctbal
FROM j WHERE s_acctbal = min_bal
"""


def q14_promo_share(spark, sf_dir):
    """Conditional-aggregate ratio (TPC-H Q14 shape): share of revenue from
    promo-branded parts per month."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_brand") < "Brand#30", rev).otherwise(F.lit(0.0))
    return (
        joined.groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.round(F.sum(promo) * 100.0 / F.sum(rev), 4).alias("promo_share_pct"),
            F.round(F.sum(rev), 2).alias("total_revenue"),
        )
    )


_Q14_SQL = """
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       round(sum(CASE WHEN p_brand < 'Brand#30'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) * 100.0
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share_pct,
       round(sum(l_extendedprice * (1 - l_discount)), 2)   AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""


def q18_large_orders(spark, sf_dir):
    """Aggregate + HAVING shape (TPC-H Q18): orders whose total quantity
    exceeds a threshold, with customer context."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "l_orderkey",
            "c_name",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
    )


_Q18_SQL = """
SELECT l_orderkey, c_name, CAST(o_orderdate AS VARCHAR) AS o_orderdate,
       round(o_totalprice, 2) AS o_totalprice, total_qty
FROM (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING round(sum(l_quantity), 2) > 250
)
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def agg_cube(spark, sf_dir):
    """CUBE grouping sets over order attributes."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority,
       count(*)::BIGINT AS n_orders, round(sum(o_totalprice), 2) AS total_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def docs_quality_filter(spark, sf_dir):
    """Training-data quality gate ([EXT]): keep documents passing the
    length/stopword/token heuristics — the canonical pre-training filter
    shape (filter is pure codegen; no shuffle)."""
    m = quality_metrics(F.col("text"))
    return _t(spark, sf_dir, "documents").filter(passes_quality(m)).select(
        "doc_id", "lang",
        *(m[k].alias(k) for k in ("n_tokens", "stopword_ratio", "mean_token_len")),
    )


_DOCS_QUALITY_SQL = """
WITH base AS (
  SELECT doc_id, lang,
         len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS n_tokens,
         len(regexp_extract_all(lower(text), '\\b(the|and|of|a|is)\\b')) AS stop,
         length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS alnum
  FROM documents
), scored AS (
  SELECT doc_id, lang, n_tokens,
         round(stop / greatest(n_tokens, 1), 4)  AS stopword_ratio,
         round(alnum / greatest(n_tokens, 1), 4) AS mean_token_len
  FROM base
)
SELECT doc_id, lang, n_tokens, stopword_ratio, mean_token_len
FROM scored
WHERE n_tokens >= 20 AND stopword_ratio <= 0.35
  AND mean_token_len BETWEEN 2.0 AND 12.0
"""


def vocab_topk(spark, sf_dir):
    """Corpus vocabulary statistics ([EXT]): top-50 tokens by document
    frequency with total counts — explode → two-level aggregation."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
        ).alias("token"),
    )
    stats = toks.groupBy("token").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    return stats.orderBy(F.desc("n_occurrences"), F.asc("token")).limit(50)


_VOCAB_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
  FROM documents
)
SELECT token, count(*)::BIGINT AS n_occurrences,
       count(DISTINCT doc_id)::BIGINT AS doc_freq
FROM toks GROUP BY token
ORDER BY n_occurrences DESC, token ASC
LIMIT 50
"""


def dedup_sweep(spark, sf_dir):
    """End-to-end dedup sweep ([EXT]): drop exact dups (keep min id), then
    drop any doc with a lower-id near-dup neighbor (n-gram Jaccard ≥ 0.5) —
    the standard two-stage training-corpus dedup, returning survivors."""
    docs = _t(spark, sf_dir, "documents")
    survivors = exact_dedup(docs, ["text"], "doc_id").select("doc_id")
    base = docs.join(survivors, "doc_id", "left_semi")
    near = jaccard_pairs(base, "doc_id", "text", n=3, threshold=0.5)
    to_drop = near.select(F.col("id_b").alias("doc_id")).distinct()
    kept = base.join(to_drop, "doc_id", "left_anti")
    return kept.select("doc_id", F.md5("text").alias("text_hash"))


_DEDUP_SWEEP_SQL = """
WITH survivors AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY text
), base AS (
  SELECT d.* FROM documents d JOIN survivors s USING (doc_id)
), words AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM base
), tri AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 3
), sizes AS (
  SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM tri a JOIN tri b USING (sh) WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), near AS (
  SELECT id_b FROM pairs
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE round(n_common / (sa.n + sb.n - n_common), 4) >= 0.5
)
SELECT doc_id, md5(text) AS text_hash
FROM base WHERE doc_id NOT IN (SELECT DISTINCT id_b FROM near)
"""


def aspep_extended_pipeline(spark, sf_dir):
    """The reference's core analytic chain end-to-end at benchmark scale:
    an ASPEP-shaped fact derived from lineitem (supplier→state analog,
    returnflag×linestatus→function, ship-year→year), then the full
    derive_stats → derive_extended_stats fan-out (~150 derived columns over
    two window shuffles).

    The fact measures are **integer-valued** (pay in cents / 1e-4-dollar
    units, employment in row counts) — faithful to the census workbooks'
    integer grain (the reference's raw cells are whole dollars/headcounts),
    and the property the DuckDB oracle leans on: per-row quantization makes
    the group sums exact BIGINTs (order-independent), so every downstream
    mean/median/ratio/delta/rank is a pure function of identical binary64
    inputs on both engines — the full 130-column chain hash-matches with NO
    rounding macros (plans/pipeline_oracle.py).  Plan shape is unchanged:
    the per-row multiply+round+cast stays inside whole-stage codegen and
    the sums remain partial+final hash aggregates."""
    from .pipeline import derive_extended_stats, derive_stats

    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    pt_units = F.round(
        F.col("l_extendedprice") * F.col("l_discount") * 10000, 0
    ).cast("long")
    ft_units = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("long")
    fact = (
        li.groupBy(
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("state_code"),
            F.concat_ws("-", "l_returnflag", "l_linestatus").alias("gov_function"),
            F.year("l_shipdate").alias("year"),
        )
        .agg(
            F.sum(cents).cast("double").alias("total_pay"),
            F.sum("l_quantity").alias("ft_eq_employment"),
            F.sum(pt_units).cast("double").alias("pt_pay"),
            F.sum(F.col("l_quantity") * 8).alias("pt_hour"),
            F.sum(ft_units).cast("double").alias("ft_pay"),
            F.count("*").cast("double").alias("ft_employment"),
        )
    )
    # Scale-adaptive fact materialization: the stats union has two
    # branches (the fact and append_cohort_stats' one aggregate), and each
    # rebuilds the fact (2 lineitem scans + 2 fact aggregations).  Measured
    # on 4 cores (tools/bench_tier.py, 5 alternating pairs, medians): sf0.1
    # (4 scan splits) 3.49 s persisted vs 4.10 s rebuilt, sf1 14.81 s vs
    # 18.47 s.  On the earlier three-branch plan, sf0.1/local[32] (~1 scan
    # task per core) lost ~10% to the persist (the InMemoryRelation
    # barrier + broken codegen fusion), so the switch is derived from the
    # ACTUAL scan split count vs the session's parallelism, not a constant
    # — the driver's vanilla-session sf0.01 correctness runs (1-split
    # scan) keep the unpersisted plan.  The persisted frame is
    # aggregate-grain (states × functions × years rows, KBs); harness
    # sweeps free it via ``cache.free_cached_blocks``.
    if 3 * li.rdd.getNumPartitions() > 2 * spark.sparkContext.defaultParallelism:
        fact = fact.persist()
    stats = derive_stats(fact)
    return derive_extended_stats(stats)

def dedup_minhash_lsh_q(spark, sf_dir):
    """MinHash+LSH banded candidate pairs (zero-shuffle signatures; XXH64 twin tests)."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "doc_id", "text", n=3, num_perm=64, bands=16, threshold=0.2)


def dedup_simhash_q(spark, sf_dir):
    """64-bit SimHash per document (map-only; hamming-ordering tests)."""
    docs = _t(spark, sf_dir, "documents")
    return simhash(docs, "doc_id", "text")


def docs_substring_dedup_q(spark, sf_dir):
    """Exact substring (8-token span) dedup: duplicated spans trimmed from
    every copy but the first (doc_id, pos) occurrence — span-level dedup,
    one shuffle on the gram and one on the doc."""
    docs = _t(spark, sf_dir, "documents")
    return substring_span_dedup(docs, "doc_id", "text", k=8)


_SUBSTRING_DEDUP_SQL = """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents
), occ AS (
  SELECT doc_id, i AS pos, array_to_string(w[i+1:i+8], ' ') AS gram
  FROM t, UNNEST(range(len(w) - 7)) AS u(i)
  WHERE len(w) >= 8
), rnk AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
  FROM occ
), sp AS (
  SELECT doc_id, pos, pos + 8 AS fin FROM rnk WHERE rn > 1
), brk AS (
  SELECT doc_id, pos, fin,
         CASE WHEN pos > coalesce(max(fin) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS b
  FROM sp
), isl AS (
  SELECT doc_id, pos, fin,
         sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS UNBOUNDED PRECEDING) AS island
  FROM brk
), iv AS (
  SELECT doc_id, min(pos) AS s, max(fin) AS e FROM isl GROUP BY doc_id, island
), ivl AS (
  SELECT doc_id, list(struct_pack(s := s, e := e) ORDER BY s) AS ivs
  FROM iv GROUP BY doc_id
), kept AS (
  SELECT t.doc_id, w,
         list_filter(range(len(w)), i -> len(list_filter(
           coalesce(ivs, CAST([] AS STRUCT(s BIGINT, e BIGINT)[])),
           v -> i >= v.s AND i < v.e)) = 0) AS ki
  FROM t LEFT JOIN ivl USING (doc_id)
)
SELECT doc_id,
       -- coalesce: array_to_string([]) is NULL in DuckDB, '' in Spark's
       -- concat_ws — fully-trimmed docs must agree on ''
       coalesce(array_to_string(list_transform(ki, i -> w[i + 1]), ' '), '')
         AS clean_text,
       len(w)::BIGINT AS n_tokens,
       (len(w) - len(ki))::BIGINT AS n_tokens_removed
FROM kept
"""


def multimodal_features_q(spark, sf_dir):
    """Synthesize real PNG/WAV/MP4 container bytes from the documents
    table, then decode them with the stdlib header codecs.  The projection
    drops n_bytes/content_hash (compression-dependent) so the remaining
    columns are a pure function of (doc_id, length(text)) — which is what
    makes the round trip oracle-checkable: DuckDB computes the *expected*
    decode output from the synthesis spec, Spark computes the *actual*
    decode of real bytes, and the hashes must agree."""
    docs = _t(spark, sf_dir, "documents")
    return extract_media_features(documents_as_media(docs)).select(
        "asset_id",
        "modality",
        "format",
        "width",
        "height",
        "duration_ms",
        "sample_rate",
        "channels",
    )


_MULTIMODAL_SQL = """
SELECT doc_id AS asset_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'mp4' END AS format,
       CASE doc_id % 3 WHEN 0 THEN CAST(16 + doc_id % 48 AS INT)
            WHEN 2 THEN CAST(160 + (doc_id % 32) * 8 AS INT) END AS width,
       CASE doc_id % 3 WHEN 0 THEN CAST(16 + length(coalesce(text, '')) % 48 AS INT)
            WHEN 2 THEN CAST(120 + (length(coalesce(text, '')) % 24) * 8 AS INT) END AS height,
       CASE doc_id % 3 WHEN 1 THEN CAST(250 + (doc_id * 37) % 4000 AS INT)
            WHEN 2 THEN CAST(500 + (doc_id * 53) % 8000 AS INT) END AS duration_ms,
       CASE doc_id % 3 WHEN 1 THEN CAST(8000 AS INT) END AS sample_rate,
       CASE doc_id % 3 WHEN 1 THEN CAST(1 AS INT) END AS channels
FROM documents
"""


def ann_srp_lsh_topk_q(spark, sf_dir):
    """SRP-LSH bucketed approximate cosine top-k: multi-table random-
    hyperplane signatures generate candidates, exact cosine ranks them.
    Deterministic sha256-derived planes → hash-exact DuckDB oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = srp_lsh_topk(emb, queries, k=5, dim=64, n_planes=8, n_tables=8)
    return out.select(
        "query_id", "neighbor_id", "cosine",
        F.col("knn_rank").cast("long").alias("knn_rank"),
    )


def _srp_lsh_oracle_sql(dim=64, n_planes=8, n_tables=8, seed=42, k=5) -> str:
    """Rebuild the identical SRP tables in DuckDB: same sha256-derived
    plane literals, same sign-bit buckets, same exact-cosine re-rank."""
    planes = srp_planes(dim, n_planes, n_tables, seed)

    def bucket(t: int) -> str:
        return " + ".join(
            f"(CASE WHEN list_dot_product(v, [{', '.join(str(x) for x in planes[t][p])}])"
            f" > 0 THEN {1 << p} ELSE 0 END)"
            for p in range(n_planes)
        )

    tables = "\n    UNION ALL\n".join(
        f"    SELECT vec_id, {t} AS t, {bucket(t)} AS bucket FROM e"
        for t in range(n_tables)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (
{tables}
),
cand AS (
  SELECT DISTINCT qb.vec_id AS qid, cb.vec_id AS nid
  FROM b qb JOIN b cb USING (t, bucket)
  WHERE qb.vec_id < 10 AND qb.vec_id <> cb.vec_id
),
s AS (
  SELECT qid, nid,
         round(list_dot_product(qe.v, ce.v) /
               (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ce.v, ce.v))),
               4) AS cosine
  FROM cand JOIN e qe ON qe.vec_id = cand.qid JOIN e ce ON ce.vec_id = cand.nid
)
SELECT qid AS query_id, nid AS neighbor_id, cosine, rn AS knn_rank
FROM (SELECT qid, nid, cosine,
             row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rn
      FROM s)
WHERE rn <= {k}
"""


_ANN_SRP_SQL = _srp_lsh_oracle_sql()


def ann_ivf_topk_q(spark, sf_dir):
    """IVF ANN through the deterministic Lloyd's coarse quantizer — the
    whole path (init, iterations, bucket assignment, probing, ranking) is
    reproducible in SQL, so this is hash-exact against DuckDB, not just
    rows-checked.  Recall vs brute force is covered separately by
    tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=3, iters=2)
    return out.select(
        "query_id", "neighbor_id", "cosine", F.col("knn_rank").cast("long").alias("knn_rank")
    )


def _ivf_sql(
    k_cent: int = 8, iters: int = 2, dp: int = 6, n_probe: int = 3, topk: int = 5
) -> str:
    """Unroll `ann_ivf_topk_q`'s deterministic IVF in DuckDB: id-seeded
    init, the same rounded-distance Lloyd's iterations as `_lloyd_sql`,
    probe the ``n_probe`` nearest buckets per query, brute-force cosine
    within probed buckets only."""

    def assign(prev: str) -> str:
        return (
            f"SELECT v.vec_id, v.e, {prev}.cl,\n"
            f"       row_number() OVER (PARTITION BY v.vec_id ORDER BY\n"
            f"         round(list_dot_product(v.e, v.e) + list_dot_product({prev}.c, {prev}.c)\n"
            f"               - 2 * list_dot_product(v.e, {prev}.c), {dp}), {prev}.cl) AS rn\n"
            f"    FROM v, {prev}"
        )

    parts = [
        f"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
c0 AS (
  SELECT rn - 1 AS cl, e AS c FROM (
    SELECT e, row_number() OVER (ORDER BY vec_id) AS rn FROM v) WHERE rn <= {k_cent}
)"""
    ]
    prev = "c0"
    for t in range(1, iters + 1):
        parts.append(
            f""",
a{t} AS (
  SELECT vec_id, e, cl FROM (
    {assign(prev)}) WHERE rn = 1
),
c{t} AS (
  SELECT cl, list(m ORDER BY pos) AS c FROM (
    SELECT cl, pos, round(avg(val), {dp}) AS m FROM (
      SELECT cl, unnest(e) AS val, generate_subscripts(e, 1) AS pos FROM a{t})
    GROUP BY cl, pos)
  GROUP BY cl
)"""
        )
        prev = f"c{t}"
    parts.append(
        f""",
af AS (
  SELECT vec_id, e, cl FROM (
    {assign(prev)}) WHERE rn = 1
),
qp AS (
  SELECT vec_id, cl FROM (
    SELECT v.vec_id, {prev}.cl,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             round(list_dot_product(v.e, v.e) + list_dot_product({prev}.c, {prev}.c)
                   - 2 * list_dot_product(v.e, {prev}.c), {dp}), {prev}.cl) AS rn
    FROM v, {prev} WHERE v.vec_id < 10) WHERE rn <= {n_probe}
),
s AS (
  SELECT qp.vec_id AS qid, af.vec_id AS nid,
         round(list_dot_product(qv.e, af.e) /
               (sqrt(list_dot_product(qv.e, qv.e)) * sqrt(list_dot_product(af.e, af.e))), 4) AS cosine
  FROM qp
  JOIN v qv ON qv.vec_id = qp.vec_id
  JOIN af ON af.cl = qp.cl
  WHERE qp.vec_id <> af.vec_id
), r AS (
  SELECT qid AS query_id, nid AS neighbor_id, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS knn_rank
  FROM s
)
SELECT query_id, neighbor_id, cosine, knn_rank::BIGINT AS knn_rank
FROM r WHERE knn_rank <= {topk}"""
    )
    return "".join(parts)


_ANN_IVF_SQL = _ivf_sql(k_cent=8, iters=2, dp=6, n_probe=3, topk=5)


def ann_ndcg_eval_q(spark, sf_dir):
    """Retrieval-quality evaluation ([EXT]): nDCG@5 of the IVF ANN path
    against exact brute-force ground truth — the ranking-aware metric
    that recall@k misses (an approximate index can hit all 5 true
    neighbors in the wrong order).  Graded relevance of an IVF result =
    6 − its brute-force rank (0 if outside the true top-5); DCG folds
    rel/log2(rank+1) in rank order (the ordered-fold recipe, 5 terms),
    IDCG is the same fold over the ideal grades, and round(·, 6)
    absorbs libm's sub-ulp log2 slack.  At scale both paths are the
    already-bounded ANN shapes; the join is on (query, neighbor)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    truth = brute_force_topk(emb, queries, k=5).select(
        "query_id",
        "neighbor_id",
        (F.lit(6) - F.col("knn_rank")).cast("long").alias("rel"),
    )
    ivf = ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=3, iters=2).select(
        "query_id", "neighbor_id", F.col("knn_rank").cast("long").alias("knn_rank")
    )
    j = ivf.join(truth, ["query_id", "neighbor_id"], "left").select(
        "query_id",
        "knn_rank",
        F.coalesce(F.col("rel"), F.lit(0)).cast("long").alias("rel"),
    )
    folded = j.groupBy("query_id").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("knn_rank", "rel"))),
                lambda s: s["rel"].cast("double")
                / F.log2((s["knn_rank"] + F.lit(1)).cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("dcg")
    )
    idcg = F.expr(
        "aggregate(transform(sequence(1, 5), i -> cast(6 - i as double)"
        " / log2(cast(i + 1 as double))), 0.0D, (a, x) -> a + x)"
    )
    return folded.select(
        "query_id",
        F.round("dcg", 6).alias("dcg"),
        F.round(F.col("dcg") / idcg, 6).alias("ndcg"),
    )


_ANN_NDCG_SQL = f"""
WITH ivf AS (
  SELECT query_id, neighbor_id, knn_rank FROM ({_ANN_IVF_SQL}) s
), truth AS (
  SELECT query_id, neighbor_id, (6 - knn_rank)::BIGINT AS rel
  FROM ({_ANN_SQL}) s
), j AS (
  SELECT i.query_id, i.knn_rank, coalesce(t.rel, 0)::BIGINT AS rel
  FROM ivf i LEFT JOIN truth t
    ON i.query_id = t.query_id AND i.neighbor_id = t.neighbor_id
), folded AS (
  SELECT query_id,
         list_reduce(
           list_prepend(0.0::DOUBLE,
             list(rel::DOUBLE / log2((knn_rank + 1)::DOUBLE)
                  ORDER BY knn_rank)),
           (a, b) -> a + b) AS dcg
  FROM j GROUP BY query_id
), idcg AS (
  SELECT list_reduce(
           list_prepend(0.0::DOUBLE,
             [(6 - i)::DOUBLE / log2((i + 1)::DOUBLE) FOR i IN range(1, 6)]),
           (a, b) -> a + b) AS v
)
SELECT query_id, round(dcg, 6) AS dcg, round(dcg / v, 6) AS ndcg
FROM folded, idcg
"""


def streaming_hourly_rollup_q(spark, sf_dir):
    """Structured Streaming tumbling rollup (availableNow; batch-equality tested)."""
    return run_streaming_rollup(spark, f"{sf_dir}/events.parquet")


def streaming_sessionize_q(spark, sf_dir):
    """applyInPandasWithState gap sessionizer (availableNow; multi-batch
    tested).  Oracle-promoted (r4 verdict ask #3): over a single input
    file availableNow runs ONE micro-batch, so every session closes
    in-batch and the emission equals the batch gaps-and-islands form —
    with the stateful kernel's own arithmetic: total_value accumulates
    as a per-event ``round(acc + v, 2)`` fold (mirrored with an ordered
    ``list_reduce`` in the oracle, the PERF.md cross-engine fold recipe)
    and session_start is the trimmed timestamp string.  The multi-batch
    partial-emission contract stays pinned by the maxFilesPerTrigger
    equality tests in tests/test_llm_ops.py."""
    from ..streaming.stateful import run_streaming_sessionize

    return run_streaming_sessionize(spark, f"{sf_dir}/events.parquet")


_STREAMING_SESSIONIZE_SQL = """
WITH t AS (
  SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events
), flagged AS (
  SELECT *, CASE WHEN LAG(ts_s) OVER w IS NULL OR ts_s - LAG(ts_s) OVER w > 1800
                 THEN 1 ELSE 0 END AS new_s
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, session_id::BIGINT AS session_id,
       count(*)::BIGINT AS n_events,
       CAST(min(ts) AS VARCHAR) AS session_start,
       list_reduce(list_prepend(0.0::DOUBLE, list(value ORDER BY ts, event_id)),
                   (acc, x) -> round(acc + x, 2)) AS total_value
FROM sessions GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

def events_asof_join(spark, sf_dir):
    """As-of join ([EXT], an operator core Spark lacks): each purchase
    event picks up the latest prior click's value for the same user —
    union-sort-carry composition, one shuffle (see operators/asof.py)."""
    from ..operators.asof import as_of_join

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value", "event_id"
    )
    out = as_of_join(
        purchases,
        clicks,
        key="user_id",
        ts="ts",
        payload={"value": "prev_click_value", "ts": "prev_click_ts"},
        right_tiebreak="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").cast("string").alias("ts_str"),
        "purchase_value",
        "prev_click_value",
        F.col("prev_click_ts").cast("string").alias("prev_click_ts"),
    )


def events_attribution(spark, sf_dir):
    """Last-touch attribution ([EXT]): each purchase matched to the latest
    same-user click within a 2h horizon — the batch twin of the
    stream-stream join (streaming/attribution.py; both sides watermarked,
    the range predicate is what bounds join state)."""
    from ..streaming.attribution import attribution_pairs, last_touch

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return last_touch(attribution_pairs(clicks, purchases, horizon_seconds=7200))


_ATTRIBUTION_SQL = """
WITH c AS (
  SELECT event_id AS click_id, user_id, ts AS cts FROM events WHERE event_type = 'click'
), p AS (
  SELECT event_id AS purchase_id, user_id, ts AS pts FROM events WHERE event_type = 'purchase'
), j AS (
  SELECT p.purchase_id, p.user_id, p.pts, c.click_id, c.cts,
         row_number() OVER (PARTITION BY p.purchase_id
                            ORDER BY c.cts DESC, c.click_id DESC) AS rn
  FROM p JOIN c ON p.user_id = c.user_id
    AND c.cts <= p.pts AND c.cts >= p.pts - INTERVAL 2 HOUR
)
SELECT purchase_id, user_id, CAST(pts AS VARCHAR) AS purchase_ts, click_id,
       (epoch_us(pts) - epoch_us(cts))::BIGINT AS lag_us
FROM j WHERE rn = 1
"""


_ASOF_SQL = """
WITH clicks AS (
  SELECT user_id, ts, value
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click')
  WHERE rn = 1
), purchases AS (
  SELECT event_id, user_id, ts, value AS purchase_value
  FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, CAST(p.ts AS VARCHAR) AS ts_str, p.purchase_value,
       c.value AS prev_click_value, CAST(c.ts AS VARCHAR) AS prev_click_ts
FROM purchases p
ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def events_asof_forward(spark, sf_dir):
    """Forward as-of: each purchase picks up the NEXT click's value for
    the same user (``right.ts >= left.ts``) — the same union-sort-carry
    plan with the sort reversed."""
    from ..operators.asof import as_of_join

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value", "event_id"
    )
    out = as_of_join(
        purchases,
        clicks,
        key="user_id",
        ts="ts",
        payload={"value": "next_click_value", "ts": "next_click_ts"},
        right_tiebreak="event_id",
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").cast("string").alias("ts_str"),
        "purchase_value",
        "next_click_value",
        F.col("next_click_ts").cast("string").alias("next_click_ts"),
    )


_ASOF_FWD_SQL = """
WITH clicks AS (
  SELECT user_id, ts, value
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click')
  WHERE rn = 1
), purchases AS (
  SELECT event_id, user_id, ts, value AS purchase_value
  FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, CAST(p.ts AS VARCHAR) AS ts_str, p.purchase_value,
       c.value AS next_click_value, CAST(c.ts AS VARCHAR) AS next_click_ts
FROM purchases p
ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts <= c.ts
"""


def events_funnel(spark, sf_dir):
    """Ordered funnel analysis ([EXT]): signup → click → purchase per user,
    each stage's first occurrence strictly after the previous stage.  Three
    conditional-min passes over one shuffled-by-user aggregation chain."""
    e = _t(spark, sf_dir, "events")
    s = e.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("signup_ts")
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    out = (
        s.join(c, "user_id", "left").join(p, "user_id", "left")
        .select(
            "user_id",
            F.col("signup_ts").cast("string").alias("signup_ts"),
            F.col("click_ts").cast("string").alias("click_ts"),
            F.col("purchase_ts").cast("string").alias("purchase_ts"),
            (
                F.lit(1)
                + F.when(F.col("click_ts").isNotNull(), 1).otherwise(0)
                + F.when(F.col("purchase_ts").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("funnel_stage"),
        )
    )
    return out


_FUNNEL_SQL = """
WITH s AS (
  SELECT user_id, min(ts) AS signup_ts FROM events WHERE event_type = 'signup' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS click_ts
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'click' AND e.ts > s.signup_ts
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS purchase_ts
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
  GROUP BY e.user_id
)
SELECT s.user_id,
       CAST(s.signup_ts AS VARCHAR)   AS signup_ts,
       CAST(c.click_ts AS VARCHAR)    AS click_ts,
       CAST(p.purchase_ts AS VARCHAR) AS purchase_ts,
       (1 + CASE WHEN c.click_ts IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN p.purchase_ts IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS funnel_stage
FROM s LEFT JOIN c ON s.user_id = c.user_id
       LEFT JOIN p ON s.user_id = p.user_id
"""


def q4_order_priority(spark, sf_dir):
    """EXISTS-aggregate shape (TPC-H Q4): orders with at least one late
    lineitem, counted per priority — semi-join then aggregate."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1997-07-01")
    )
    late = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1997-01-01")
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


_Q4_SQL = """
SELECT o_orderpriority, count(*)::BIGINT AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1997-07-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > TIMESTAMP '1997-01-01')
GROUP BY o_orderpriority
"""


def q12_priority_buckets(spark, sf_dir):
    """Conditional CASE-bucket counts (TPC-H Q12 shape): high- vs low-
    priority order counts per returnflag."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    high = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    return j.groupBy("l_returnflag").agg(
        F.sum(high).cast("long").alias("high_line_count"),
        F.sum(1 - high).cast("long").alias("low_line_count"),
    )


_Q12_SQL = """
SELECT l_returnflag,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)::BIGINT AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_returnflag
"""


def tfidf_topk(spark, sf_dir):
    """TF-IDF scoring ([EXT]): top-3 terms per document by tf·idf — the IR
    primitive behind keyword extraction.  Token explode → per-doc term
    counts → document-frequency join → log-idf; deterministic tiebreak."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()  # small driver-side scalar, fine at any scale
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
        ).alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = toks.select("doc_id", "token").distinct().groupBy("token").agg(
        F.count("*").alias("df")
    )
    scored = tf.join(df_, "token").withColumn(
        "tfidf", F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4)
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "token", "tfidf", F.col("rk").cast("long").alias("rk"))
    )


_TFIDF_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token
), dfreq AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY token
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, token, round(tf * ln(n_docs::DOUBLE / df), 4) AS tfidf
  FROM tf JOIN dfreq USING (token) CROSS JOIN n
)
SELECT doc_id, token, tfidf, rk::BIGINT AS rk
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rk
      FROM scored)
WHERE rk <= 3
"""


def docs_chunking(spark, sf_dir):
    """Fixed-window token chunking with overlap ([EXT]) — pre-training
    segmentation over the documents table (map-only, no shuffle)."""
    from ..operators.text import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=32, overlap=8)


_DOCS_CHUNK_SQL = """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents
), nz AS (
  SELECT * FROM toks WHERE len(w) > 0
), starts AS (
  SELECT doc_id, w, unnest(range(0, greatest(len(w) - 1, 0) + 1, 24)) AS s FROM nz
)
SELECT doc_id,
       (s // 24)::INT                          AS chunk_idx,
       array_to_string(w[s + 1 : s + 32], ' ') AS chunk_text,
       len(w[s + 1 : s + 32])::BIGINT          AS n_chunk_tokens
FROM starts
"""


def embedding_norm_stats(spark, sf_dir):
    """Per-label embedding geometry statistics ([EXT]): L2-norm and
    mean-component aggregates — all JVM array expressions, no Python."""
    emb = _t(spark, sf_dir, "embeddings")
    sq = F.expr(
        "aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
        " 0D, (acc, v) -> acc + v)"
    )
    mean_comp = F.expr(
        "aggregate(transform(embedding, x -> CAST(x AS DOUBLE)), 0D, (acc, v) -> acc + v)"
        " / size(embedding)"
    )
    return (
        emb.select("label", F.sqrt(sq).alias("norm"), mean_comp.alias("mean_comp"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg("norm"), 4).alias("avg_norm"),
            F.round(F.max("norm"), 4).alias("max_norm"),
            F.round(F.avg("mean_comp"), 4).alias("avg_mean_comp"),
        )
    )


_EMB_NORM_SQL = """
WITH v AS (
  SELECT label,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm,
         list_sum(embedding::DOUBLE[]) / len(embedding) AS mean_comp
  FROM embeddings
)
SELECT label, count(*)::BIGINT AS n_vectors,
       round(avg(norm), 4) AS avg_norm,
       round(max(norm), 4) AS max_norm,
       round(avg(mean_comp), 4) AS avg_mean_comp
FROM v GROUP BY label
"""


def embedding_clusters_q(spark, sf_dir):
    """KMeans coarse clustering profile: cluster × label contingency — the
    IVF bucket layout viewed as an operator.  Deterministic Lloyd's
    (pinned init, fixed iterations, rounded updates) instead of
    ``pyspark.ml`` KMeans, so the WHOLE clustering is oracle-checkable:
    the DuckDB SQL below unrolls the identical iterations."""
    from ..operators.clustering import lloyd_kmeans_assign, seeded_label_init

    emb = _t(spark, sf_dir, "embeddings")
    init = seeded_label_init(emb, "vec_id", "embedding", "label", k=4)
    assigned = lloyd_kmeans_assign(
        emb, "vec_id", "embedding", init, iters=3, round_dp=6, keep_cols=("label",)
    )
    return assigned.groupBy("cluster", "label").agg(F.count("*").alias("n"))


from .lloyd_sql import lloyd_profile_sql as _lloyd_sql  # noqa: E402

_EMB_CLUSTERS_SQL = _lloyd_sql(k=4, iters=3, dp=6)


from .pipeline_oracle import ASPEP_PIPELINE_SQL as _ASPEP_PIPELINE_SQL  # noqa: E402
from .xxh64_sql import minhash_lsh_oracle as _minhash_lsh_oracle  # noqa: E402
from .xxh64_sql import simhash_oracle as _simhash_oracle  # noqa: E402

# DuckDB has no xxhash64, so the hash-seeded near-dup oracles carry a CREATE
# MACRO prelude implementing XXH64 in SQL (macro-vs-twin exactness pinned in
# tests/test_hash_twins.py).  _ASPEP_PIPELINE_SQL is a generated 130-column
# replay of the full ASPEP chain, exact through the fact's integer quantization.
_XXH_MINHASH_SQL = _minhash_lsh_oracle(num_perm=64, bands=16, threshold=0.2)
_XXH_SIMHASH_SQL = _simhash_oracle()


QUERIES = {
    "q1_pricing_summary": (q1_pricing_summary, _Q1_SQL),
    "q3_top_orders": (q3_top_orders, _Q3_SQL),
    "q5_region_revenue": (q5_region_revenue, _Q5_SQL),
    "flagship_ratio_rank": (flagship_ratio_rank, _FLAGSHIP_SQL),
    "p5_date_range_filter": (p5_date_range_filter, _P5_SQL),
    "p8_significance_filter": (p8_significance_filter, _P8_SQL),
    "f5_numeric_cleanse": (f5_numeric_cleanse, _F5_SQL),
    "f7_safe_ratio": (f7_safe_ratio, _F7_SQL),
    "j1_broadcast_dim_join": (j1_broadcast_dim_join, _J1_SQL),
    "j2_recode_passthrough": (j2_recode_passthrough, _J2_SQL),
    "a1_grouped_median": (a1_grouped_median, _A1_SQL),
    "a1_grouped_median_approx": (a1_grouped_median_approx, _A1_APPROX_SQL),
    "a1_grouped_median_sketch": (a1_grouped_median_sketch, _A1_SKETCH_SQL),
    "a3_stats_union_back": (a3_stats_union_back, _A3_SQL),
    "w1_lag_deltas": (w1_lag_deltas, _W1_SQL),
    "w3_rank_null_parity": (w3_rank_null_parity, _W3_SQL),
    "w4_signed_ranks": (w4_signed_ranks, _W4_SQL),
    "u1_union_by_name": (u1_union_by_name, _U1_SQL),
    "o1_topk_sort": (o1_topk_sort, _O1_SQL),
    "p6_anti_filter": (p6_anti_filter, _P6_SQL),
    "p9_point_lookup": (p9_point_lookup, _P9_SQL),
    "f1_slugify": (f1_slugify, _F1_SQL),
    "f3_dim_normalize": (f3_dim_normalize, _F3_SQL),
    "q6_revenue_delta": (q6_revenue_delta, _Q6_SQL),
    "agg_rollup": (agg_rollup, _ROLLUP_SQL),
    "j4_semi_anti_join": (j4_semi_anti_join, _J4_SQL),
    "agg_count_distinct": (agg_count_distinct, _COUNT_DISTINCT_SQL),
    "events_json_props": (events_json_props, _EVENTS_JSON_SQL),
    "docs_quality_filter": (docs_quality_filter, _DOCS_QUALITY_SQL),
    "vocab_topk": (vocab_topk, _VOCAB_SQL),
    "dedup_sweep": (dedup_sweep, _DEDUP_SWEEP_SQL),
    "q2_min_cost_supplier": (q2_min_cost_supplier, _Q2_SQL),
    "q14_promo_share": (q14_promo_share, _Q14_SQL),
    "q18_large_orders": (q18_large_orders, _Q18_SQL),
    "agg_cube": (agg_cube, _CUBE_SQL),
    "events_asof_join": (events_asof_join, _ASOF_SQL),
    "events_attribution": (events_attribution, _ATTRIBUTION_SQL),
    "events_asof_forward": (events_asof_forward, _ASOF_FWD_SQL),
    "events_funnel": (events_funnel, _FUNNEL_SQL),
    "q4_order_priority": (q4_order_priority, _Q4_SQL),
    "q12_priority_buckets": (q12_priority_buckets, _Q12_SQL),
    "tfidf_topk": (tfidf_topk, _TFIDF_SQL),
    "docs_chunking": (docs_chunking, _DOCS_CHUNK_SQL),
    "embedding_norm_stats": (embedding_norm_stats, _EMB_NORM_SQL),
    "embedding_clusters": (embedding_clusters_q, _EMB_CLUSTERS_SQL),
    "dedup_exact": (dedup_exact_q, _DEDUP_EXACT_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard_q, _NGRAM_JACCARD_SQL),
    "dedup_ngram_jaccard_capped": (dedup_ngram_jaccard_capped_q, _NGRAM_JACCARD_CAPPED_SQL),
    "text_quality": (text_quality_q, _TEXT_QUALITY_SQL),
    "text_langid": (text_langid_q, _TEXT_LANGID_SQL),
    "text_fingerprint": (text_fingerprint_q, _TEXT_FINGERPRINT_SQL),
    "ann_cosine_topk": (ann_cosine_topk_q, _ANN_SQL),
    "dedup_embedding_cosine": (dedup_embedding_cosine_q, _EMB_NEARDUP_SQL),
    "events_hourly_rollup": (events_hourly_rollup_q, _EVENTS_ROLLUP_SQL),
    "events_latest_per_user": (events_latest_per_user_q, _EVENTS_LATEST_SQL),
    "events_sessionize": (events_sessionize_q, _EVENTS_SESSION_SQL),
    "multimodal_features": (multimodal_features_q, _MULTIMODAL_SQL),
    "ann_ivf_topk": (ann_ivf_topk_q, _ANN_IVF_SQL),
    "ann_ndcg_eval": (ann_ndcg_eval_q, _ANN_NDCG_SQL),
    "ann_srp_lsh_topk": (ann_srp_lsh_topk_q, _ANN_SRP_SQL),
    "dedup_minhash_lsh": (dedup_minhash_lsh_q, _XXH_MINHASH_SQL),
    "dedup_simhash": (dedup_simhash_q, _XXH_SIMHASH_SQL),
    "docs_substring_dedup": (docs_substring_dedup_q, _SUBSTRING_DEDUP_SQL),
    # availableNow final state == the batch aggregate (tests/test_streaming.py)
    "streaming_hourly_rollup": (streaming_hourly_rollup_q, _EVENTS_ROLLUP_SQL),
    "streaming_sessionize": (streaming_sessionize_q, _STREAMING_SESSIONIZE_SQL),
    "aspep_extended_pipeline": (aspep_extended_pipeline, _ASPEP_PIPELINE_SQL),
}


def merge_queries(modules) -> dict:
    """Merge each module's ``QUERIES`` (``name -> (builder, oracle_sql)``)
    in module order.  A name registered twice raises ``ValueError`` naming
    both modules, instead of the later entry silently replacing the first."""
    merged, owner = {}, {}
    for module in modules:
        for name, entry in module.QUERIES.items():
            if name in owner:
                raise ValueError(
                    f"query {name!r} is registered by both {owner[name]} and {module.__name__}"
                )
            merged[name], owner[name] = entry, module.__name__
    return merged


from . import (  # noqa: E402
    analytics_extra, analytics_r6, analytics_r6b, analytics_r7, analytics_r8, analytics_r9,
    analytics_r10, curation, llm_extra, llm_scale, relational_extra, tokenizer,
    tpch_extra,
)

_REGISTRY = merge_queries((
    sys.modules[__name__], tpch_extra, llm_extra, relational_extra, curation, llm_scale,
    analytics_extra, analytics_r6, analytics_r6b, analytics_r7, analytics_r8, analytics_r9,
    analytics_r10, tokenizer,
))
SPARK_QUERIES = {name: builder for name, (builder, _) in _REGISTRY.items()}
ORACLE_SQL = {name: sql for name, (_, sql) in _REGISTRY.items()}
