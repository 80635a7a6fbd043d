"""[EXT] Relational-surface contract queries beyond the reference's own
operator set: deterministic sampling / dataset splits, pivot / unpivot,
bucketed interval (range) join, time-range rolling windows, exact grouped
percentiles, decile bucketing, and edit-distance near-dup verification.

Each query has a DuckDB oracle twin; cross-engine determinism is designed
in (md5-hash selection for sampling, total-order tie-breaks for ntile,
rounded aggregates where float summation order differs).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.dedup import levenshtein_pairs
from ..operators.ranges import interval_join
from ..operators.sampling import hash_sample, split_column
from ..sources.registry import load_table as _t

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


# ---------------------------------------------------------------------------
# sampling / splits
# ---------------------------------------------------------------------------


def sample_stratified(spark, sf_dir):
    """Deterministic 20% sample, stratified by language: selection is a
    pure function of md5(salt|lang|doc_id), so it is reproducible across
    runs, partitionings, and engines — ``df.sample`` can guarantee none
    of that.  Map-only; the filter rides the scan."""
    docs = _t(spark, sf_dir, "documents")
    return hash_sample(docs, ["lang", "doc_id"], 0.2, salt="sample").select(
        "doc_id", "lang"
    )


_SAMPLE_SQL = """
SELECT doc_id, lang
FROM documents
WHERE substr(md5('sample' || '|' || lang || '|' || doc_id::VARCHAR), 1, 8) < '33333333'
"""


def docs_split(spark, sf_dir):
    """Train/val/test assignment (80/10/10) by key hash — every row lands
    in exactly one split, forever, on any engine."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        split_column(["doc_id"], {"train": 0.8, "val": 0.1, "test": 0.1}).alias(
            "split"
        ),
    )


_SPLIT_SQL = """
SELECT doc_id,
       CASE WHEN h < 'cccccccc' THEN 'train'
            WHEN h < 'e6666666' THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, substr(md5('split' || '|' || doc_id::VARCHAR), 1, 8) AS h
      FROM documents)
"""


# ---------------------------------------------------------------------------
# pivot / unpivot
# ---------------------------------------------------------------------------


def events_pivot(spark, sf_dir):
    """Wide per-user activity profile via Spark's pivot relational
    operator.  The pivot value list is explicit, so the plan is a single
    groupBy (no extra distinct-values job) — at scale an implicit pivot
    adds a full scan just to learn the columns."""
    ev = _t(spark, sf_dir, "events")
    wide = ev.groupBy("user_id").pivot("event_type", EVENT_TYPES).count()
    return wide.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in EVENT_TYPES
        ],
    )


_PIVOT_SQL = """
SELECT user_id,
       sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END)::BIGINT AS n_click,
       sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END)::BIGINT AS n_view,
       sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchase,
       sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END)::BIGINT AS n_signup,
       sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END)::BIGINT AS n_error
FROM events GROUP BY user_id
"""

_UNPIVOT_METRICS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def lineitem_unpivot(spark, sf_dir):
    """Wide→long melt of the lineitem metrics (Spark ``unpivot`` — the
    inverse of pivot; map-only fan-out, no shuffle)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        *[F.col(m).cast("double") for m in _UNPIVOT_METRICS],
    ).unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=_UNPIVOT_METRICS,
        variableColumnName="metric",
        valueColumnName="val",
    )


_UNPIVOT_SQL = """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity::DOUBLE AS val
FROM lineitem WHERE l_orderkey < 500
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice::DOUBLE
FROM lineitem WHERE l_orderkey < 500
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount::DOUBLE
FROM lineitem WHERE l_orderkey < 500
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax::DOUBLE
FROM lineitem WHERE l_orderkey < 500
"""


# ---------------------------------------------------------------------------
# interval join / rolling window
# ---------------------------------------------------------------------------


def events_interval_join(spark, sf_dir):
    """Point-in-interval join through the BUCKETED range-join operator
    (equi-join on coarse time buckets + band filter — no
    BroadcastNestedLoopJoin): ten 2-day campaign windows every 3 days,
    each aggregating the events that fall inside it."""
    ev = _t(spark, sf_dir, "events")
    windows = spark.range(10).select(
        F.col("id").alias("window_id"),
        F.to_timestamp(
            F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") * 3).cast("int"))
        ).alias("w_start"),
        F.to_timestamp(
            F.date_add(
                F.lit("2024-01-01").cast("date"), (F.col("id") * 3 + 2).cast("int")
            )
        ).alias("w_end"),
    )
    joined = interval_join(
        ev, windows, "ts", "w_start", "w_end", bucket_width_s=86_400
    )
    return joined.groupBy("window_id").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


_INTERVAL_SQL = """
WITH w AS (
  SELECT i AS window_id,
         TIMESTAMP '2024-01-01' + INTERVAL '1 day' * (i * 3) AS s,
         TIMESTAMP '2024-01-01' + INTERVAL '1 day' * (i * 3 + 2) AS e
  FROM generate_series(0, 9) t(i)
)
SELECT window_id, count(*)::BIGINT AS n_events,
       count(DISTINCT user_id)::BIGINT AS n_users,
       round(sum(value), 4) AS sum_value
FROM w JOIN events ON ts >= s AND ts < e
GROUP BY window_id
"""


def events_rolling_hour(spark, sf_dir):
    """Per-user trailing-1-hour activity via a time-RANGE window frame
    (microsecond ordering so the frame bound is exact, matching DuckDB's
    INTERVAL arithmetic).  One shuffle on user_id."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_1h"),
        F.round(F.sum("value").over(w), 4).alias("sum_1h"),
    )


_ROLLING_SQL = """
SELECT event_id, user_id,
       count(*) OVER w AS n_1h,
       round(sum(value) OVER w, 4) AS sum_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# percentiles / deciles
# ---------------------------------------------------------------------------


def events_value_percentiles(spark, sf_dir):
    """Exact grouped percentiles (linear interpolation — the same
    definition DuckDB's quantile_cont uses).  At reference scales exact is
    affordable; the documented fallback beyond that is
    ``percentile_approx``."""
    ev = _t(spark, sf_dir, "events")
    pct = F.percentile("value", F.array(*[F.lit(p) for p in (0.25, 0.5, 0.9, 0.99)]))
    agg = ev.groupBy("event_type").agg(pct.alias("q"))
    return agg.select(
        "event_type",
        *[
            F.round(F.col("q")[i], 6).alias(name)
            for i, name in enumerate(["p25", "p50", "p90", "p99"])
        ],
    )


_PERCENTILES_SQL = """
SELECT event_type,
       round(q[1], 6) AS p25, round(q[2], 6) AS p50,
       round(q[3], 6) AS p90, round(q[4], 6) AS p99
FROM (SELECT event_type,
             quantile_cont(value, [0.25, 0.5, 0.9, 0.99]) AS q
      FROM events GROUP BY event_type)
"""


def orders_price_deciles(spark, sf_dir):
    """NTILE decile profile of order value.  The orderBy carries a
    total-order tie-break (o_orderkey) — without it NTILE assignment at
    tie boundaries is engine-dependent.  Global sort of a dimension-sized
    table; at fact scale use percent_rank over pre-aggregated buckets
    instead (documented)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        orders.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


_DECILES_SQL = """
SELECT decile, count(*)::BIGINT AS n_orders,
       round(min(o_totalprice), 2) AS min_price,
       round(max(o_totalprice), 2) AS max_price,
       round(sum(o_totalprice), 2) AS sum_price
FROM (SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders)
GROUP BY decile
"""


def orders_price_deciles_scaled(spark, sf_dir):
    """Fact-scale twin of ``orders_price_deciles``: the SAME decile
    profile computed without a partition-less window.  The global rank
    comes from the two-pass distributed prefix scheme
    (``operators/global_order.py`` — range repartition, per-partition
    offsets, per-partition window) and the NTILE bucket from exact
    integer math, so the result is bit-identical to the exact NTILE
    form and REUSES its DuckDB oracle.  No stage funnels more than one
    range partition through a task — this is the shape that survives a
    100 TB orders table; the exact twin stays as the verification
    baseline."""
    from ..operators.global_order import global_row_number, ntile_expr

    orders = _t(spark, sf_dir, "orders")
    ranked, n_rows = global_row_number(
        orders.select("o_totalprice", "o_orderkey"),
        [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
        rank_col="__rank",
    )
    return (
        ranked.withColumn("decile", ntile_expr("__rank", n_rows, 10))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# edit-distance near-dup
# ---------------------------------------------------------------------------


def dedup_levenshtein(spark, sf_dir):
    """Edit-distance verification of near-dup candidates, blocked by
    (lang, 16-char length band) so the quadratic distance never runs
    all-pairs.  One shuffle on the block key."""
    docs = _t(spark, sf_dir, "documents")
    return levenshtein_pairs(
        docs, "doc_id", "text", block_cols=["lang"], length_band=16, max_distance=12
    )


_LEVENSHTEIN_SQL = """
-- Pure semantic spec (NO band blocking): all same-lang pairs, pre-pruned
-- only by SOUND edit-distance lower bounds.  The Spark side's
-- band-neighbor blocking must reproduce exactly this set, so the gate
-- verifies blocking soundness instead of mirroring the blocker.
-- Two bounds (both provable, neither mirrors the engine):
--   (1) |len(a)-len(b)| <= lev(a,b)  (each op changes length by <= 1);
--   (2) L1(hist(a), hist(b)) <= 2*lev(a,b): an insert/delete changes one
--       character count by 1, a substitution changes two counts by 1
--       each, so per op the character-histogram L1 distance moves <= 2.
-- Bound (2) cuts the 157k length-banded sf0.1 pairs to ~100 before the
-- O(len^2) levenshtein runs (72 s -> 2.8 s, result identical).  The
-- histogram is computed ONCE per doc in a MATERIALIZED CTE (plain CTEs
-- are inlined per reference in DuckDB 1.0).
WITH t AS MATERIALIZED (
  SELECT doc_id, text, lang, length(text) AS len,
         list_transform(
           ['a','b','c','d','e','f','g','h','i','j','k','l','m',
            'n','o','p','q','r','s','t','u','v','w','x','y','z',' '],
           c -> length(text) - length(replace(text, c, ''))
         ) AS hist
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       levenshtein(a.text, b.text)::INT AS lev
FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
  AND abs(a.len - b.len) <= 12
  AND list_sum(list_transform(list_zip(a.hist, b.hist),
                              p -> abs(p[1] - p[2]))) <= 24
WHERE levenshtein(a.text, b.text) <= 12
"""


def events_hopping_window(spark, sf_dir):
    """Overlapping (hopping) time windows — ``F.window`` with a 2h width /
    1h slide, so every event lands in exactly two windows.  Same
    partial+final aggregation plan as a tumbling rollup; the fan-out is
    map-side."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("win.start").cast("string").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


_HOPPING_SQL = """
WITH h AS (
  SELECT date_trunc('hour', ts) AS s, event_type, value FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type, value FROM events
)
SELECT s::VARCHAR AS win_start, event_type,
       count(*)::BIGINT AS n_events, round(sum(value), 4) AS total_value
FROM h GROUP BY s, event_type
"""


def docs_domain_mix(spark, sf_dir):
    """Domain-mixing table for training-data curation: per (source, lang)
    token counts, corpus share, and a temperature-0.5 sampling weight
    (w ∝ share^0.5, normalized) — the knob that up-samples small
    high-quality domains.  Two tiny aggregates + one broadcast of two
    scalar totals; the heavy token counting is a map-only regex."""
    from ..operators.text import token_count

    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("n_tokens"),
    )
    totals = per.agg(
        F.sum("n_tokens").alias("__tot"),
        F.sum(F.sqrt(F.col("n_tokens"))).alias("__tot_w"),
    )
    return per.crossJoin(F.broadcast(totals)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("__tot"), 6).alias("token_share"),
        F.round(F.sqrt(F.col("n_tokens")) / F.col("__tot_w"), 6).alias("mix_weight"),
    )


_DOMAIN_MIX_SQL = """
WITH per AS (
  SELECT source, lang, count(*)::BIGINT AS n_docs,
         sum(len(regexp_extract_all(lower(text), '[a-z0-9]+')))::BIGINT AS n_tokens
  FROM documents GROUP BY source, lang
), tot AS (
  SELECT sum(n_tokens) AS t, sum(sqrt(n_tokens)) AS tw FROM per
)
SELECT source, lang, n_docs, n_tokens,
       round(n_tokens / t, 6) AS token_share,
       round(sqrt(n_tokens) / tw, 6) AS mix_weight
FROM per, tot
"""


def user_event_type_sets(spark, sf_dir):
    """Nested-type aggregation: the sorted distinct event-type set per
    user (``collect_set`` + ``array_sort``), serialized to a join string
    so the value-hash comparator sees a scalar.  One shuffle."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("types"),
        F.count_distinct("event_type").alias("n_types"),
    )


_TYPE_SETS_SQL = """
SELECT user_id,
       string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types,
       count(DISTINCT event_type)::BIGINT AS n_types
FROM events GROUP BY user_id
"""


def events_value_distribution(spark, sf_dir):
    """Distribution window functions — percent_rank and cume_dist of each
    event's value within its type.  The (value, event_id) tie-break makes
    both engine-independent; one shuffle on event_type."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


_DISTRIBUTION_SQL = """
SELECT event_id, event_type,
       round(percent_rank() OVER w, 6) AS pr,
       round(cume_dist() OVER w, 6) AS cd
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
"""


def user_modal_event(spark, sf_dir):
    """Grouped mode with a deterministic tie-break (max count, then
    alphabetically first type) via a single struct-min aggregate over the
    per-(user, type) counts — no window pass needed on the second
    shuffle."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    best = F.min(
        F.struct((-F.col("cnt")).alias("nc"), F.col("event_type").alias("t"))
    )
    return counts.groupBy("user_id").agg(
        best.getField("t").alias("modal_type"),
        (-best.getField("nc")).alias("modal_count"),
    )


_MODAL_SQL = """
SELECT user_id, event_type AS modal_type, cnt AS modal_count
FROM (
  SELECT user_id, event_type, cnt,
         row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, event_type) AS rn
  FROM (SELECT user_id, event_type, count(*)::BIGINT AS cnt
        FROM events GROUP BY user_id, event_type)
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# CDC merge / streaming debounce
# ---------------------------------------------------------------------------


def orders_upsert_merge(spark, sf_dir):
    """Latest-wins CDC merge through `upsert_latest`: a synthetic update
    batch (every 10th order, price bumped by an exact +100.0 so no
    rounding enters the hash) versioned above the base snapshot.  One
    shuffle on the merge key.  The price delta is additive on purpose —
    IEEE addition is bit-identical across engines, multiplication +
    rounding is not."""
    from ..operators.setops import upsert_latest

    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey", "o_totalprice", F.lit(1).alias("version")
    )
    updates = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
        F.lit(2).alias("version"),
    )
    return upsert_latest(base, updates, ["o_orderkey"], "version")


_UPSERT_SQL = """
WITH base AS (
  SELECT o_orderkey, o_totalprice, 1 AS version FROM orders
), upd AS (
  SELECT o_orderkey, o_totalprice + 100.0 AS o_totalprice, 2 AS version
  FROM orders WHERE o_orderkey % 10 = 0
), u AS (
  SELECT * FROM base UNION ALL SELECT * FROM upd
), r AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
  FROM u
)
SELECT o_orderkey, o_totalprice, version FROM r WHERE rn = 1
"""


def events_debounce(spark, sf_dir):
    """Batch twin of the streaming debounce: deterministic min-event_id
    survivor per (user, event_type, minute) — the oracle-checkable face of
    `streaming_debounce`."""
    from ..streaming.dedup import debounce_batch

    return debounce_batch(_t(spark, sf_dir, "events"))


_DEBOUNCE_SQL = """
SELECT user_id, event_type,
       date_trunc('minute', ts)::VARCHAR AS minute,
       min(event_id) AS event_id,
       count(*)::BIGINT AS n_collapsed
FROM events
GROUP BY user_id, event_type, date_trunc('minute', ts)
"""


def events_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (the general form of rollup/cube, both
    already covered): one aggregation producing per-type totals, per-user
    totals, and the grand total in a single shuffle, with grouping()
    flags disambiguating genuine nulls from aggregation nulls."""
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__ev_gs")
    return spark.sql(
        """
        SELECT event_type, user_id, count(*) AS n,
               CAST(grouping(event_type) AS INT) AS g_type,
               CAST(grouping(user_id) AS INT) AS g_user
        FROM __ev_gs
        GROUP BY GROUPING SETS ((event_type), (user_id), ())
        """
    )


_GROUPING_SETS_SQL = """
SELECT event_type, user_id, count(*)::BIGINT AS n,
       grouping(event_type)::INT AS g_type, grouping(user_id)::INT AS g_user
FROM events GROUP BY GROUPING SETS ((event_type), (user_id), ())
"""


def events_session_window(spark, sf_dir):
    """Native ``F.session_window`` aggregation (30-min gap): per-user
    sessions with start / end (last event + gap) / size / value.  The
    DuckDB twin re-derives the identical sessions with lag/running-sum
    gap logic on microsecond epochs — new session when the gap is >= the
    timeout, matching session_window's strict window-end merge rule."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("string").alias("session_start"),
            F.col("w.end").cast("string").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


_SESSION_WINDOW_SQL = """
WITH l AS (
  SELECT user_id, event_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), s AS (
  SELECT user_id, ts, value,
         sum(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) >= 1800000000
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
  FROM l
)
SELECT user_id,
       CAST(min(ts) AS VARCHAR) AS session_start,
       CAST(max(ts) + INTERVAL 30 MINUTE AS VARCHAR) AS session_end,
       count(*)::BIGINT AS n_events,
       round(sum(value), 4) AS total_value
FROM s GROUP BY user_id, sid
"""


def streaming_debounce_q(spark, sf_dir):
    """Streaming debounce via dropDuplicatesWithinWatermark (availableNow).
    Oracle-promoted (r4 verdict ask #3): the WHICH-row-survives choice is
    arrival-order-dependent by design (the engine keeps the first row it
    sees per key), so the contract surface pins the deterministic part —
    the debounced KEY SET, whose cardinality is the operator's entire
    effect.  The survivor's payload validity (its event_id really belongs
    to the key) and the batch-twin equality stay pinned in
    tests/test_llm_ops.py."""
    from ..streaming.dedup import run_streaming_debounce

    out = run_streaming_debounce(spark, f"{sf_dir}/events.parquet")
    return out.select("user_id", "event_type", "minute")


_STREAMING_DEBOUNCE_SQL = """
SELECT DISTINCT user_id, event_type,
       date_trunc('minute', ts)::VARCHAR AS minute
FROM events
"""


def dq_audit(spark, sf_dir):
    """Declarative data-quality gate over three tables: per-rule violation
    counts via ONE conditional-aggregate scan per table, one grouped pass
    for the uniqueness rule, and one anti-join for the foreign key — the
    dbt-test/Deequ shape, as a single audit DataFrame."""
    from ..operators.quality_checks import (
        accepted_values,
        in_range,
        not_null,
        referential_check,
        run_checks,
        unique_key,
    )

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ev = _t(spark, sf_dir, "events")
    audits = [
        run_checks(
            orders,
            "orders",
            [
                not_null("o_orderkey"),
                unique_key("o_orderkey"),
                accepted_values("o_orderstatus", ["P", "O", "F"]),
                in_range("o_totalprice", 0.0, 1e7),
            ],
        ),
        run_checks(
            li,
            "lineitem",
            [not_null("l_orderkey"), in_range("l_discount", 0.0, 0.1)],
        ),
        referential_check(li, orders.select("o_orderkey"), "l_orderkey", "o_orderkey", "lineitem"),
        run_checks(
            ev,
            "events",
            [
                not_null("user_id"),
                accepted_values(
                    "event_type", ["click", "view", "purchase", "signup", "error"]
                ),
            ],
        ),
    ]
    out = audits[0]
    for a in audits[1:]:
        out = out.unionByName(a)
    return out


_DQ_SQL = """
SELECT 'orders' AS "table", 'not_null:o_orderkey' AS rule,
       sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_violations,
       sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) = 0 AS pass
FROM orders
UNION ALL
SELECT 'orders', 'unique:o_orderkey', v::BIGINT, v = 0 FROM (
  SELECT coalesce(sum(n - 1), 0) AS v FROM (
    SELECT count(*) AS n FROM orders GROUP BY o_orderkey HAVING count(*) > 1))
UNION ALL
SELECT 'orders', 'accepted_values:o_orderstatus',
       sum(CASE WHEN o_orderstatus NOT IN ('P','O','F') THEN 1 ELSE 0 END)::BIGINT,
       sum(CASE WHEN o_orderstatus NOT IN ('P','O','F') THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'orders', 'range:o_totalprice',
       sum(CASE WHEN NOT (o_totalprice BETWEEN 0.0 AND 1e7) OR o_totalprice IS NULL THEN 1 ELSE 0 END)::BIGINT,
       sum(CASE WHEN NOT (o_totalprice BETWEEN 0.0 AND 1e7) OR o_totalprice IS NULL THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'lineitem', 'not_null:l_orderkey',
       sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
       sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) = 0
FROM lineitem
UNION ALL
SELECT 'lineitem', 'range:l_discount',
       sum(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 0.1) OR l_discount IS NULL THEN 1 ELSE 0 END)::BIGINT,
       sum(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 0.1) OR l_discount IS NULL THEN 1 ELSE 0 END) = 0
FROM lineitem
UNION ALL
SELECT 'lineitem', 'fk:l_orderkey->o_orderkey', v::BIGINT, v = 0 FROM (
  SELECT count(*) AS v FROM lineitem l
  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
UNION ALL
SELECT 'events', 'not_null:user_id',
       sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)::BIGINT,
       sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) = 0
FROM events
UNION ALL
SELECT 'events', 'accepted_values:event_type',
       sum(CASE WHEN event_type NOT IN ('click','view','purchase','signup','error') THEN 1 ELSE 0 END)::BIGINT,
       sum(CASE WHEN event_type NOT IN ('click','view','purchase','signup','error') THEN 1 ELSE 0 END) = 0
FROM events
"""


def orders_profile(spark, sf_dir):
    """Ingestion-time column audit via `table_profile` — null count,
    exact cardinality, string-cast bounds per column, ONE scan for the
    whole suite.  The double column is pre-rounded so its text form is
    engine-stable."""
    from ..operators.profile import table_profile

    orders = _t(spark, sf_dir, "orders").withColumn(
        "o_totalprice", F.round(F.col("o_totalprice"), 2)
    )
    return table_profile(
        orders, ["o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice"]
    )


_PROFILE_SQL = """
SELECT 'o_orderkey' AS "column",
       sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
       count(DISTINCT o_orderkey)::BIGINT AS n_distinct,
       min(o_orderkey)::VARCHAR AS min_value, max(o_orderkey)::VARCHAR AS max_value
FROM orders
UNION ALL
SELECT 'o_orderstatus',
       sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)::BIGINT,
       count(DISTINCT o_orderstatus)::BIGINT,
       min(o_orderstatus), max(o_orderstatus)
FROM orders
UNION ALL
SELECT 'o_orderdate',
       sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)::BIGINT,
       count(DISTINCT o_orderdate)::BIGINT,
       min(o_orderdate)::VARCHAR, max(o_orderdate)::VARCHAR
FROM orders
UNION ALL
SELECT 'o_totalprice',
       sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)::BIGINT,
       count(DISTINCT round(o_totalprice, 2))::BIGINT,
       min(round(o_totalprice, 2))::VARCHAR, max(round(o_totalprice, 2))::VARCHAR
FROM orders
"""


def events_value_histogram(spark, sf_dir):
    """Fixed-width value histogram (drift-monitoring shape): bin counts
    plus within-bin means — one hash-agg shuffle."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("bin", F.floor(F.col("value") / 50.0).cast("long"))
        .groupBy("event_type", "bin")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


_HISTOGRAM_SQL = """
SELECT event_type, floor(value / 50.0)::BIGINT AS bin,
       count(*)::BIGINT AS n, round(avg(value), 4) AS avg_value
FROM events GROUP BY event_type, floor(value / 50.0)
"""


def orders_zorder_key(spark, sf_dir):
    """Morton (Z-order) layout keys over (customer, order-day) — the sort
    key that clusters two-dimensional range scans into few contiguous
    zones (Delta OPTIMIZE ZORDER / Iceberg sort-order shape).  Pure bit
    arithmetic; the oracle runs the identical generated expression."""
    from ..operators.profile import zorder_key

    orders = _t(spark, sf_dir, "orders").withColumn(
        "day_no", F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "day_no",
        zorder_key("o_custkey", "day_no", bits=16).alias("zkey"),
    )


def _zorder_oracle() -> str:
    from ..operators.profile import zorder_sql

    expr = zorder_sql("o_custkey", "day_no", bits=16)
    return f"""
WITH d AS (
  SELECT o_orderkey, o_custkey,
         date_diff('day', DATE '1992-01-01', o_orderdate::DATE)::BIGINT AS day_no
  FROM orders
)
SELECT o_orderkey, o_custkey, day_no, {expr} AS zkey FROM d
"""


def lineitem_salted_agg(spark, sf_dir):
    """The skew-safe two-phase salted aggregation run END-TO-END against
    the plain GROUP BY oracle: phase 1 aggregates on (key, salt) so one
    hot key spreads over n_salts reducers, phase 2 combines the partials
    — algebraic aggregates only, so the result is identical.  Sums are
    rounded because the salt split changes float addition order."""
    from ..operators.skew import salted_sum_count

    li = _t(spark, sf_dir, "lineitem")
    out = salted_sum_count(
        li, ["l_returnflag"], ["l_quantity", "l_extendedprice"], n_salts=16
    )
    return out.select(
        "l_returnflag",
        F.round("l_quantity_sum", 2).alias("qty_sum"),
        F.round("l_extendedprice_sum", 2).alias("price_sum"),
        "n_rows",
        F.round("l_quantity_avg", 6).alias("qty_avg"),
    )


_SALTED_AGG_SQL = """
SELECT l_returnflag,
       round(sum(l_quantity), 2) AS qty_sum,
       round(sum(l_extendedprice), 2) AS price_sum,
       count(*)::BIGINT AS n_rows,
       round(sum(l_quantity) / count(*), 6) AS qty_avg
FROM lineitem GROUP BY l_returnflag
"""


def docs_fixed_k_sample(spark, sf_dir):
    """Exactly-k deterministic sampling (the fixed-size complement of the
    rate-based `hash_sample`): rank rows by md5(salt|id) and keep the
    first 100 — same sample on any engine, any partitioning, any day.
    The global ranking is a top-k (WindowGroupLimit / ORDER+LIMIT), not a
    full sort-and-keep."""
    docs = _t(spark, sf_dir, "documents")
    ranked = docs.select(
        "doc_id",
        "lang",
        F.md5(F.concat_ws("|", F.lit("ksample"), F.col("doc_id").cast("string"))).alias(
            "__h"
        ),
    )
    return (
        ranked.orderBy("__h", "doc_id").limit(100).select("doc_id", "lang")
    )


_FIXED_K_SQL = """
SELECT doc_id, lang
FROM (SELECT doc_id, lang,
             md5('ksample' || '|' || doc_id::VARCHAR) AS h
      FROM documents
      ORDER BY h, doc_id
      LIMIT 100)
"""


def events_anomaly_flags(spark, sf_dir):
    """Z-score anomaly screen: each event's value scored against its
    type's mean/stddev (two-pass: one grouped agg broadcast back over the
    scan), flagging |z| > 2.  Rounding absorbs float summation order in
    the moments."""
    ev = _t(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("__mu"),
        F.stddev_samp("value").alias("__sd"),
    )
    z = (F.col("value") - F.col("__mu")) / F.col("__sd")
    return ev.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        F.round(z, 4).alias("z"),
        (F.abs(F.round(z, 4)) > 2.0).alias("is_anomaly"),
    )


_ANOMALY_SQL = """
WITH s AS (
  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
  FROM events GROUP BY event_type
)
SELECT event_id, e.event_type,
       round((value - mu) / sd, 4) AS z,
       abs(round((value - mu) / sd, 4)) > 2.0 AS is_anomaly
FROM events e JOIN s ON e.event_type = s.event_type
"""


QUERIES = {
    "sample_stratified": (sample_stratified, _SAMPLE_SQL),
    "docs_split": (docs_split, _SPLIT_SQL),
    "events_pivot": (events_pivot, _PIVOT_SQL),
    "lineitem_unpivot": (lineitem_unpivot, _UNPIVOT_SQL),
    "events_interval_join": (events_interval_join, _INTERVAL_SQL),
    "events_rolling_hour": (events_rolling_hour, _ROLLING_SQL),
    "events_value_percentiles": (events_value_percentiles, _PERCENTILES_SQL),
    "orders_price_deciles": (orders_price_deciles, _DECILES_SQL),
    "orders_price_deciles_scaled": (orders_price_deciles_scaled, _DECILES_SQL),
    "dedup_levenshtein": (dedup_levenshtein, _LEVENSHTEIN_SQL),
    "orders_upsert_merge": (orders_upsert_merge, _UPSERT_SQL),
    "events_debounce": (events_debounce, _DEBOUNCE_SQL),
    "events_hopping_window": (events_hopping_window, _HOPPING_SQL),
    "docs_domain_mix": (docs_domain_mix, _DOMAIN_MIX_SQL),
    "user_event_type_sets": (user_event_type_sets, _TYPE_SETS_SQL),
    "events_value_distribution": (events_value_distribution, _DISTRIBUTION_SQL),
    "user_modal_event": (user_modal_event, _MODAL_SQL),
    "dq_audit": (dq_audit, _DQ_SQL),
    "events_session_window": (events_session_window, _SESSION_WINDOW_SQL),
    "events_grouping_sets": (events_grouping_sets, _GROUPING_SETS_SQL),
    "orders_profile": (orders_profile, _PROFILE_SQL),
    "events_value_histogram": (events_value_histogram, _HISTOGRAM_SQL),
    "orders_zorder_key": (orders_zorder_key, _zorder_oracle()),
    "lineitem_salted_agg": (lineitem_salted_agg, _SALTED_AGG_SQL),
    "docs_fixed_k_sample": (docs_fixed_k_sample, _FIXED_K_SQL),
    "events_anomaly_flags": (events_anomaly_flags, _ANOMALY_SQL),
    "streaming_debounce": (streaming_debounce_q, _STREAMING_DEBOUNCE_SQL),
}
