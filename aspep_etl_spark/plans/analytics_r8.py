"""[EXT] Round-6 batch 4: HLL distinct sketch, record linkage, bucketed
join layout, and streaming dedup — each with a hash-exact DuckDB twin.

- ``events_hll_distinct`` — HyperLogLog distinct-count estimation per
  event type (Flajolet et al. 2007), reported against the exact
  distinct count.  Completes the mergeable-sketch family (CMS = counts,
  KMV = distincts at dim grain, AGMS = join sizes, Bloom = membership,
  quantile sketch = order statistics): unlike KMV's ``collect_set``
  state, the HLL register relation never exceeds m = 2^p rows per group
  at ANY cardinality, and the groupBy-max IS the merge, so the shuffle
  carries registers, not keys.  Every step is public md5/bit/integer
  arithmetic (ρ via binary digit COUNT, never float log2), so the
  registers AND the estimate are cross-engine reproducible; the one
  libm call (ln in the small-range correction) is absorbed by
  round(·, 4).
- ``customer_record_linkage`` — Fellegi–Sunter record linkage (1969):
  probabilistic entity resolution between two customer feeds.  The
  "dirty" second feed is derived deterministically (md5-hash-selected
  truncation / character-swap / prefix noise, cent-level balance
  jitter, segment dropout), then BLOCKING on (nationkey, 15-char name
  prefix) bounds candidate pairs — the no-all-pairs discipline every
  dedup operator here follows; records whose corruption touches the
  prefix (the '#'→'@' swap and the 'X'-prefix modes) fall outside
  their block — the classic blocking recall loss, REPORTED not hidden
  (true_match column).  Field agreement weights (levenshtein band on
  name, cent distance on balance, segment equality) are all multiples
  of 0.5, so the score sum is exact in both binary64 (Spark) and
  DECIMAL (DuckDB) — no literal-folding divergence by construction.
- ``layout_bucketed_join`` — bucketed-table co-located join: both join
  sides written with ``bucketBy(8, key).sortBy(key)``, so the join
  plans as a SortMergeJoin with ZERO Exchange and ZERO Sort (pinned in
  tests/test_physical_plans.py with broadcast disabled).  This is the
  data-layout half of the shuffle-avoidance story the zonemap /
  compaction / zorder entries started: at 100 TB the nightly
  orders⋈customer repeats daily, and pre-bucketing both fact tables
  amortizes the shuffle into the write path once.  Revenue totals are
  integer cents, so the aggregate is order-insensitive-exact.
- ``streaming_dedup`` — watermarked streaming deduplication
  (streaming/dedup.py): two unioned file-stream readers simulate
  at-least-once redelivery; ``withWatermark + dropDuplicates`` emits
  each event once with state bounded by one watermark window.  Oracle:
  the distinct event projection (single-file ⇒ single micro-batch
  promotion argument, as streaming_sessionize / streaming_stream_join).

Reference parity: all [EXT] — the reference (``process_aspep/``) is a
batch workbook pipeline with none of this tier.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.registry import fan_for_compute, load_table as _t


_LR_WORD_RE = "[a-z0-9]+"


def _lr_md5i(col):
    """The md5-prefix 32-bit integer both engines agree on."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


# --------------------------------------------------------------------------
# events_hll_distinct
# --------------------------------------------------------------------------

_HLL_P = 5  # m = 32 registers; 150 distinct users/type ⇒ raw-estimate path


def events_hll_distinct(spark, sf_dir):
    """Distinct users per event type: HLL(p=5) estimate vs exact count.
    m=32 is deliberately small so the raw-estimate branch (not just
    linear counting) fires on the testdata; the hand-value test
    exercises the linear-counting branch at tiny cardinality."""
    from ..operators.sketch import hll_build, hll_estimate

    ev = _t(spark, sf_dir, "events")
    reg = hll_build(ev, "user_id", ["event_type"], p=_HLL_P)
    est = hll_estimate(reg, ["event_type"], p=_HLL_P)
    exact = ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("exact_distinct"),
    )
    return est.join(exact, "event_type").select(
        "event_type", "n_events", "exact_distinct", "hll_est"
    )


def _hll_sql() -> str:
    from ..operators.sketch import hll_alpha_mm

    p = _HLL_P
    m = 1 << p
    rem = 32 - p
    return f"""
WITH h AS (
  SELECT event_type,
         CAST('0x' || substr(md5('hll|' || user_id::VARCHAR), 1, 8) AS BIGINT) AS hv
  FROM events
), rhos AS (
  SELECT event_type, hv >> {rem} AS bucket,
         CASE WHEN hv % {1 << rem} = 0 THEN {rem + 1}
              ELSE {rem + 1} - length(bin(hv % {1 << rem})) END AS rho
  FROM h
), reg AS (
  SELECT event_type, bucket, max(rho) AS r FROM rhos GROUP BY event_type, bucket
), agg AS (
  SELECT event_type,
         sum(power(2.0::DOUBLE, -r)) AS zp,
         count(*) AS present
  FROM reg GROUP BY event_type
), est AS (
  SELECT event_type,
         CASE WHEN ({hll_alpha_mm(p)!r}::DOUBLE / (zp + ({m} - present))) <= {2.5 * m!r}::DOUBLE
                   AND ({m} - present) > 0
              THEN round({float(m)!r}::DOUBLE * ln({float(m)!r}::DOUBLE / ({m} - present)), 4)
              ELSE round({hll_alpha_mm(p)!r}::DOUBLE / (zp + ({m} - present)), 4)
         END AS hll_est
  FROM agg
), exact AS (
  SELECT event_type, count(*)::BIGINT AS n_events,
         count(DISTINCT user_id)::BIGINT AS exact_distinct
  FROM events GROUP BY event_type
)
SELECT e.event_type, x.n_events, x.exact_distinct, e.hll_est
FROM est e JOIN exact x USING (event_type)
"""


# --------------------------------------------------------------------------
# events_hll_daily_rollup
# --------------------------------------------------------------------------


def events_hll_daily_rollup(spark, sf_dir):
    """Sketch REAGGREGATION — the property that justifies storing
    sketches instead of raw keys: daily HLL registers roll up to exact
    weekly registers by bucket-wise max, so the weekly distinct-user
    estimate needs NO second pass over the events.  At 100 TB this is
    the materialized-rollup pattern: persist ≤ m register rows per
    (day, dim) cell, answer any calendar-range distinct query by
    merging cells.  The naive alternative — summing daily estimates —
    overcounts returning users; both are emitted so the bias is
    visible next to the exact count."""
    from ..operators.sketch import hll_build, hll_estimate

    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts")).cast("date")
    )
    daily_reg = hll_build(ev, "user_id", ["day"], p=_HLL_P)
    week = F.date_trunc("week", F.col("day")).cast("date").alias("week")
    week_reg = daily_reg.select(week, "bucket", "r").groupBy("week", "bucket").agg(
        F.max("r").alias("r")
    )
    week_est = hll_estimate(week_reg, ["week"], p=_HLL_P).withColumnRenamed(
        "hll_est", "hll_est_week"
    )
    naive = (
        hll_estimate(daily_reg, ["day"], p=_HLL_P)
        .select(week, "hll_est")
        .groupBy("week")
        .agg(
            F.count("*").alias("n_days"),
            F.round(F.sum("hll_est"), 4).alias("sum_daily_est"),
        )
    )
    exact = (
        ev.select(F.date_trunc("week", F.col("ts")).cast("date").alias("week"), "user_id")
        .groupBy("week")
        .agg(F.count_distinct("user_id").alias("exact_distinct"))
    )
    return (
        week_est.join(naive, "week")
        .join(exact, "week")
        .select("week", "n_days", "exact_distinct", "hll_est_week", "sum_daily_est")
        # no ORDER BY: the range sampler would re-run all three aggs
        # (PERF.md "never orderBy a non-top-k contract output")
    )


def _hll_rollup_sql() -> str:
    from ..operators.sketch import hll_alpha_mm

    p = _HLL_P
    m = 1 << p
    rem = 32 - p
    est = (
        "CASE WHEN ({amm}::DOUBLE / (zp + ({m} - present))) <= {em}::DOUBLE"
        " AND ({m} - present) > 0"
        " THEN round({mf}::DOUBLE * ln({mf}::DOUBLE / ({m} - present)), 4)"
        " ELSE round({amm}::DOUBLE / (zp + ({m} - present)), 4) END"
    ).format(amm=repr(hll_alpha_mm(p)), m=m, em=repr(2.5 * m), mf=repr(float(m)))
    return f"""
WITH h AS (
  SELECT date_trunc('day', ts) AS day,
         CAST('0x' || substr(md5('hll|' || user_id::VARCHAR), 1, 8) AS BIGINT) AS hv
  FROM events
), rhos AS (
  SELECT day, hv >> {rem} AS bucket,
         CASE WHEN hv % {1 << rem} = 0 THEN {rem + 1}
              ELSE {rem + 1} - length(bin(hv % {1 << rem})) END AS rho
  FROM h
), daily_reg AS MATERIALIZED (
  SELECT day, bucket, max(rho) AS r FROM rhos GROUP BY day, bucket
), daily_est AS (
  SELECT day, {est.replace('zp', 'dzp').replace('present', 'dpresent')} AS hll_est
  FROM (SELECT day, sum(power(2.0::DOUBLE, -r)) AS dzp, count(*) AS dpresent
        FROM daily_reg GROUP BY day)
), week_reg AS (
  SELECT date_trunc('week', day) AS week, bucket, max(r) AS r
  FROM daily_reg GROUP BY week, bucket
), week_est AS (
  SELECT week, {est} AS hll_est_week
  FROM (SELECT week, sum(power(2.0::DOUBLE, -r)) AS zp, count(*) AS present
        FROM week_reg GROUP BY week)
), naive AS (
  SELECT date_trunc('week', day) AS week, count(*)::BIGINT AS n_days,
         round(sum(hll_est), 4) AS sum_daily_est
  FROM daily_est GROUP BY week
), exact AS (
  SELECT date_trunc('week', ts) AS week,
         count(DISTINCT user_id)::BIGINT AS exact_distinct
  FROM events GROUP BY week
)
SELECT w.week, n.n_days, x.exact_distinct, w.hll_est_week, n.sum_daily_est
FROM week_est w JOIN naive n USING (week) JOIN exact x USING (week)

"""


# --------------------------------------------------------------------------
# customer_record_linkage
# --------------------------------------------------------------------------


def _linkage_sides(spark, sf_dir):
    """The clean (a) and deterministically-dirtied (b) sides of the
    linkage corpus; shared by the production query and the candidate
    audit in tests/test_r8.py."""
    cust = _t(spark, sf_dir, "customer")
    hv = F.conv(
        F.substring(F.md5(F.concat(F.lit("rl|"), F.col("c_custkey").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    base = cust.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        "c_mktsegment",
        hv.alias("hv"),
    )
    b = base.select(
        F.col("c_custkey").alias("b_key"),
        F.when(F.col("hv") % 4 == 1, F.expr("substring(c_name, 1, length(c_name) - 1)"))
        .when(F.col("hv") % 4 == 2, F.replace(F.col("c_name"), F.lit("#"), F.lit("@")))
        .when(F.col("hv") % 4 == 3, F.concat(F.lit("X"), F.col("c_name")))
        .otherwise(F.col("c_name"))
        .alias("b_name"),
        F.col("c_nationkey").alias("b_nat"),
        (F.col("cents") + F.col("hv") % 7 - 3).alias("b_cents"),
        F.when(F.col("hv") % 5 == 0, F.lit("UNKNOWN"))
        .otherwise(F.col("c_mktsegment"))
        .alias("b_segment"),
    )
    a = base.select(
        F.col("c_custkey").alias("a_key"),
        F.col("c_name").alias("a_name"),
        F.col("c_nationkey").alias("a_nat"),
        F.col("cents").alias("a_cents"),
        F.col("c_mktsegment").alias("a_segment"),
    )
    return a, b


def _linkage_candidates(spark, sf_dir):
    """Candidate pairs as the union of two equi-join streams, both
    LOSSLESS w.r.t. the ≥ 6.0 score contract (proof in
    ``customer_record_linkage``): an exact-name stream (full-name hash
    join, levenshtein statically 0) and a near-name stream blocked on
    (nationkey, name-prefix, $1-balance-band ±1, SEGMENT) restricted to
    1 ≤ name_dist ≤ 2.  Returns the pre-score-filter candidate frame
    with a ``name_dist`` column — the relation the skew audit counts.

    Both sides get an explicit NUMBERED repartition before the joins
    (the candidates._fan discipline): the customer scan is byte-small even
    at sf1 (~4 input splits), and every probe row runs substring +
    levenshtein and fans out ×3 band offsets — AQE's byte-based
    coalescing funneled that compute through 2-4 tasks (r7 artifact:
    5.2 s / 8.63× at sf1; fenced: ~1.4 s / ~2.2×, measured r8).  The
    join strategy itself stays Catalyst's choice — broadcast at bench
    SFs, sort-merge when both sides are cluster-scale."""
    a, b = _linkage_sides(spark, sf_dir)
    par = spark.sparkContext.defaultParallelism
    a = a.repartition(par)
    bb = b.withColumn(
        "b_band", F.floor(F.col("b_cents") / 100.0).cast("long")
    ).repartition(par)

    # Stream E — name_dist = 0 ⟺ full-name equality: a plain hash join
    # on (name, nationkey).  No levenshtein, no band fan-out; under
    # duplicate-name skew (the sf1 tiled corpus: 10 copies of every
    # name) the quadratic tile mass concentrates HERE, where each pair
    # costs one hash probe — and those pairs are mostly emitted output
    # anyway, so the work is output-proportional by construction.
    exact = a.join(
        bb,
        (F.col("a_name") == F.col("b_name")) & (F.col("a_nat") == F.col("b_nat")),
    ).withColumn("name_dist", F.lit(0).cast("long"))

    # Stream N — 1 ≤ name_dist ≤ 2: blocked on the original
    # (nationkey, 15-char prefix, band ±1) key PLUS segment equality,
    # the second banding dimension the score REQUIRES agreement on for
    # any non-exact name (max score with a segment miss is
    # 2.5 + 3.0 − 0.5 = 5.0 < 6.0).  Segment never separates two tile
    # copies of the same row, but exact-name pairs no longer reach this
    # join at all — the name_dist ≥ 1 restriction keeps the streams
    # disjoint — so the quadratic tile mass is gone and segment's ~5×
    # cut applies to the remaining cross-name candidates.
    an = a.select(
        "*", F.substring("a_name", 1, 15).alias("blk")
    ).withColumn(
        "__off", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    ).withColumn(
        "band", F.floor(F.col("a_cents") / 100.0).cast("long") + F.col("__off")
    )
    near = (
        an.join(
            bb,
            (F.col("a_nat") == F.col("b_nat"))
            & (F.col("blk") == F.substring("b_name", 1, 15))
            & (F.col("band") == F.col("b_band"))
            & (F.col("a_segment") == F.col("b_segment")),
        )
        .withColumn("name_dist", F.levenshtein(F.col("a_name"), F.col("b_name")).cast("long"))
        .filter(F.col("name_dist").between(1, 2))
        .drop("blk", "__off", "band")
    )
    cols = [
        "a_key", "a_name", "a_nat", "a_cents", "a_segment",
        "b_key", "b_name", "b_nat", "b_cents", "b_segment", "name_dist",
    ]
    return exact.select(*cols).unionByName(near.select(*cols))


def customer_record_linkage(spark, sf_dir):
    """Blocked Fellegi–Sunter linkage of customer vs a deterministically
    dirtied copy of itself; emits pairs scoring ≥ 6.0 with per-field
    evidence and the ground-truth flag.

    The candidate plan is a LOSSLESS two-stream decomposition of the
    score threshold.  score ≥ 6.0 ⟺
      (name_dist = 0 ∧ cents_diff ≤ 10)            — 4.0+3.0−0.5 = 6.5
      ∨ (1 ≤ name_dist ≤ 2 ∧ cents_diff ≤ 10
         ∧ segment agreement)                       — 2.5+3.0+1.0 = 6.5
    because without the cents term the best case is 4.0−1.5+1.0 = 3.5,
    and a near-name with a segment miss tops out at 2.5+3.0−0.5 = 5.0.
    So stream E joins on FULL NAME (levenshtein statically 0, no band
    fan-out) and stream N keeps the original (nationkey, 15-char
    prefix, $1-band ±1) block key plus SEGMENT equality.  The original
    blocking contract is preserved exactly: name-equal pairs satisfy
    the prefix block trivially and cents_diff ≤ 10 forces the bands
    within ±1, so the emitted relation is bit-identical to the
    single-stream plan (oracle unchanged).

    Why two streams: the round-6 single-join plan was output-correct
    but superlinear on the sf1 tiled corpus (11.2× wall for 10× rows)
    — duplicate names put the quadratic tile mass through the
    levenshtein+band join.  Routing exact names through a bare hash
    join makes the heavy path output-proportional, and segment
    agreement cuts the residual cross-name candidates ~5×.
    tests/test_r8.py pins candidate growth vs tiling."""
    pairs = _linkage_candidates(spark, sf_dir)
    name_dist = F.col("name_dist")
    cents_diff = F.abs(F.col("a_cents") - F.col("b_cents"))
    score = (
        F.when(name_dist == 0, F.lit(4.0)).when(name_dist <= 2, F.lit(2.5)).otherwise(F.lit(-2.0))
        + F.when(cents_diff <= 10, F.lit(3.0)).otherwise(F.lit(-1.5))
        + F.when(F.col("a_segment") == F.col("b_segment"), F.lit(1.0)).otherwise(F.lit(-0.5))
    )
    return (
        pairs.select(
            "a_key",
            "b_key",
            name_dist.alias("name_dist"),
            cents_diff.alias("cents_diff"),
            F.round(score, 1).alias("score"),
            (F.col("a_key") == F.col("b_key")).alias("true_match"),
        )
        .filter(F.col("score") >= 6.0)
        # no ORDER BY: linkage emits a match SET (the checker compares
        # order-insensitively), and a global range sort would re-evaluate
        # the whole candidate+score upstream for its sampling pass —
        # measured 2× the query at sf1 (9.4 s → 4.4 s without it)
    )


_RL_SQL = """
WITH h AS (
  SELECT c_custkey, c_name, c_nationkey,
         CAST(floor(c_acctbal * 100) AS BIGINT) AS cents,
         c_mktsegment,
         CAST('0x' || substr(md5('rl|' || c_custkey::VARCHAR), 1, 8) AS BIGINT) AS hv
  FROM customer
), b AS (
  SELECT c_custkey AS b_key,
         CASE WHEN hv % 4 = 1 THEN substr(c_name, 1, length(c_name) - 1)
              WHEN hv % 4 = 2 THEN replace(c_name, '#', '@')
              WHEN hv % 4 = 3 THEN 'X' || c_name
              ELSE c_name END AS b_name,
         c_nationkey AS b_nat,
         cents + (hv % 7) - 3 AS b_cents,
         CASE WHEN hv % 5 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END AS b_segment
  FROM h
), a AS (
  SELECT c_custkey AS a_key, c_name AS a_name, c_nationkey AS a_nat,
         cents AS a_cents, c_mktsegment AS a_segment,
         substr(c_name, 1, 15) AS blk,
         CAST(floor(cents / 100.0) AS BIGINT) + unnest([-1, 0, 1]) AS band
  FROM h
), scored AS (
  SELECT a.a_key, b.b_key,
         levenshtein(a.a_name, b.b_name) AS name_dist,
         abs(a.a_cents - b.b_cents) AS cents_diff,
         (CASE WHEN levenshtein(a.a_name, b.b_name) = 0 THEN 4.0
               WHEN levenshtein(a.a_name, b.b_name) <= 2 THEN 2.5
               ELSE -2.0 END
          + CASE WHEN abs(a.a_cents - b.b_cents) <= 10 THEN 3.0 ELSE -1.5 END
          + CASE WHEN a.a_segment = b.b_segment THEN 1.0 ELSE -0.5 END) AS score
  FROM a JOIN b ON a.a_nat = b.b_nat AND a.blk = substr(b.b_name, 1, 15)
             AND a.band = CAST(floor(b.b_cents / 100.0) AS BIGINT)
)
SELECT a_key, b_key, name_dist::BIGINT AS name_dist,
       cents_diff::BIGINT AS cents_diff,
       round(score, 1)::DOUBLE AS score,
       (a_key = b_key) AS true_match
FROM scored WHERE score >= 6.0
"""


# --------------------------------------------------------------------------
# layout_bucketed_join
# --------------------------------------------------------------------------

_BUCKETED_CLEANUP_PATHS: set = set()


def _register_bucketed_cleanup(base: str) -> None:
    """atexit-remove the pid-keyed bucketed-table dir.  The dirs are
    pid-keyed so concurrent processes never collide, which also means a
    dead process's copies are pure debris — without this hook every
    bench/test run leaks two parquet copies of orders+customer under
    /tmp/aspep_bucketed (this host has hit disk-full at sf0.1 before)."""
    if base in _BUCKETED_CLEANUP_PATHS:
        return
    if not _BUCKETED_CLEANUP_PATHS:
        import atexit
        import os
        import shutil

        atexit.register(
            lambda: [
                shutil.rmtree(p, ignore_errors=True)
                for p in _BUCKETED_CLEANUP_PATHS
            ]
        )
        # sweep debris from crashed/killed prior runs: any sibling dir
        # whose trailing _<pid> no longer names a live process AND that
        # hasn't been touched for an hour — the age guard protects a
        # live sibling under pid reuse / separate pid namespaces
        # sharing /tmp (its bucketed catalog tables would fail mid-run
        # if rmtree'd)
        import time

        root = os.path.dirname(base)
        try:
            now = time.time()
            for d in os.listdir(root):
                pid_part = d.rsplit("_", 1)[-1]
                if not pid_part.isdigit():
                    continue
                path = os.path.join(root, d)
                try:
                    fresh = now - os.path.getmtime(path) < 3600
                except OSError:
                    fresh = False
                if fresh or os.path.exists(f"/proc/{pid_part}"):
                    continue
                shutil.rmtree(path, ignore_errors=True)
        except OSError:
            pass
    _BUCKETED_CLEANUP_PATHS.add(base)


def layout_bucketed_join(spark, sf_dir):
    """orders ⋈ customer revenue per market segment, read from
    bucketed+sorted tables so the join needs no shuffle and no sort.
    The bucketed copies are written once per (process, sf) under /tmp
    (8 buckets on the join key, the write-path shuffle that the nightly
    join then amortizes); subsequent calls in the same session reuse
    them via the catalog.  Revenue is exact integer cents."""
    import os
    import re

    tag = re.sub(r"\W+", "_", os.path.basename(os.path.normpath(sf_dir)))
    pid = os.getpid()
    base = f"/tmp/aspep_bucketed/{tag}_{pid}"
    _register_bucketed_cleanup(base)
    ot = f"aspep_bkt_orders_{tag}_{pid}"
    ct = f"aspep_bkt_customer_{tag}_{pid}"
    if not spark.catalog.tableExists(ot):
        (
            _t(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice")
            # one write task per bucket (same Murmur3 hash as bucketBy)
            # ⇒ exactly one file per bucket, the layout a compacted
            # production table would have
            .repartition(8, "o_custkey")
            .write.bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .option("path", f"{base}/orders")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(ot)
        )
    if not spark.catalog.tableExists(ct):
        (
            _t(spark, sf_dir, "customer")
            .select("c_custkey", "c_mktsegment")
            .repartition(8, "c_custkey")
            .write.bucketBy(8, "c_custkey")
            .sortBy("c_custkey")
            .option("path", f"{base}/customer")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(ct)
        )
    o, c = spark.table(ot), spark.table(ct)
    j = o.join(c, o["o_custkey"] == c["c_custkey"])
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "revenue_cents"
            ),
        )
        # no ORDER BY (5-row output; the range sampler would re-run
        # the whole bucketed join — 2× the very thing this query measures)
    )


_BUCKETED_SQL = """
SELECT c.c_mktsegment,
       count(*)::BIGINT AS n_orders,
       sum(CAST(floor(o.o_totalprice * 100) AS BIGINT))::BIGINT AS revenue_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


# --------------------------------------------------------------------------
# docs_logreg_train
# --------------------------------------------------------------------------

_LR_BUCKETS = 256
_LR_ROUNDS = 3
_LR_STEP_DIV = 32  # delta6 = floor(g / (STEP_DIV·n)) — tuned so the
# gradient L1 mass DESCENDS round-over-round on the testdata (÷2
# diverges 10×/round, ÷32 contracts to 0.73×; swept on the twin)


def docs_logreg_train(spark, sf_dir):
    """Distributed full-batch logistic-regression TRAINING over hashed
    unigram count features — the train-side complement of the
    inference-only ``docs_classifier_score`` gate (and of
    ``docs_nb_classify``'s closed-form NB): three gradient-descent
    rounds where the GRADIENT IS A RELATION of ≤ 256 (bucket, g) rows
    and partial aggregation is the all-reduce.  At 100 TB each round is
    one corpus-grain keyed agg (margins) + one bucket-grain agg
    (gradient); the model stays a broadcast relation — the parameter-
    server shape with the shuffle machinery doing the synchronization.

    Cross-engine exactness by INTEGER QUANTIZATION, the
    ``events_bootstrap_ci`` discipline: weights live as 1e6-scaled
    BIGINTs, so per-doc margins Σ cnt·w6 are exact integer sums (no
    float-order sensitivity); the sigmoid (one libm exp per round) is
    immediately re-quantized to a BIGINT p6; residuals p6 − y·1e6 and
    the gradient Σ r·cnt stay BIGINT; the update −g/(32n) re-enters
    integer weights via an exact-double floor (|g| < 2^42 ≪ 2^53); the
    per-doc log-loss is quantized to BIGINT micro-nats before the
    (therefore order-insensitive) sum.  Labels: the even/odd source-id
    ground truth shared with ``docs_classifier_auc`` /
    ``classifier_brier_score``.  Emits one audit row per round:
    gradient L1 mass, mean log-loss, training accuracy.

    Round-1 margins are identically zero (w₀ = 0 ⇒ p6 = 500000
    exactly — exp(0) is exact, loss = ln 2), so the first gradient is
    engine-trivially equal and every later quantity inducts on exact
    integers.  The parity label is near-noise for hashed unigrams, so
    accuracy hovers at chance; the audit of a working optimizer here is
    the MONOTONE gradient/loss descent, which the twin reproduces
    bit-for-bit."""
    # The regex+explode+md5 bucketing below materializes in docbkt's
    # persist job, fused onto the docs scan — ONE effective task on a
    # compact single-row-group file (the r12 single-row-group finding;
    # the three GD rounds then rescan the parallel persisted frame, so
    # the serial scan was the whole training wall's floor).  Read through
    # the adaptive fan (no-op at sf0.1/at-scale); all downstream sums
    # are integer-exact and order-insensitive by design.
    docs = fan_for_compute(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        (F.substring("source", 4, 10).cast("int") % 2 == 0).cast("long").alias("y"),
        "text",
    )
    tok = docs.select(
        "doc_id",
        "y",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit(_LR_WORD_RE), 0)
        ).alias("w"),
    )
    docbkt = (
        tok.select(
            "doc_id",
            "y",
            (_lr_md5i(F.concat(F.lit("lr|"), F.col("w"))) % _LR_BUCKETS).alias("b"),
        )
        .groupBy("doc_id", "y", "b")
        .agg(F.count("*").alias("cnt"))
        .persist()
    )
    nrel = docbkt.select("doc_id").distinct().agg(F.count("*").alias("n"))
    p = docbkt.select("doc_id", "y").distinct().withColumn(
        "p6", F.lit(500000).cast("long")
    )
    w = None
    rows = []
    for t in range(1, _LR_ROUNDS + 1):
        # gradient from the PREVIOUS round's probabilities
        resid = p.select("doc_id", (F.col("p6") - F.col("y") * 1000000).alias("r"))
        grad = (
            docbkt.join(resid, "doc_id")
            .groupBy("b")
            .agg(F.sum(F.col("r") * F.col("cnt")).alias("g"))
        )
        delta = grad.crossJoin(F.broadcast(nrel)).select(
            "b",
            F.floor(F.col("g").cast("double") / (float(_LR_STEP_DIV) * F.col("n")))
            .cast("long")
            .alias("d"),
        )
        if w is None:
            w = delta.select("b", (-F.col("d")).alias("w6"))
        else:
            # grad covers exactly the buckets present in the corpus, the
            # same set every round — inner join is total
            w = w.join(delta, "b").select("b", (F.col("w6") - F.col("d")).alias("w6"))
        gl1 = grad.agg(F.sum(F.abs(F.col("g"))).alias("grad_l1"))
        m = (
            docbkt.join(F.broadcast(w), "b")
            .groupBy("doc_id", "y")
            .agg(F.sum(F.col("cnt") * F.col("w6")).alias("m6"))
        )
        p = m.select(
            "doc_id",
            "y",
            F.round(
                F.lit(1000000.0)
                / (F.lit(1.0) + F.exp(-(F.col("m6") / F.lit(1000000.0)))),
                0,
            )
            .cast("long")
            .alias("p6"),
        )
        # per-doc loss in integer micro-nats (clamped off the saturated
        # endpoints) — the quantize-before-sum that keeps the mean
        # order-insensitive-exact
        p6c = F.greatest(F.lit(1), F.least(F.lit(999999), F.col("p6")))
        l6 = F.round(
            -F.log(
                F.when(F.col("y") == 1, p6c).otherwise(1000000 - p6c) / F.lit(1000000.0)
            )
            * 1000000.0,
            0,
        ).cast("long")
        ev = p.select(
            l6.alias("l6"),
            (((F.col("p6") >= 500000) == (F.col("y") == 1)).cast("long")).alias("c"),
        ).agg(
            F.count("*").alias("n_docs"),
            F.sum("c").alias("n_correct"),
            F.sum("l6").alias("loss_sum6"),
        )
        rows.append(
            ev.crossJoin(F.broadcast(gl1)).select(
                F.lit(t).cast("long").alias("round"),
                "n_docs",
                "n_correct",
                F.round(F.col("n_correct").cast("double") / F.col("n_docs"), 4).alias(
                    "accuracy"
                ),
                F.round(
                    F.col("loss_sum6").cast("double")
                    / (F.col("n_docs") * F.lit(1000000.0)),
                    4,
                ).alias("log_loss"),
                "grad_l1",
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out  # per-round literal frames; no cosmetic sort (PERF.md rule)


def _lr_sql() -> str:
    """Unrolled-round DuckDB twin (the LPA/pagerank recipe: the round
    template itself is MATERIALIZED so DuckDB's CTE inlining cannot
    re-evaluate upstream rounds multiplicatively)."""
    rounds = []
    for t in range(1, _LR_ROUNDS + 1):
        prev_p = (
            "(SELECT doc_id, y, 500000::BIGINT AS p6 FROM docs0)"
            if t == 1
            else f"p{t - 1}"
        )
        prev_w = "" if t == 1 else f"w{t - 1}.w6 - "
        w_from = (
            f"FROM g{t}, nn"
            if t == 1
            else f"FROM w{t - 1} JOIN g{t} ON w{t - 1}.b = g{t}.b, nn"
        )
        b_ref = f"g{t}.b" if t == 1 else f"w{t - 1}.b"
        rounds.append(f"""g{t} AS MATERIALIZED (
  SELECT d.b, sum((p.p6 - d.y * 1000000) * d.cnt)::BIGINT AS g
  FROM docbkt d JOIN {prev_p} p USING (doc_id) GROUP BY d.b
), w{t} AS MATERIALIZED (
  SELECT {b_ref} AS b,
         ({prev_w}0 - CAST(floor(g{t}.g::DOUBLE / ({_LR_STEP_DIV} * n)) AS BIGINT)) AS w6
  {w_from}
), m{t} AS (
  SELECT doc_id, any_value(y) AS y, sum(cnt * w6)::BIGINT AS m6
  FROM docbkt JOIN w{t} USING (b) GROUP BY doc_id
), p{t} AS MATERIALIZED (
  SELECT doc_id, y,
         CAST(round(1000000.0::DOUBLE / (1 + exp(-(m6 / 1000000.0::DOUBLE)))) AS BIGINT) AS p6
  FROM m{t}
), ev{t} AS (
  SELECT count(*)::BIGINT AS n_docs,
         sum(((p6 >= 500000) = (y = 1))::INT)::BIGINT AS n_correct,
         sum(CAST(round(-ln((CASE WHEN y = 1 THEN greatest(1, least(999999, p6))
                                  ELSE 1000000 - greatest(1, least(999999, p6)) END)
                            / 1000000.0::DOUBLE) * 1000000.0) AS BIGINT))::BIGINT
           AS loss_sum6
  FROM p{t}
)""")
    selects = [
        f"""SELECT {t}::BIGINT AS round, n_docs, n_correct,
       round(n_correct::DOUBLE / n_docs, 4) AS accuracy,
       round(loss_sum6::DOUBLE / (n_docs * 1000000.0), 4) AS log_loss,
       (SELECT sum(abs(g))::BIGINT FROM g{t}) AS grad_l1
FROM ev{t}"""
        for t in range(1, _LR_ROUNDS + 1)
    ]
    return f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id,
         (CAST(substr(source, 4, 10) AS INT) % 2 = 0)::INT::BIGINT AS y,
         CAST('0x' || substr(md5('lr|' ||
           unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))), 1, 8)
           AS BIGINT) % {_LR_BUCKETS} AS b
  FROM documents
), docbkt AS MATERIALIZED (
  SELECT doc_id, y, b, count(*)::BIGINT AS cnt FROM tok GROUP BY doc_id, y, b
), docs0 AS MATERIALIZED (
  SELECT DISTINCT doc_id, y FROM docbkt
), nn AS (
  SELECT count(*)::BIGINT AS n FROM docs0
), {", ".join(rounds)}
{" UNION ALL ".join(selects)}

"""


_LR_SQL = _lr_sql()


# --------------------------------------------------------------------------
# streaming_dedup
# --------------------------------------------------------------------------


def streaming_dedup(spark, sf_dir):
    """Watermarked streaming dedup over a doubled (simulated-redelivery)
    events stream — each event emitted exactly once; see
    streaming/dedup.py for the state-expiry story and the single-batch
    oracle-promotion argument."""
    from ..streaming.dedup import run_streaming_dedup

    return run_streaming_dedup(spark, f"{sf_dir}/events.parquet")


_STREAM_DEDUP_SQL = """
SELECT event_id, user_id, event_type,
       epoch_us(ts)::BIGINT AS ts_us, value
FROM events
"""


QUERIES = {
    "events_hll_distinct": (events_hll_distinct, _hll_sql()),
    "events_hll_daily_rollup": (events_hll_daily_rollup, _hll_rollup_sql()),
    "customer_record_linkage": (customer_record_linkage, _RL_SQL),
    "layout_bucketed_join": (layout_bucketed_join, _BUCKETED_SQL),
    "docs_logreg_train": (docs_logreg_train, _LR_SQL),
    "streaming_dedup": (streaming_dedup, _STREAM_DEDUP_SQL),
}
