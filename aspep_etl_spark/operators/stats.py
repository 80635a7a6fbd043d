"""Grouped cohort statistics + union-back (SURVEY.md §2.4, A1-A3).

``grouped_stats`` runs ONE aggregation pass computing every requested
statistic for every measure — a single shuffle on the grouping keys with
map-side partial aggregation (Catalyst's partial+final hash agg).  The
reference runs two separate pandas groupbys (assets.py:366-367); fusing them
halves the shuffle volume, which matters when the fact table is 100 TB.
``append_cohort_stats`` turns that one aggregate into one labelled row per
stat through a single explode, so the plan computes it once: union branches
that each read different columns of one aggregate would each get their own
copy of it after column pruning.

Median is exact (`F.median`, Spark ≥3.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .setops import union_by_name

#: percentile_approx accuracy (max rank error = 1/accuracy) for the
#: sketch-median queries; 10⁴ keeps grouped medians well inside the
#: reference's rel 1e-3 golden budget while staying sketch-sized.
APPROX_MEDIAN_ACCURACY = 10_000

def _mean_ordered(c):
    """Mean as a left fold over the VALUE-SORTED group — bitwise
    run-reproducible (and cross-engine reproducible) regardless of
    partitioning, unlike ``F.avg`` whose float sum order is
    partition-dependent.  Only for bounded-grain cohorts (the ASPEP stats
    stage groups an already-aggregated fact: ≤ #states rows per group at
    ANY raw-data scale) — ``collect_list`` on an unbounded group would
    buffer it; use plain ``"mean"`` there."""
    vals = F.sort_array(F.collect_list(c))
    total = F.aggregate(vals, F.lit(0.0), lambda a, x: a + x)
    n = F.count(c)
    return F.when(n > 0, total / n)


_STAT_FNS = {
    "median": F.median,
    "mean": F.avg,
    "mean_ordered": _mean_ordered,
}


def grouped_stats(
    df: DataFrame,
    group_keys: list[str],
    stat_cols: list[str],
    stats: tuple[str, ...] = ("median", "mean"),
) -> DataFrame:
    """ONE aggregation computing every (stat, column) pair — a single
    shuffle with map-side partial agg; output columns are ``__{stat}__{col}``.
    """
    agg_exprs = [
        _STAT_FNS[s](F.col(c)).alias(f"__{s}__{c}")
        for c in stat_cols
        for s in stats
    ]
    return df.groupBy(*group_keys).agg(*agg_exprs)


def append_cohort_stats(
    fact: DataFrame,
    group_keys: list[str],
    stat_cols: list[str],
    exclude_filter=None,
    stat_labels: dict[str, str] | None = None,
    label_col: str = "state_code",
    scope_col: str | None = "state_scope",
    scope_value: str = "stats",
) -> DataFrame:
    """derive_stats' A1-A3 composite: grouped median+mean over the non-rollup
    rows, stamped with pseudo-key labels, unioned back into the fact table
    by name with missing columns null (reference assets.py:359-376).

    One ``grouped_stats`` aggregate emits every labelled row through one
    ``inline`` (the explode of an array holding one struct per stat), so
    the fact is aggregated once.
    """
    stat_labels = stat_labels or {"median": "US-median", "mean": "US-mean"}
    base = fact.filter(exclude_filter) if exclude_filter is not None else fact
    fused = grouped_stats(base, group_keys, stat_cols, tuple(stat_labels))
    rows = F.array(
        *[
            F.struct(
                F.lit(label).alias(label_col),
                *[F.col(f"__{s}__{c}").alias(c) for c in stat_cols],
            )
            for s, label in stat_labels.items()
        ]
    )
    stat_df = fused.select(*group_keys, F.inline(rows))
    if scope_col is not None:
        stat_df = stat_df.withColumn(scope_col, F.lit(scope_value))
    return union_by_name([fact, stat_df])


def sketch_median_rank_audit(
    spark,
    sf_dir: str,
    keys: tuple[str, ...] = ("l_returnflag", "l_linestatus"),
    cols: tuple[str, ...] = ("l_quantity", "l_extendedprice"),
    min_group: int = 100,
) -> dict:
    """Strong rank audit of the BENCHED sketch-median plan
    (``a1_grouped_median_sketch``), runnable from any sweep.

    The headline slot's DuckDB oracle only checks an in-[min,max] flag (the
    sketch value is engine-specific so it cannot be emitted raw) — a much
    weaker invariant than the rank-count audit its registry twin
    ``a1_grouped_median_approx`` carries.  This audit closes the gap
    mechanically: it recomputes the SAME single-pass
    ``percentile_approx(…, 0.5, APPROX_MEDIAN_ACCURACY)`` aggregate the
    bench slot runs, then rank-audits each group's percentile element
    against the raw rows — the element's occupied rank interval
    ``(lt, le]`` must intersect the slackened window ``n*(0.5 ± 0.01)``
    and the element must be genuine data (``le > lt``).  Any sketch
    regression (wrong rank, interpolated non-element) trips this audit
    even though the headline oracle would still hash-green.

    Returns ``{"ok", "groups_checked", "violations"}`` — callers decide
    whether to raise (pytest) or fail a sweep (check_correctness).
    """
    import math

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    acc = F.lit(APPROX_MEDIAN_ACCURACY)
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs.append(F.percentile_approx(c, F.lit(0.5), acc).alias(f"apx_{c}"))
    sk = li.groupBy(*keys).agg(*aggs)

    rank_aggs = [F.first("n_rows").alias("n_rows")]
    for c in cols:
        rank_aggs += [
            F.sum((F.col(c) < F.col(f"apx_{c}")).cast("long")).alias(f"lt_{c}"),
            F.sum((F.col(c) <= F.col(f"apx_{c}")).cast("long")).alias(f"le_{c}"),
        ]
    audited = li.join(F.broadcast(sk), list(keys)).groupBy(*keys).agg(*rank_aggs)

    checked = 0
    violations: list[str] = []
    for r in audited.collect():
        n = r["n_rows"]
        if n < min_group:  # tiny groups: the ±1% window rounds to nothing
            continue
        lo = math.ceil(n * 0.49)
        hi = math.floor(n * 0.51)
        group = {k: r[k] for k in keys}
        for c in cols:
            lt, le = r[f"lt_{c}"], r[f"le_{c}"]
            checked += 1
            if le <= lt:
                violations.append(f"{c}: non-element for {group}")
            elif not (le >= lo and lt < hi):
                violations.append(
                    f"{c}: rank interval ({lt}, {le}] misses [{lo}, {hi}) "
                    f"for n={n} in {group}"
                )
    if checked == 0:
        violations.append("audit skipped every group — input too small")
    return {"ok": not violations, "groups_checked": checked, "violations": violations}
