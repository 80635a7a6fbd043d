"""[EXT] Round-7 additions: incremental maintenance of a JOIN view.

``mv_join_incremental`` completes the incremental-maintenance family
(``events_mv_incremental`` = additive agg merge, ``components_incremental``
= contracted-graph merge, ``dedup_incremental`` = delta-vs-postings,
``streaming_mv_maintenance`` = the same algebra under foreachBatch) with
the one algebra those don't cover: a view defined over a JOIN whose BOTH
inputs receive deltas.  Join is bilinear over disjoint union —

    (O ∪ ΔO) ⋈ (C ∪ ΔC) = O⋈C ∪ ΔO⋈C ∪ O⋈ΔC ∪ ΔO⋈ΔC

— so the refresh aggregates only the three delta terms and merges them
into the stored base MV with the standard full-outer coalesce-sum
(count/sum are additive; integer cents keep the merge associativity-
exact).  This is the classic incremental view maintenance result
(Blakeley et al. 1986; the delta-query formulation in DBSP/differential
dataflow), expressed as plain Spark joins + ONE partial+final hash agg
over the union of delta terms.

100 TB posture: the base MV is a STORED relation (here rebuilt inline as
the one-time backfill); a refresh touches ΔO⋈C (delta-sized probe of the
broadcast/bucketed dim), O⋈ΔC (pruned probe of the fact on the changed
dim keys — a partition/bucket-pruned scan when the fact is laid out on
the join key, cf. ``layout_bucketed_join``), the tiny ΔO⋈ΔC, and a merge
at MV grain.  Never a re-join of history with history.

Reference parity: all [EXT] — the reference (``process_aspep/``) is a
batch workbook pipeline with no incremental surface.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.registry import load_table as _t


#: delta selectors: ~1/13 of orders and ~1/17 of customers form the delta
#: batches — both sides change, so all three delta terms are non-empty.
_MVJ_O_MOD = 13
_MVJ_C_MOD = 17


def mv_join_incremental(spark, sf_dir):
    """Incrementally-maintained (segment, month) revenue view over
    orders ⋈ customer with deltas on BOTH sides; see module docstring.
    The ORACLE is the full recompute — equality proves the bilinear
    delta algebra end-to-end (the ``events_mv_incremental`` argument,
    extended to joins)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o_old = o.filter(F.col("o_orderkey") % _MVJ_O_MOD != 0)
    o_new = o.filter(F.col("o_orderkey") % _MVJ_O_MOD == 0)
    c_old = c.filter(F.col("c_custkey") % _MVJ_C_MOD != 0)
    c_new = c.filter(F.col("c_custkey") % _MVJ_C_MOD == 0)

    def _agg(df):
        return df.groupBy("c_mktsegment", "month").agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )

    join = lambda fact, dim: fact.join(  # noqa: E731
        F.broadcast(dim), fact.o_custkey == dim.c_custkey
    )
    # base MV — in production a stored relation; built once here
    base = _agg(join(o_old, c_old))
    # refresh: the three delta terms ride ONE union → ONE hash agg
    delta = _agg(
        join(o_new, c_old)
        .unionByName(join(o_old, c_new))
        .unionByName(join(o_new, c_new))
    )
    merged = (
        base.withColumnRenamed("n_orders", "bn")
        .withColumnRenamed("revenue_cents", "bs")
        .join(
            delta.withColumnRenamed("n_orders", "dn").withColumnRenamed(
                "revenue_cents", "ds"
            ),
            ["c_mktsegment", "month"],
            "full_outer",
        )
    )
    return merged.select(
        "c_mktsegment",
        F.col("month").cast("string").alias("month"),
        (F.coalesce(F.col("bn"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0)))
        .cast("long")
        .alias("n_orders"),
        (F.coalesce(F.col("bs"), F.lit(0)) + F.coalesce(F.col("ds"), F.lit(0)))
        .cast("long")
        .alias("revenue_cents"),
    )


_MVJ_SQL = """
SELECT c.c_mktsegment,
       date_trunc('month', o.o_orderdate)::DATE::VARCHAR AS month,
       count(*)::BIGINT AS n_orders,
       sum(round(o.o_totalprice * 100)::BIGINT)::BIGINT AS revenue_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1, 2
"""


#: deletion selector for the retraction query: ~1/19 of orders cancel.
_MVJ_DEL_MOD = 19


def mv_join_retraction(spark, sf_dir):
    """DELETIONS without recompute — the signed-weight (Z-set) half of
    incremental view maintenance: a cancellation batch enters the same
    merge pipeline as insertions, just with weight −1 (count → −count,
    sum → −sum), and groups whose support reaches zero drop out.  With
    ``mv_join_incremental`` (insert deltas on both join sides) this
    covers the full insert/delete algebra of Blakeley-style view
    maintenance; updates are a retraction + insertion pair.  The ORACLE
    recomputes the view over the post-delete state, so equality proves
    the retraction algebra INCLUDING the zero-support drop rule.

    100 TB posture: identical to the insert path — the retraction batch
    is delta-sized, joins the broadcast dim once, merges at MV grain;
    history is never re-joined.  Integer cents make +/− merges exact;
    n_orders > 0 is an exact integer predicate (a fully-cancelled group
    leaves exact zeros, never float residue)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cancelled = o.filter(F.col("o_orderkey") % _MVJ_DEL_MOD == 0)

    # base MV over the FULL history — the stored relation
    base = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "month")
        .agg(
            F.count("*").cast("long").alias("bn"),
            F.sum("cents").cast("long").alias("bs"),
        )
    )
    # retraction batch: same agg, weight −1
    retract = (
        cancelled.join(F.broadcast(c), cancelled.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "month")
        .agg(
            (-F.count("*")).cast("long").alias("dn"),
            (-F.sum("cents")).cast("long").alias("ds"),
        )
    )
    merged = base.join(retract, ["c_mktsegment", "month"], "full_outer").select(
        "c_mktsegment",
        F.col("month").cast("string").alias("month"),
        (F.coalesce(F.col("bn"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0)))
        .cast("long")
        .alias("n_orders"),
        (F.coalesce(F.col("bs"), F.lit(0)) + F.coalesce(F.col("ds"), F.lit(0)))
        .cast("long")
        .alias("revenue_cents"),
    )
    return merged.filter(F.col("n_orders") > 0)


_MVJ_RETRACT_SQL = """
SELECT c.c_mktsegment,
       date_trunc('month', o.o_orderdate)::DATE::VARCHAR AS month,
       count(*)::BIGINT AS n_orders,
       sum(round(o.o_totalprice * 100)::BIGINT)::BIGINT AS revenue_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderkey % 19 <> 0
GROUP BY 1, 2
"""


#: dim-update selector: ~1/23 of customers change segment (SCD-1 update).
_MVJ_UPD_MOD = 23


def mv_join_dim_update(spark, sf_dir):
    """DIM UPDATES — the hard case for join-view maintenance: a changed
    dimension row invalidates every fact row joined to it.  The refresh
    joins the fact ONCE on the changed dim keys (at 100 TB a
    bucket/partition-pruned probe, cf. ``layout_bucketed_join``) and
    emits a retract/insert PAIR per fact row — weight −1 under the old
    segment, +1 under the new — through the same coalesce-sum merge;
    zero-support groups drop.  With ``mv_join_incremental`` (inserts on
    both sides) and ``mv_join_retraction`` (deletes) this closes the
    insert/delete/update triangle of Blakeley-style maintenance.  The
    ORACLE recomputes the view over the post-update dim state, so
    equality proves that the +/− pair algebra moves every affected
    order between groups exactly once."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    c_upd = c.filter(F.col("c_custkey") % _MVJ_UPD_MOD == 0).select(
        "c_custkey",
        F.col("c_mktsegment").alias("old_seg"),
        F.concat(F.col("c_mktsegment"), F.lit("_V2")).alias("new_seg"),
    )

    # base MV over the pre-update state — the stored relation
    base = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "month")
        .agg(
            F.count("*").cast("long").alias("bn"),
            F.sum("cents").cast("long").alias("bs"),
        )
    )
    # one pruned fact probe on the changed keys; each matched order emits
    # a (−1 old_seg, +1 new_seg) pair via a 2-element literal array —
    # cheap scalars, safe under the explode-reevaluation rule
    pairs = (
        o.join(F.broadcast(c_upd), o.o_custkey == c_upd.c_custkey)
        .select(
            "month",
            "cents",
            F.explode(
                F.array(
                    F.struct(F.col("old_seg").alias("seg"), F.lit(-1).alias("w")),
                    F.struct(F.col("new_seg").alias("seg"), F.lit(1).alias("w")),
                )
            ).alias("d"),
        )
        .select(F.col("d.seg").alias("c_mktsegment"), "month", "d.w", "cents")
    )
    delta = pairs.groupBy("c_mktsegment", "month").agg(
        F.sum("w").cast("long").alias("dn"),
        F.sum(F.col("w") * F.col("cents")).cast("long").alias("ds"),
    )
    merged = base.join(delta, ["c_mktsegment", "month"], "full_outer").select(
        "c_mktsegment",
        F.col("month").cast("string").alias("month"),
        (F.coalesce(F.col("bn"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0)))
        .cast("long")
        .alias("n_orders"),
        (F.coalesce(F.col("bs"), F.lit(0)) + F.coalesce(F.col("ds"), F.lit(0)))
        .cast("long")
        .alias("revenue_cents"),
    )
    return merged.filter(F.col("n_orders") > 0)


_MVJ_UPDATE_SQL = """
SELECT CASE WHEN c.c_custkey % 23 = 0 THEN c.c_mktsegment || '_V2'
            ELSE c.c_mktsegment END AS c_mktsegment,
       date_trunc('month', o.o_orderdate)::DATE::VARCHAR AS month,
       count(*)::BIGINT AS n_orders,
       sum(round(o.o_totalprice * 100)::BIGINT)::BIGINT AS revenue_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1, 2
"""


QUERIES = {
    "mv_join_incremental": (mv_join_incremental, _MVJ_SQL),
    "mv_join_retraction": (mv_join_retraction, _MVJ_RETRACT_SQL),
    "mv_join_dim_update": (mv_join_dim_update, _MVJ_UPDATE_SQL),
}
