"""Driver-side cost of building the ASPEP plans, in py4j round trips.

At the job's size (hundreds of rows) the driver's calls into the JVM set
the time, not Spark: each ``F.*`` call costs about three round trips, so
the per-column fan-outs (the ~300-column significance filter, the cohort
stats, the recode maps) are built as one SQL expression each, quoted by
``functions.scalar.sql_quote``.  These tests pin the budget and the
quoting against the Column API.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aspep_etl_spark import schema
from aspep_etl_spark.functions.scalar import max_abs_numeric, sql_quote
from aspep_etl_spark.operators.recode import recode_values
from aspep_etl_spark.operators.stats import append_cohort_stats, grouped_stats
from aspep_etl_spark.plans.pipeline import (
    derive_extended_stats,
    derive_stats,
    normalize_fact,
)

from .aspep_fixture import make_combined_fact

#: Round trips to build normalize_fact → derive_stats → derive_extended_stats
#: on the fixture (pyspark 4.1.2, frees by garbage collection included):
#: 1,000-1,200 measured.  Building the fan-outs with one ``F.*`` chain per
#: column takes 7,500-8,700, and a significance filter built alone as
#: ``F.greatest(*[F.abs(F.col(c)) …])`` adds ~2,900.
ROUND_TRIP_BUDGET = 2_000


def _build(raw):
    return derive_extended_stats(derive_stats(normalize_fact(raw)))


def test_aspep_plan_build_round_trip_budget(spark, py4j_round_trips):
    raw = spark.createDataFrame(
        make_combined_fact()[[f.name for f in schema.aspep_raw_schema()]],
        schema.aspep_raw_schema(),
    )
    _build(raw)  # first build pays one-off class lookups
    py4j_round_trips.reset()
    _build(raw)
    assert py4j_round_trips.n <= ROUND_TRIP_BUDGET, py4j_round_trips.n


#: identifiers the quoting must keep whole: a backtick, a space, a dot
ODD_NAMES = ["x`y", "c d", "a.b"]
#: the same names quoted by hand, for the Column-API references
ODD_REFS = ["`x``y`", "`c d`", "`a.b`"]
#: string literals the quoting must keep whole
ODD_STRINGS = ["it's", "back\\slash", "\\'", "é✓ü", "%_\\%", "two\nlines"]


@pytest.fixture(scope="module")
def odd(spark):
    rows = [(1, 1.0, -3.0, 0.5), (1, None, 2.0, -7.0), (2, -5.0, None, None), (2, None, None, 4.0)]
    return spark.createDataFrame(rows, ["k", *ODD_NAMES])


def test_sql_quote_string_literals_round_trip(spark):
    exprs = [F.expr(sql_quote(s)) for s in ODD_STRINGS]
    assert list(spark.range(1).select(*exprs).first()) == ODD_STRINGS


def test_sql_quote_identifiers_name_one_column(odd):
    got = odd.select(*[F.expr(sql_quote(c, ident=True)) for c in ODD_NAMES]).collect()
    assert got == odd.select(*map(F.col, ODD_REFS)).collect()


def test_max_abs_numeric_matches_column_api(odd):
    want = odd.select(F.greatest(*[F.abs(F.col(r)) for r in ODD_REFS])).collect()
    assert odd.select(max_abs_numeric(ODD_NAMES)).collect() == want
    one = odd.select(max_abs_numeric(["a.b"])).collect()
    assert one == odd.select(F.abs(F.col("`a.b`"))).collect()


def test_recode_values_matches_column_api(spark):
    values = ODD_STRINGS + ["unmapped", None]
    df = spark.createDataFrame([(v,) for v in values], "v string")
    mapping = {s: s[::-1] + "'" for s in ODD_STRINGS[:-1]}
    lits = [F.lit(x) for kv in mapping.items() for x in kv]
    want = df.select(F.coalesce(F.create_map(*lits)[F.col("v")], F.col("v"))).collect()
    got = df.select(recode_values(F.col("v"), mapping)).collect()
    assert got == want
    assert [r[0] for r in got][-3:] == ["two\nlines", "unmapped", None]


def test_recode_values_empty_map_passes_everything_through(spark):
    values = ODD_STRINGS + [None]
    df = spark.createDataFrame([(v,) for v in values], "v string")
    assert [r[0] for r in df.select(recode_values(F.col("v"), {})).collect()] == values


def test_grouped_and_cohort_stats_match_column_api(odd):
    def ordered_mean(c):
        total = F.aggregate(F.sort_array(F.collect_list(c)), F.lit(0.0), lambda a, x: a + x)
        return F.when(F.count(c) > 0, total / F.count(c))

    fns = {"median": F.median, "mean": F.avg, "mean_ordered": ordered_mean}
    want = odd.groupBy("k").agg(
        *[fns[s](F.col(r)) for r in ODD_REFS for s in fns]
    )
    got = grouped_stats(odd, ["k"], ODD_NAMES, tuple(fns))
    assert got.columns == ["k"] + [f"__{s}__{c}" for c in ODD_NAMES for s in fns]
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    labels = {"median": ODD_STRINGS[0], "mean": ODD_STRINGS[3]}
    out = append_cohort_stats(odd, ["k"], ODD_NAMES, stat_labels=labels, label_col="lbl")
    stat_rows = out.filter(F.col("state_scope") == "stats")
    assert sorted(r["lbl"] for r in stat_rows.collect()) == sorted(list(labels.values()) * 2)
    medians = {r["k"]: r["a.b"] for r in stat_rows.filter(F.col("lbl") == "it's").collect()}
    assert medians == {r["k"]: r["__median__a.b"] for r in got.collect()}
