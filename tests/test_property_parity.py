"""Property-based parity: random inputs, pandas as the semantic oracle.

Hypothesis drives the operators through tie/null/gap/unicode edge cases a
hand-written fixture would miss.  Spark round-trips run once per example
list (moderate max_examples — each example costs a Spark job).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from aspep_etl_spark.functions.scalar import cleanse_numeric, slugify_expr, slugify_py
from aspep_etl_spark.operators.windows import cohort_ranks, signed_delta_ranks, yoy_deltas

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

values = st.one_of(
    st.none(),
    st.integers(min_value=-50, max_value=50).map(float),
    st.sampled_from([0.0, 1.0, -1.0, 2.5]),
)


@st.composite
def cohort_frames(draw):
    """(cohort, year, value) rows: ≤3 cohorts, shuffled years with gaps,
    duplicate values (ties), nulls."""
    rows = []
    for g in range(draw(st.integers(1, 3))):
        years = draw(
            st.lists(st.integers(2000, 2012), min_size=1, max_size=8, unique=True)
        )
        for y in years:
            rows.append((f"g{g}", y, draw(values)))
    return rows


@SLOW
@given(cohort_frames())
def test_yoy_deltas_match_pandas(spark, rows):
    pdf = pd.DataFrame(rows, columns=["g", "year", "v"]).astype({"v": float})
    sdf = spark.createDataFrame(pdf)
    out = (
        yoy_deltas(sdf, ["g"], ["year"], ["v"])
        .toPandas()
        .sort_values(["g", "year"])
        .reset_index(drop=True)
    )
    exp_frames = []
    for _, grp in pdf.groupby("g"):
        grp = grp.sort_values("year").copy()
        grp["v_1yr_pct"] = grp["v"].pct_change(1, fill_method=None)
        grp["v_5yr_pct"] = grp["v"].pct_change(4, fill_method=None)
        grp["v_1yr_abs"] = grp["v"].diff(1)
        grp["v_5yr_abs"] = grp["v"].diff(4)
        exp_frames.append(grp)
    exp = (
        pd.concat(exp_frames)
        .replace([np.inf, -np.inf], np.nan)  # engine: zero base → null
        .sort_values(["g", "year"])
        .reset_index(drop=True)
    )
    for c in ["v_1yr_pct", "v_5yr_pct", "v_1yr_abs", "v_5yr_abs"]:
        a, b = out[c].to_numpy(), exp[c].to_numpy()
        assert ((np.isnan(a) & np.isnan(b)) | np.isclose(a, b, rtol=1e-9, equal_nan=False)).all(), c


@SLOW
@given(cohort_frames())
def test_ranks_match_pandas(spark, rows):
    pdf = pd.DataFrame(rows, columns=["g", "year", "v"]).astype({"v": float})
    sdf = spark.createDataFrame(pdf)
    ranked = cohort_ranks(sdf, ["g"], ["v"])
    signed = signed_delta_ranks(ranked, ["g"], ["v"]).toPandas()
    out = signed.sort_values(["g", "year"]).reset_index(drop=True)

    exp = pdf.copy()
    exp["v_rank"] = exp.groupby("g")["v"].rank(method="min", ascending=False)
    exp["v_pos_rank"] = exp.where(exp["v"] > 0).groupby(pdf["g"])["v"].rank(
        method="min", ascending=False
    )
    exp["v_neg_rank"] = exp.where(exp["v"] < 0).groupby(pdf["g"])["v"].rank(
        method="min", ascending=True
    )
    exp = exp.sort_values(["g", "year"]).reset_index(drop=True)
    for c in ["v_rank", "v_pos_rank", "v_neg_rank"]:
        a, b = out[c].to_numpy(dtype=float), exp[c].to_numpy(dtype=float)
        assert ((np.isnan(a) & np.isnan(b)) | (a == b)).all(), (c, list(a), list(b))


dirty_numbers = st.one_of(
    st.integers(-10**9, 10**9).map(lambda n: f"{n:,}"),
    st.integers(1, 10**6).map(lambda n: f"({n:,})"),
    st.integers(1, 10**6).map(lambda n: f"−{n}"),
    st.integers(1, 10**6).map(lambda n: f"–{n}"),
    st.sampled_from(["N/A", "", "junk", "1.5", "-2.75", "1e3"]),
)


@SLOW
@given(st.lists(dirty_numbers, min_size=1, max_size=30))
def test_cleanse_numeric_matches_pandas_coerce(spark, vals):
    pdf = pd.DataFrame({"i": range(len(vals)), "s": vals})
    out = (
        spark.createDataFrame(pdf)
        .select("i", cleanse_numeric(F.col("s")).alias("v"))
        .toPandas()
        .sort_values("i")
    )
    t = pdf["s"].str.replace(",", "", regex=False)
    t = t.str.replace("[−–—]", "-", regex=True)
    t = t.str.replace(r"^\((.+)\)$", r"-\1", regex=True)
    exp = pd.to_numeric(t, errors="coerce")
    a, b = out["v"].to_numpy(), exp.to_numpy(dtype=float)
    assert ((np.isnan(a) & np.isnan(b)) | (a == b)).all(), list(zip(vals, a, b))


words = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs", "Cc")),
    max_size=24,
)


@SLOW
@given(st.lists(words, min_size=1, max_size=25))
def test_slugify_expr_matches_python(spark, texts):
    pdf = pd.DataFrame({"i": range(len(texts)), "t": texts})
    out = (
        spark.createDataFrame(pdf)
        .select("i", slugify_expr(F.col("t")).alias("slug"))
        .toPandas()
        .sort_values("i")
    )
    exp = [slugify_py(t) for t in texts]
    assert list(out["slug"]) == exp
