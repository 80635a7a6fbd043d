"""Chunked wide-kernel equivalence: the Arrow-batched yoy/rank kernels must
produce identical results whether a shuffle partition is processed whole or
streamed in tiny chunks (skew safety — VERDICT r3 item 1).

The chunked kernels bound memory at ~chunk_rows regardless of partition
size; these tests force pathological chunking (chunk_rows far below the
cohort size, plus a deliberately skewed single-cohort frame) and pin exact
equality against the unchunked JVM-expression twins.
"""

import math
import random

import pytest
from pyspark.sql import functions as F

from aspep_etl_spark.operators.windows import (
    cohort_ranks,
    ranks_wide,
    signed_delta_ranks,
    yoy_deltas,
    yoy_deltas_wide,
)


def _mk_frame(spark, n_cohorts, rows_per_cohort, seed=7):
    """Frame with gaps, zeros, nulls and ties across several metrics."""
    rng = random.Random(seed)
    rows = []
    for s in range(n_cohorts):
        state = f"S{s:02d}"
        fn = f"fn{s % 3}"
        year = 2000
        for _ in range(rows_per_cohort):
            year += rng.choice([1, 1, 1, 2])  # gap years
            m1 = rng.choice([None, 0.0, 0.0, float(rng.randint(-5, 50))])
            m2 = rng.choice([None, float(rng.randint(0, 9))])  # ties likely
            rows.append((state, fn, year, m1, m2))
    return spark.createDataFrame(
        rows, "state_code string, gov_function string, year int, m1 double, m2 double"
    )


def _collect_sorted(df):
    cols = sorted(df.columns)
    rows = df.select(*cols).collect()
    key = lambda r: tuple((v is None, v) for v in r)
    return cols, sorted(rows, key=key)


def _assert_frames_equal(a, b):
    ca, ra = _collect_sorted(a)
    cb, rb = _collect_sorted(b)
    assert ca == cb
    assert len(ra) == len(rb)
    for x, y in zip(ra, rb):
        for cx, vx, vy in zip(ca, x, y):
            if vx is None or vy is None:
                assert vx is vy is None, (cx, vx, vy)
            elif isinstance(vx, float):
                if math.isnan(vx) or math.isnan(vy):
                    assert math.isnan(vx) and math.isnan(vy), (cx, vx, vy)
                elif math.isinf(vx) or math.isinf(vy):
                    assert vx == vy, (cx, vx, vy)
                else:
                    assert vx == pytest.approx(vy, rel=1e-12, abs=1e-12), (cx, vx, vy)
            else:
                assert vx == vy, (cx, vx, vy)


KEYS = ["state_code", "gov_function"]
METRICS = ["m1", "m2"]


def _without_pct(df):
    # ``_abs`` is the same plain diff in both forms; the kernel's ``_pct`` is
    # legacy pandas ``pct_change`` (padded, ±inf), pinned chunk-invariant below
    return df.select([c for c in df.columns if not c.endswith("_pct")])


def test_yoy_chunked_matches_window_expressions(spark):
    df = _mk_frame(spark, n_cohorts=9, rows_per_cohort=25)
    expected = yoy_deltas(df, KEYS, ["year"], METRICS)
    got = yoy_deltas_wide(df, KEYS, ["year"], METRICS, chunk_rows=7)
    _assert_frames_equal(_without_pct(expected), _without_pct(got))


def test_yoy_chunked_skewed_single_cohort(spark):
    # one giant cohort — every chunk boundary falls mid-cohort, so the
    # lag/ffill carry is exercised on every flush
    df = _mk_frame(spark, n_cohorts=1, rows_per_cohort=400)
    expected = yoy_deltas(df, KEYS, ["year"], METRICS)
    got = yoy_deltas_wide(df, KEYS, ["year"], METRICS, chunk_rows=16)
    _assert_frames_equal(_without_pct(expected), _without_pct(got))


def test_yoy_reference_exact_chunk_invariant(spark):
    # legacy pct_change mode (ffill + ±inf) must be chunk-size invariant:
    # tiny chunks vs one big chunk give byte-identical results
    df = _mk_frame(spark, n_cohorts=4, rows_per_cohort=60, seed=11)
    whole = yoy_deltas_wide(df, KEYS, ["year"], METRICS, chunk_rows=1_000_000)
    tiny = yoy_deltas_wide(df, KEYS, ["year"], METRICS, chunk_rows=5)
    _assert_frames_equal(whole, tiny)


def test_ranks_chunked_matches_window_expressions(spark):
    df = _mk_frame(spark, n_cohorts=9, rows_per_cohort=25, seed=3)
    deltas = yoy_deltas(df, KEYS, ["year"], METRICS)
    delta_cols = [c for c in deltas.columns if c.endswith(("_pct", "_abs"))]
    expected = signed_delta_ranks(
        cohort_ranks(deltas, KEYS, METRICS), KEYS, delta_cols
    )
    got = ranks_wide(deltas, KEYS, METRICS, delta_cols, chunk_rows=11)
    _assert_frames_equal(expected, got)


def test_ranks_chunked_skewed_single_cohort(spark):
    # a cohort far larger than chunk_rows: the kernel must keep accumulating
    # (exact rank needs the whole cohort) and still produce exact ranks
    df = _mk_frame(spark, n_cohorts=1, rows_per_cohort=300, seed=5)
    expected = cohort_ranks(df, KEYS, METRICS)
    got = ranks_wide(df, KEYS, METRICS, [], chunk_rows=8)
    _assert_frames_equal(expected, got)


def test_ranks_chunked_null_cohort_keys(spark):
    # null keys form their own cohort (dropna=False); boundary detection via
    # ngroup must not split or merge them
    df = _mk_frame(spark, n_cohorts=5, rows_per_cohort=20, seed=9).withColumn(
        "gov_function",
        F.when(F.col("state_code") == "S02", F.lit(None)).otherwise(
            F.col("gov_function")
        ),
    )
    expected = cohort_ranks(df, KEYS, METRICS)
    got = ranks_wide(df, KEYS, METRICS, [], chunk_rows=13)
    _assert_frames_equal(expected, got)
