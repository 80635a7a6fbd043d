"""The runtime golden-check gate on tiny frames that hold exactly its 16
cells: all pass, and a cell off by more than ``rel_tol``, a duplicated key
and a missing cell each fail their own check only."""

from __future__ import annotations

from pyspark.sql import functions as F

from aspep_etl_spark.plans.golden_checks import GOLDEN_CHECKS, run_golden_checks


def _frames(spark, checks):
    """One frame per asset: one row per check key, holding every checked
    column of that asset (null where the key has no check on it)."""
    frames = {}
    for asset, cells in checks.items():
        cols = sorted({c[3] for c in cells})
        rows: dict[tuple, dict] = {}
        for code, fn, year, col, value in cells:
            rows.setdefault((code, fn, year), dict.fromkeys(cols))[col] = float(value)
        schema = "state_code string, gov_function string, year int, " + ", ".join(
            f"{c} double" for c in cols
        )
        frames[asset] = spark.createDataFrame(
            [(*k, *(v[c] for c in cols)) for k, v in rows.items()], schema
        )
    return frames


def _failed(spark, frames):
    audit = run_golden_checks(spark, frames).collect()
    assert len(audit) == 16
    return sorted((r["asset"], r["state_code"], r["column"]) for r in audit if not r["passed"])


def _scaled(asset, index, factor):
    checks = {a: list(cells) for a, cells in GOLDEN_CHECKS.items()}
    code, fn, year, col, value = checks[asset][index]
    checks[asset][index] = (code, fn, year, col, value * factor)
    return checks


def test_all_sixteen_cells_pass(spark):
    assert _failed(spark, _frames(spark, GOLDEN_CHECKS)) == []


def test_cell_outside_rel_tol_fails_alone(spark):
    # WI corrections 2017 total_pay: 0.05% off passes, 0.2% off fails
    assert _failed(spark, _frames(spark, _scaled("combine_years", 0, 1.0005))) == []
    assert _failed(spark, _frames(spark, _scaled("combine_years", 0, 1.002))) == [
        ("combine_years", "WI", "total_pay")
    ]


def test_duplicated_key_fails(spark):
    frames = _frames(spark, GOLDEN_CHECKS)
    stats = frames["derive_stats"]
    frames["derive_stats"] = stats.unionByName(stats.filter(F.col("state_code") == "MO"))
    assert _failed(spark, frames) == [("derive_stats", "MO", "pay_per_fte")]


def test_missing_cell_fails(spark):
    frames = _frames(spark, GOLDEN_CHECKS)
    ext = frames["derive_extended_stats"]
    frames["derive_extended_stats"] = ext.filter(F.col("state_code") != "NE")
    audit = run_golden_checks(spark, frames).collect()
    (miss,) = [r for r in audit if not r["passed"]]
    assert (miss["state_code"], miss["column"], miss["actual"]) == (
        "NE", "ft_employment_5yr_abs", None,
    )
