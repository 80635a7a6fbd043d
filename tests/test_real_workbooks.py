"""Golden parity against REAL census workbooks: the engine ingests every
cached reference workbook (2003-2023, BIFF .xls + OOXML .xlsx, stdlib
readers) plus a reconstructed 2024-format fixture carrying the REAL 2024
golden cell values (the raw 2024 file is uncached and the container has no
network — see tests/xlsx_fixture.py), and must reproduce ALL 16 reference
golden-check values from process_aspep/asset_checks.py:14-31, spanning
combine_years, derive_stats ratios, and derive_extended_stats positional
1-yr/5-yr deltas, at the reference's rel_tol=1e-3."""

from __future__ import annotations

import math
import os

import pytest

from aspep_etl_spark.plans import derive_extended_stats, derive_stats
from aspep_etl_spark.sources.excel import ingest_grids, parse_workbook_bytes

from .xlsx_fixture import aspep_2024_xlsx_bytes

RAW_DIR = "/root/reference/data/raw"
YEARS = list(range(2003, 2024))

COMBINE_GOLDENS = [
    ("WI", "corrections", 2017, "total_pay", 42_327_514),
    ("WI", "education - higher education instructional", 2021, "total_pay", 88_769_896),
    ("AR", "judicial and legal", 2022, "ft_pay", 8_001_374),
    ("CA", "hospitals", 2022, "pt_employment", 10_250),
    ("GA", "public welfare", 2020, "pt_pay", 17_900),
    ("IN", "police protection total", 2020, "ft_eq_employment", 1_820),
    ("US", "total - all government employment functions", 2019, "ft_pt_employment", 5_497_394),
    ("HI", "financial administration", 2018, "ft_employment", 692),
    # 2024 era (golden cells embedded in the reconstructed fixture)
    ("AZ", "electric power", 2024, "ft_employment", 4),
    ("WA", "corrections", 2024, "ft_pay", 71_593_739),
]
STATS_GOLDENS = [
    ("CA", "hospitals", 2020, "pay_per_ft", round(473_139_785 / 48_767, 2)),
    ("MO", "corrections", 2024, "pay_per_fte", round(38_884_335 / 9_591, 2)),
]
EXTENDED_GOLDENS = [
    ("NE", "public welfare", 2022, "ft_employment_5yr_abs", 2_167 - 2_426),
    ("DE", "natural resources", 2008, "ft_employment_5yr_abs", 485 - 420),
    # 2024 deltas: fixture 2024 value minus the REAL 2023 / 2020 workbook
    # values — proves the tidy-era adapter chains into the positional-lag
    # window over the real corpus.
    ("IA", "hospitals", 2024, "ft_eq_employment_1yr_abs", 10_004 - 9_386),
    ("IA", "hospitals", 2024, "ft_eq_employment_5yr_abs", 10_004 - 9_172),
]


def _cell(df, code, fn, year, col):
    rows = df.filter(
        (df.state_code == code) & (df.gov_function == fn) & (df.year == year)
    ).select(col).collect()
    assert len(rows) == 1, (code, fn, year, len(rows))
    return rows[0][0]


@pytest.fixture(scope="module")
def real_frames(spark):
    if not os.path.isdir(RAW_DIR):
        pytest.skip("reference raw workbooks absent")
    grids = {}
    for year in YEARS:
        ext = "xlsx" if year >= 2020 else "xls"
        path = f"{RAW_DIR}/aspep_{year}.{ext}"
        with open(path, "rb") as f:
            grids[year] = parse_workbook_bytes(f.read(), path, year)
    # 2024: reconstructed tidy-era fixture through the SAME byte-level path
    # (zip → sheet "Data" → xlsx_lite grid → tidy adapter) as a real file
    grids[2024] = parse_workbook_bytes(aspep_2024_xlsx_bytes(), "aspep_2024.xlsx", 2024)
    fact, bad = ingest_grids(spark, grids)
    assert bad == []
    fact = fact.persist()
    stats = derive_stats(fact).persist()
    ext = derive_extended_stats(stats).persist()
    return fact, stats, ext


def test_real_corpus_shape(real_frames):
    fact, _, _ = real_frames
    assert fact.count() > 35_000  # 21 years × ~1.8k rows
    # 36,937 true data rows + 21 retained last-header pseudo-rows (the
    # reference's iloc[header_end:] slice keeps one per legacy year)
    assert fact.filter("year < 2024").count() == 36_958
    years = {r["year"] for r in fact.select("year").distinct().collect()}
    assert years == set(YEARS) | {2024}


def test_combine_years_goldens_on_real_data(real_frames):
    fact, _, _ = real_frames
    for code, fn, year, col, exp in COMBINE_GOLDENS:
        act = _cell(fact, code, fn, year, col)
        assert act is not None and math.isclose(act, exp, rel_tol=1e-3), (
            code, fn, year, col, act, exp,
        )


def test_derive_stats_goldens_on_real_data(real_frames):
    _, stats, _ = real_frames
    for code, fn, year, col, exp in STATS_GOLDENS:
        act = _cell(stats, code, fn, year, col)
        assert act is not None and math.isclose(act, exp, rel_tol=1e-3)


def test_extended_stats_goldens_on_real_data(real_frames):
    _, _, ext = real_frames
    for code, fn, year, col, exp in EXTENDED_GOLDENS:
        act = _cell(ext, code, fn, year, col)
        assert act is not None and math.isclose(act, exp, rel_tol=1e-3), (
            code, fn, year, col, act, exp,
        )


def test_runtime_golden_checks_on_real_data(spark, real_frames):
    """The engine-side asset-check gate (plans/golden_checks.py — the
    reference's runtime asset checks, asset_checks.py:14-31) must pass all
    16 checks against the real-corpus pipeline outputs in one audit frame,
    and must FAIL loudly when pointed at a frame missing the cells."""
    from aspep_etl_spark.plans.golden_checks import run_golden_checks

    fact, stats, ext = real_frames
    audit = run_golden_checks(
        spark,
        {"combine_years": fact, "derive_stats": stats, "derive_extended_stats": ext},
    ).collect()
    assert len(audit) == 16
    failed = [r for r in audit if not r["passed"]]
    assert failed == [], failed

    # negative control: a filtered frame loses its golden cells → failures
    broken = run_golden_checks(
        spark, {"combine_years": fact.filter("year < 2010")}
    ).collect()
    assert any(not r["passed"] for r in broken)
    assert all(not r["passed"] for r in broken if r["year"] >= 2010)
