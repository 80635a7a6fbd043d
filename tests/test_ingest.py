"""Ingest-adapter tests (FIXTURES.md §3/§4): legacy header-grid era and
2024 tidy era, including quarantine and the census dimension join."""

from __future__ import annotations

import math

from aspep_etl_spark import schema
from aspep_etl_spark.sources.excel import (
    collapse_headers,
    grid_to_canonical,
    ingest_grids,
    legacy_grid_to_frame,
    parse_workbook_files,
    tidy_2024_to_frame,
)

from .xlsx_fixture import xlsx_bytes


def legacy_grid_2003():
    """Header window rows 1-3 (maps.HEADER_WINDOWS[2003]) with paren units,
    a fully-empty column, dirty state/function spellings."""
    return [
        ["STATE GOVERNMENT EMPLOYMENT AND PAYROLL DATA: MARCH 2003", None, None, None, None, None],
        [None, None, "Full-Time", "Full-Time", "Part-Time", None],
        ["State", "Function", "Employees", "Pay", "Employees", None],
        [None, None, None, "(whole dollars)", None, None],
        ["Alabama  ", "Correction", "5000", "12500000", "300", None],
        ["Alabama  ", "Streets & Hwys", "4000", "9000000", "100", None],
        ["Wisconsin", "Judicial-Legal", "2500", "7300000", "200", None],
        ["United States", "Correction", "400000", "990000000", "20000", None],
    ]


def tidy_grid_2024():
    """Flat header row, dirty numerics, two unmapped columns."""
    return [
        [
            "Geographic Area Name",
            "Meaning of Aggregate Description",
            "Full-Time Employment",
            "Full-Time Payroll",
            "Part-Time Employment",
            "Part-Time Payroll",
            "Part-Time Hours",
            "Full-Time Equivalent Employment",
            "Total Full-Time and Part-Time Employment",
            "Total Full-Time and Part-Time Payroll",
            "Unmapped Extra 1",
            "Unmapped Extra 2",
        ],
        ["Missouri", "Corrections", "9,591", "38,884,335", "10", "1,000", "100", "9,600",
         "9,601", "38,885,335", "x", "1"],
        ["Iowa", "Hospitals", "(42)", "120,000", "20", "2,000", "200", "50",
         "62", "122,000", "y", "2"],
        ["United States", "Corrections", "−7", "N/A", "30", "3,000", "300", "1000",
         "1030", "993,000", "z", "3"],
    ]


def canonical_frames():
    """Both eras through the era dispatch, as ``parse_workbook_files``
    returns them."""
    return {
        2003: grid_to_canonical(legacy_grid_2003(), 2003),
        2024: grid_to_canonical(tidy_grid_2024(), 2024),
    }


def tidy_frame_as(year):
    """The 2024 tidy fixture's canonical frame, stamped with ``year``."""
    return grid_to_canonical(tidy_grid_2024(), 2024).assign(year=year)


def census_dim(spark):
    rows = [
        ("AL", "Alabama", "South", "East South Central"),
        ("WI", "Wisconsin", "Midwest", "East North Central"),
        ("MO", "Missouri", "Midwest", "West North Central"),
        ("IA", "Iowa", "Midwest", "West North Central"),
    ]
    return spark.createDataFrame(rows, schema.census_dim_schema())


def test_collapse_headers_slugify_and_forced_names():
    cols = collapse_headers(legacy_grid_2003(), 1, 3)
    assert cols[0] == "state"
    assert cols[1] == "gov_function"
    assert cols[2] == "fulltime_employees"
    assert cols[3] == "fulltime_pay"  # "(whole dollars)" stripped
    assert cols[4] == "parttime_employees"


def test_legacy_grid_to_frame_canonical_columns():
    pdf = legacy_grid_to_frame(legacy_grid_2003(), 2003)
    assert "ft_employment" in pdf.columns and "ft_pay" in pdf.columns
    # empty column dropped
    assert len(pdf.columns) == 5
    # 4 data rows + the retained last header row (reference iloc[end:] quirk)
    assert len(pdf) == 5
    assert pdf.iloc[0]["ft_pay"] == "(whole dollars)"  # the retained header row


def test_tidy_2024_cleanse():
    pdf = tidy_2024_to_frame(tidy_grid_2024())
    assert list(pdf["ft_employment"]) == [9591.0, -42.0, -7.0]
    assert math.isnan(pdf["ft_pay"][2])  # N/A → NaN
    assert "Unmapped Extra 1" not in pdf.columns
    # tidy era emits pt_hours, never pt_hour
    assert "pt_hours" in pdf.columns and "pt_hour" not in pdf.columns


def test_ingest_grids_end_to_end(spark):
    fact, bad = ingest_grids(
        spark,
        {
            **canonical_frames(),
            1999: grid_to_canonical(tidy_grid_2024(), 1999),  # outside year range
        },
        census_dim=census_dim(spark),
    )
    assert bad == []
    assert {r["year"] for r in fact.select("year").distinct().collect()} == {2003, 2024}
    rows = {(r["state_code"], r["gov_function"], r["year"]): r for r in fact.collect()}

    al = rows[("AL", "corrections", 2003)]
    assert al["state"] == "Alabama" and al["region"] == "South"
    assert al["ft_employment"] == 5000.0 and al["state_scope"] == "state"

    hwy = rows[("AL", "highways", 2003)]  # "Streets & Hwys" recoded
    assert hwy["ft_pay"] == 9000000.0

    wi = rows[("WI", "judicial and legal", 2003)]
    assert wi["division"] == "East North Central"

    us = rows[("US", "corrections", 2003)]
    assert us["state"] is None and us["region"] is None
    assert us["state_scope"] == "national"

    mo = rows[("MO", "corrections", 2024)]
    assert mo["ft_employment"] == 9591.0
    assert mo["pt_hours"] == 100.0 and mo["pt_hour"] is None

    # legacy era: pt_hour column exists, pt_hours is null
    assert al["pt_hours"] is None


def test_parse_quarantines_a_workbook_its_adapter_rejects(spark, tmp_path):
    """A workbook that reads but does not fit its era's adapter (2010's
    header window lies beyond a one-cell sheet) is quarantined at the parse
    stage with its year and file; the other years still land."""
    books = {2003: legacy_grid_2003(), 2010: [["broken"]], 2024: tidy_grid_2024()}
    files = []
    for year, grid in books.items():
        path = tmp_path / f"aspep_{year}.xlsx"
        path.write_bytes(xlsx_bytes(grid))
        files.append((year, str(path)))
    frames, bad = parse_workbook_files(files)
    assert [(b["year"], b["file"]) for b in bad] == [(2010, str(tmp_path / "aspep_2010.xlsx"))]
    assert set(frames) == {2003, 2024}

    fact, bad = ingest_grids(spark, frames)
    assert bad == []
    assert {r["year"] for r in fact.select("year").distinct().collect()} == {2003, 2024}


def test_ingest_empty_input(spark):
    fact, bad = ingest_grids(spark, {})
    assert fact.count() == 0 and bad == []


def test_ingest_grids_store_layout(spark, tmp_path):
    """The years reach Spark as one table scanned in at most
    ``defaultParallelism`` partitions, so the store writer runs at most
    that many tasks and writes at most one file per (task, year)."""
    import glob

    from aspep_etl_spark.sinks.publish import write_canonical_store

    years = list(range(2015, 2024))
    fact, bad = ingest_grids(spark, {y: tidy_frame_as(y) for y in years})
    assert bad == []
    cores = spark.sparkContext.defaultParallelism
    assert fact.rdd.getNumPartitions() <= cores

    store = str(tmp_path / "store")
    write_canonical_store(fact, store)
    files = glob.glob(f"{store}/year=*/*.parquet")
    assert len({f.split("/")[-2] for f in files}) == len(years)
    assert len(files) <= len(years) + cores
    assert spark.read.parquet(store).count() == 3 * len(years)


def test_ingest_grids_numeric_state_is_stringified_with_null_measures(spark):
    """A numeric ``state`` cell is stringified by ``grid_to_canonical``, so
    its year takes the Arrow path like every other year: it is not
    quarantined, and its missing measures are null, not NaN."""
    grid = legacy_grid_2003()
    grid[5][0] = 1.5  # "Alabama  " → a number on the Streets & Hwys row
    frames = {
        2003: grid_to_canonical(grid, 2003),
        **{y: tidy_frame_as(y) for y in range(2015, 2023)},
    }
    fact, bad = ingest_grids(spark, frames)
    assert bad == []
    rows = fact.collect()
    assert {r["year"] for r in rows} == {2003, *range(2015, 2023)}

    hwy = [r for r in rows if r["year"] == 2003 and r["gov_function"] == "highways"]
    assert len(hwy) == 1
    assert hwy[0]["state"] == "1.5" and hwy[0]["state_code"] == "1.5"
    assert hwy[0]["ft_pay"] == 9000000.0
    assert hwy[0]["pt_hours"] is None

    neighbours = [r for r in rows if r["year"] != 2003]
    assert len(neighbours) == 3 * 8
    assert all(r["pt_hour"] is None for r in neighbours)


def test_ingest_grids_quarantines_a_year_that_cannot_convert(spark):
    """Each year becomes its own Arrow table before the one
    ``createDataFrame``, so a year whose ``index`` cell is not an integer
    is quarantined alone and the other years land.  Their missing measures
    (NaN in the pandas frames) arrive as null, never NaN."""
    from pyspark.sql import functions as F

    broken = tidy_frame_as(2016)
    broken["index"] = broken["index"].astype(object)
    broken.loc[1, "index"] = "x"
    frames = {
        2003: grid_to_canonical(legacy_grid_2003(), 2003),
        2015: tidy_frame_as(2015),
        2016: broken,
    }
    fact, bad = ingest_grids(spark, frames)
    assert [b["year"] for b in bad] == [2016]
    assert {r["year"] for r in fact.select("year").distinct().collect()} == {2003, 2015}

    nans = fact.select(*[F.sum(F.isnan(m).cast("int")).alias(m) for m in schema.MEASURE_COLS])
    assert all(n == 0 for n in nans.first())
    us = fact.filter((F.col("state_code") == "US") & (F.col("year") == 2015)).first()
    assert us["ft_pay"] is None and us["pt_hour"] is None  # "N/A" and absent
    al = fact.filter((F.col("state_code") == "AL") & (F.col("year") == 2003)).first()
    assert al["pt_hours"] is None and al["total_pay"] is None
