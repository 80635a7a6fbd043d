"""Full ASPEP job composition: sources → store → plans → artifacts, plus
S7 CSV dim source and S10 JSON artifact re-scan."""

from __future__ import annotations

import json

from aspep_etl_spark.plans.aspep_job import JobPaths, run_aspep_job
from aspep_etl_spark.sources.census import (
    census_dim_from_rows,
    load_census_dim_csv,
    read_json_artifact,
)

from .test_ingest import canonical_frames, census_dim


def test_csv_dim_source(spark, tmp_path):
    csv = tmp_path / "regions.csv"
    csv.write_text(
        "State,State Code,Region,Division\n"
        "Alabama,AL,South,East South Central\n"
        "Wisconsin,WI,Midwest,East North Central\n"
    )
    dim = load_census_dim_csv(spark, str(csv))
    rows = {r["state_code"]: r for r in dim.collect()}
    assert rows["AL"]["division"] == "East South Central"
    assert dim.columns == ["state_code", "state", "region", "division"]


def test_full_job_offline(spark, tmp_path):
    paths = JobPaths(str(tmp_path))
    result = run_aspep_job(
        spark,
        paths,
        census_dim=census_dim(spark),
        parsed=(canonical_frames(), []),
    )
    assert result["bad_files"] == []

    # S10: re-scan the published pretty-printed JSON arrays with Spark
    combined = read_json_artifact(spark, result["artifacts"]["combined_data"])
    # 4 legacy + 3 tidy data rows + 1 retained last-header pseudo-row
    # (reference iloc[end:] slice quirk, sources/excel.py)
    assert combined.count() == 8
    ext = read_json_artifact(spark, result["artifacts"]["extended_stats"])
    mo = ext.filter(
        (ext.state_code == "MO") & (ext.gov_function == "corrections") & (ext.year == 2024)
    ).collect()[0]
    assert round(mo["pay_per_fte"], 2) == round(38885335 / 9600, 2)
    # cohort-stat pseudo rows present with scope label
    assert ext.filter(ext.state_code == "US-median").count() > 0

    # byte-parity of the published artifact with the reference serializer:
    # round-tripping the file through pandas to_json(orient="records",
    # indent=4) — the exact call the reference makes (assets.py:325) —
    # must reproduce our bytes identically (key order, ':' spacing, float
    # shape, null form)
    import pandas as pd

    raw = open(result["artifacts"]["derived_stats"]).read()
    assert pd.DataFrame(json.loads(raw)).to_json(orient="records", indent=4) == raw

    # golden-check style point lookup straight from the artifact file
    with open(result["artifacts"]["derived_stats"]) as f:
        rows = json.load(f)
    wi = [
        r for r in rows
        if r["state_code"] == "WI" and r["gov_function"] == "judicial and legal"
    ]
    assert wi and wi[0]["ft_pay"] == 7300000.0


def test_job_releases_stats_cache(spark, tmp_path, monkeypatch):
    """The stats frame is cached for the two stats artifacts and released
    before the job returns — also when a sink raises.  Only "no id added"
    is asserted: the ContextCleaner may drop other tests' stale RDDs at
    any time, which only shrinks the set."""
    import pytest

    from aspep_etl_spark import cache
    from aspep_etl_spark.plans import aspep_job

    parsed = (canonical_frames(), [])
    before = cache.persistent_rdd_ids(spark)
    run_aspep_job(spark, JobPaths(str(tmp_path / "ok")), parsed=parsed)
    assert cache.persistent_rdd_ids(spark) - before == set()

    real = aspep_job.write_json_array
    calls = []

    def fail_on_second(df, path, **kw):
        out = real(df, path, **kw)
        calls.append(cache.persistent_rdd_ids(spark) - before)
        if len(calls) == 2:
            raise RuntimeError("sink failed")
        return out

    monkeypatch.setattr(aspep_job, "write_json_array", fail_on_second)
    before = cache.persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="sink failed"):
        run_aspep_job(spark, JobPaths(str(tmp_path / "fail")), parsed=parsed)
    assert len(calls) == 2
    assert calls[1], "derived_stats should have filled the stats cache"
    assert cache.persistent_rdd_ids(spark) - before == set()


def test_corrupt_download_is_quarantined_not_fatal(spark, tmp_path):
    """One corrupt workbook is quarantined with its year and file; the
    job still publishes the other years (reference assets.py:317-320)."""
    from .xlsx_fixture import aspep_2024_xlsx_bytes

    books = {2022: b"not a workbook", 2024: aspep_2024_xlsx_bytes()}

    def landing_page(url):
        year = next((y for y in books if str(y) in url), None)
        link = f"https://example.test/aspep_{year}.xlsx"
        return None if year is None else f"<a href='{link}'>State Government Employment</a>"

    def fetch_bytes(url):
        return next(raw for year, raw in books.items() if f"aspep_{year}" in url)

    result = run_aspep_job(
        spark, JobPaths(str(tmp_path)), fetch=landing_page, fetch_bytes=fetch_bytes
    )
    [bad] = result["bad_files"]
    assert bad["year"] == 2022 and bad["file"].endswith("aspep_2022.xlsx")
    combined = read_json_artifact(spark, result["artifacts"]["combined_data"])
    assert {r["year"] for r in combined.select("year").distinct().collect()} == {2024}
