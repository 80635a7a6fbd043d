"""Manifest scrape/build/cache chain (S1-S5) — offline via injected fetch."""

from __future__ import annotations

import json

import pytest

from aspep_etl_spark.sources.manifest import (
    build_year_url_mapping,
    census_url_for_year,
    download_workbooks,
    extract_data_url,
)

HTML = """
<html><body>
<a href="/irrelevant.html">Other link</a>
<a href="https://www2.census.gov/data/aspep_2020.xlsx">
  2020 State Government Employment &amp; Payroll Data</a>
<a href="/relative/aspep_alt.xls">State Government Employment</a>
</body></html>
"""


def test_census_url_dialects():
    assert "data/tables/2017" in census_url_for_year(2017)
    assert "data/datasets/2014" in census_url_for_year(2014)
    assert "data/datasets/2024" in census_url_for_year(2024)
    assert "datasetstables/2019.html" in census_url_for_year(2019)


def test_extract_first_matching_anchor():
    # first <a> whose *text* matches wins; href may be relative
    assert extract_data_url(HTML) == "https://www2.census.gov/data/aspep_2020.xlsx"
    assert extract_data_url("<a href='x'>nothing here</a>") is None


def test_build_mapping_and_cache_short_circuit(tmp_path):
    mapping_file = str(tmp_path / "year_url_mapping.json")
    calls = []

    def fetch(url):
        calls.append(url)
        year = url.rstrip(".html").split("/")[-1].replace("annual-apes", "")
        return HTML if "2003" in url or "2004" in url else None

    m = build_year_url_mapping(mapping_file, fetch=fetch, years=range(2003, 2006))
    assert set(m) == {"2003", "2004"}
    assert m["2003"]["data_url"].endswith(".xlsx")
    assert len(calls) == 3
    with open(mapping_file) as f:
        assert json.load(f)["data"]["2004"]["year"] == 2004

    # second run: cached, no fetches
    calls.clear()
    m2 = build_year_url_mapping(mapping_file, fetch=fetch, years=range(2003, 2006))
    assert m2 == m and calls == []


def test_download_cache_and_quarantine(tmp_path):
    mapping = {
        "2003": {"year": 2003, "data_url": "https://x/aspep_2003.xls"},
        "2004": {"year": 2004, "data_url": "https://x/aspep_2004.xlsx"},
        "2005": {"year": 2005, "data_url": "https://x/aspep_2005.xls"},
    }
    seen = []

    def fetch_bytes(url):
        seen.append(url)
        return None if "2005" in url else b"excel-bytes"

    files, bad = download_workbooks(mapping, str(tmp_path), fetch_bytes)
    assert set(files) == {"2003", "2004"}
    assert files["2004"].endswith("aspep_2004.xlsx")
    assert bad[0]["year"] == "2005"

    # cached: no refetch of existing files, failed one retried
    seen.clear()
    files2, _ = download_workbooks(mapping, str(tmp_path), fetch_bytes)
    assert set(files2) == {"2003", "2004"} and seen == ["https://x/aspep_2005.xls"]


def test_default_scrape_covers_the_ingest_window(tmp_path):
    """The default years are the ones ingest keeps: 2003-2024, no 2025
    (``maps.END_YEAR`` is exclusive)."""
    calls = []

    def fetch(url):
        calls.append(url)
        return None

    build_year_url_mapping(str(tmp_path / "year_url_mapping.json"), fetch=fetch)
    assert calls == [census_url_for_year(y) for y in range(2003, 2025)]


def test_cut_off_download_is_fetched_again(tmp_path, monkeypatch):
    """A write that fails halfway leaves no ``aspep_{year}.*`` behind, so
    the next call fetches that year again instead of keeping a truncated
    workbook as cached."""
    from aspep_etl_spark.sources import manifest

    mapping = {"2003": {"year": 2003, "data_url": "https://x/aspep_2003.xls"}}
    seen = []

    def fetch_bytes(url):
        seen.append(url)
        return b"excel-bytes"

    class CutFile:
        def __init__(self, f):
            self.f = f

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.f.close()

        def write(self, data):
            self.f.write(data[: len(data) // 2])
            self.f.flush()
            raise OSError(28, "No space left on device")

    monkeypatch.setattr(manifest, "open", lambda p, m="r": CutFile(open(p, m)), raising=False)
    with pytest.raises(OSError, match="No space left"):
        download_workbooks(mapping, str(tmp_path), fetch_bytes)
    assert list(tmp_path.glob("aspep_2003.*")) == []

    monkeypatch.delattr(manifest, "open")
    files, bad = download_workbooks(mapping, str(tmp_path), fetch_bytes)
    assert bad == [] and seen == ["https://x/aspep_2003.xls"] * 2
    with open(files["2003"], "rb") as f:
        assert f.read() == b"excel-bytes"
    assert sorted(p.name for p in tmp_path.iterdir()) == ["aspep_2003.xls"]
