"""Manifest scrape/build/cache source chain (SURVEY.md §2.1 S1-S5).

Driver-side by design: 22 tiny sequential HTTP fetches are not a Spark
job.  The network edge is injectable (``fetch=``) so everything is testable
offline; HTML anchor extraction uses the stdlib parser (no bs4 in this
container).  The cached-manifest short-circuit (S3) and the download cache
(S5) reproduce the reference's idempotent re-run behavior
(assets.py:182-189,246-249).
"""

from __future__ import annotations

import json
import os
from html.parser import HTMLParser
from typing import Callable

from .. import maps

ANCHOR_TEXT = "State Government Employment"


def census_url_for_year(year: int) -> str:
    """Per-year URL dialect (S2, reference assets.py:20-32)."""
    if year in (2017, 2018):
        return f"https://www.census.gov/data/tables/{year}/econ/apes/annual-apes.html"
    if year in (2014, 2024):
        return f"https://www.census.gov/data/datasets/{year}/econ/apes/annual-apes.html"
    return f"https://www.census.gov/programs-surveys/apes/data/datasetstables/{year}.html"


class _AnchorScan(HTMLParser):
    """First <a> whose text contains ANCHOR_TEXT (reference assets.py:203-216)."""

    def __init__(self) -> None:
        super().__init__()
        self.href: str | None = None
        self._cur_href: str | None = None
        self._cur_text: list[str] = []

    def handle_starttag(self, tag, attrs):
        if tag == "a" and self.href is None:
            self._cur_href = dict(attrs).get("href")
            self._cur_text = []

    def handle_data(self, data):
        if self._cur_href is not None:
            self._cur_text.append(data)

    def handle_endtag(self, tag):
        if tag == "a" and self.href is None and self._cur_href is not None:
            text = "".join(self._cur_text).strip()
            if ANCHOR_TEXT in text:
                self.href = self._cur_href
            self._cur_href = None


def extract_data_url(html: str) -> str | None:
    scanner = _AnchorScan()
    scanner.feed(html)
    return scanner.href


def _default_fetch(url: str) -> str | None:
    try:
        import requests

        resp = requests.get(url, timeout=30)
        return resp.text if resp.status_code == 200 else None
    except Exception:  # noqa: BLE001
        return None


def build_year_url_mapping(
    mapping_file: str,
    fetch: Callable[[str], str | None] = _default_fetch,
    years: range = range(maps.START_YEAR, maps.END_YEAR),
) -> dict:
    """Scrape (or reuse cached) per-year download URLs (S1/S3/S4).  The
    default years are the ingest window (``maps.END_YEAR`` is exclusive)."""
    if os.path.exists(mapping_file):
        try:
            with open(mapping_file) as f:
                cached = json.load(f).get("data", {})
            if cached:
                return cached
        except (json.JSONDecodeError, KeyError):
            pass

    mapping: dict = {}
    for year in years:
        url = census_url_for_year(year)
        html = fetch(url)
        if html is None:
            continue
        data_url = extract_data_url(html)
        if data_url:
            mapping[str(year)] = {"year": year, "source_url": url, "data_url": data_url}

    os.makedirs(os.path.dirname(mapping_file) or ".", exist_ok=True)
    with open(mapping_file, "w") as f:
        json.dump({"data": mapping}, f, indent=4)
    return mapping


def download_workbooks(
    mapping: dict,
    raw_dir: str,
    fetch_bytes: Callable[[str], bytes | None] | None = None,
) -> tuple[dict, list[dict]]:
    """Cached per-year workbook download with per-file error isolation
    (S5, reference assets.py:231-267).  Returns (year→path, quarantine).

    Any existing ``aspep_{year}.xls[x]`` counts as cached, so a workbook is
    written under a temporary name and renamed into place only once
    complete: a cut-off write leaves no file that a later run would keep."""

    def _default(url: str) -> bytes | None:
        try:
            import requests

            resp = requests.get(url, timeout=60)
            resp.raise_for_status()
            return resp.content
        except Exception:  # noqa: BLE001
            return None

    fetch_bytes = fetch_bytes or _default
    os.makedirs(raw_dir, exist_ok=True)
    files: dict = {}
    bad: list[dict] = []
    for year, row in mapping.items():
        ext = ".xlsx" if ".xlsx" in row["data_url"] else ".xls"
        out = os.path.join(raw_dir, f"aspep_{year}{ext}")
        if os.path.exists(out):
            files[year] = out
            continue
        content = fetch_bytes(row["data_url"])
        if content is None:
            bad.append({"year": year, "url": row["data_url"], "reason": "fetch failed"})
            continue
        part = os.path.join(raw_dir, f".aspep_{year}{ext}.part")
        try:
            with open(part, "wb") as f:
                f.write(content)
            os.replace(part, out)
        finally:
            if os.path.exists(part):
                os.remove(part)
        files[year] = out
    return files, bad
