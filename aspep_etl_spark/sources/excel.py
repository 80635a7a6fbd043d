"""Ingest adapters for ASPEP workbooks (SURVEY.md §2.1 S5/S6, §7.3).

One path: workbook bytes → positional grid → canonical year frame → fact.

- **bytes → grid**: one stdlib reader per format, ``xlsx_lite`` for OOXML
  ``.xlsx`` and ``xls_lite`` for BIFF ``.xls`` (no pandas Excel engines).
- **grid → canonical frame**: ``grid_to_canonical``, the one era dispatch.
  Two raw layouts exist:

  - **legacy era (≤2023)**: multi-row header windows at year-specific
    offsets (``maps.HEADER_WINDOWS``), junk rows above, positional grid.
  - **tidy era (2024+)**: a flat header row whose names are
    ``maps.TIDY_2024_COLUMN_CANON`` keys, dirty numeric strings.

- **canonical frames → fact**: ``ingest_grids``, one Arrow table per
  year, one ``createDataFrame`` over their concatenation, then
  ``normalize_fact``.

A workbook that fails to read or to fit its era's adapter is quarantined
by ``parse_workbook_files`` with its year and file; the other years land.

Reference behavior reproduced: process_aspep/assets.py:115-165 (both
adapters), 270-333 (per-year loop with quarantine).
"""

from __future__ import annotations

import os
import re

import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from .. import maps, schema
from ..functions.scalar import slugify_py
from .xls_lite import read_xls_grid
from .xlsx_lite import read_xlsx_grid

_PAREN_RE = re.compile(r"\(.*?\)")
_DASH_RE = re.compile("[−–—]")
_ACCT_NEG_RE = re.compile(r"^\((.+)\)$")


def collapse_headers(grid: list[list], header_start: int, header_end: int) -> list[str]:
    """Collapse the multi-row header window into one slugified header line
    (reference assets.py:51-64): rows [start, end] stringified, "nan"→"",
    space-joined per column, parenthesized units stripped, slugified; the
    first two columns are forced to ``state`` / ``gov_function``."""
    width = max(len(r) for r in grid[header_start : header_end + 1])
    joined = []
    for c in range(width):
        parts = []
        for r in range(header_start, header_end + 1):
            cell = grid[r][c] if c < len(grid[r]) else None
            s = "" if cell is None else str(cell)
            if s == "nan":
                s = ""
            parts.append(s)
        col = " ".join(parts)
        col = _PAREN_RE.sub("", col).strip()
        joined.append(slugify_py(col))
    if joined:
        joined[0] = "state"
        if len(joined) > 1:
            joined[1] = "gov_function"
    return joined


def legacy_grid_to_frame(grid: list[list], year: int) -> pd.DataFrame:
    """Legacy-era adapter: collapse headers, slice off the header window,
    drop all-empty/unnamed columns, canonicalize names
    (reference assets.py:115-139).

    The data slice is ``grid[end:]`` — reference ``df.iloc[header_end:]``
    (assets.py:130) KEEPS the last header row (e.g. 2003's "State
    Name/Function/Employees" line) as a data row; it survives the whole
    reference pipeline (its year passes the significance filter), so
    combined output carries ~1 such pseudo-row per legacy year.
    Reproduced, not sanitized — same stance as the year-includes filter
    quirk (plans/pipeline.py)."""
    start, end = maps.HEADER_WINDOWS[year]
    cols = collapse_headers(grid, start, end)
    data = grid[end:]
    width = len(cols)
    rows = [list(r[:width]) + [None] * (width - len(r)) for r in data]
    pdf = pd.DataFrame(rows, columns=cols)
    pdf = pdf.dropna(axis=1, how="all")
    if "" in pdf.columns:
        pdf = pdf.drop(columns=[""])
    return pdf.rename(columns=maps.LEGACY_COLUMN_CANON)


def cleanse_numeric_series(s: pd.Series) -> pd.Series:
    """Driver-side twin of functions.scalar.cleanse_numeric (F5)."""
    t = s.astype(str).str.replace(",", "", regex=False)
    t = t.map(lambda v: _DASH_RE.sub("-", v))
    t = t.map(lambda v: _ACCT_NEG_RE.sub(r"-\1", v))
    return pd.to_numeric(t, errors="coerce")


def tidy_2024_to_frame(grid: list[list]) -> pd.DataFrame:
    """Tidy-era adapter: the first row is the flat header; canonical rename,
    keep only mapped columns, cleanse dirty numerics (reference
    assets.py:141-165)."""
    header = [str(c) if c is not None else "" for c in grid[0]]
    out = pd.DataFrame(grid[1:], columns=header).rename(columns=maps.TIDY_2024_COLUMN_CANON)
    keep = [c for c in maps.TIDY_2024_COLUMN_CANON.values() if c in out.columns]
    out = out.loc[:, keep]
    for c in maps.TIDY_2024_NUMERIC_COLS:
        if c in out.columns:
            out[c] = cleanse_numeric_series(out[c])
    return out


def _to_canonical(pdf: pd.DataFrame, year: int) -> pd.DataFrame:
    """Coerce an adapter frame onto the canonical fact schema (missing
    measures → null, extra columns dropped, measures numeric).

    Dimension cells become ``str`` (missing → ``None``): a number in
    ``state`` would fail the year's Arrow conversion in ``ingest_grids``
    and quarantine the whole year.  Columns follow
    ``schema.aspep_raw_schema()`` order."""
    out = pd.DataFrame()
    out["index"] = pd.Series(range(len(pdf)), dtype="int64")
    for dim in ("state", "gov_function"):
        cells = pdf.get(dim, pd.Series(dtype=object)).reset_index(drop=True)
        out[dim] = cells.map(lambda v: None if pd.isna(v) else str(v)).astype(object)
    out["year"] = int(year)  # trust the filename, not the sheet (assets.py:302)
    for m in schema.MEASURE_COLS:
        out[m] = (
            pd.to_numeric(pdf[m], errors="coerce").reset_index(drop=True)
            if m in pdf.columns
            else float("nan")
        )
    return out


def grid_to_canonical(grid: list[list], year: int) -> pd.DataFrame:
    """The era dispatch: a year in ``maps.HEADER_WINDOWS`` takes the legacy
    adapter, any other year the tidy one; both land on the canonical
    schema."""
    if year in maps.HEADER_WINDOWS:
        frame = legacy_grid_to_frame(grid, year)
    else:
        frame = tidy_2024_to_frame(grid)
    return _to_canonical(frame, year)


def parse_workbook_files(files) -> tuple[dict[int, pd.DataFrame], list[dict]]:
    """Parse ``(year, path)`` workbook files into canonical frames
    (driver-side).  A file that fails to read or parse is quarantined with
    its year, path and reason, not fatal (reference assets.py:317-320)."""
    frames: dict[int, pd.DataFrame] = {}
    bad: list[dict] = []
    for year, path in files:
        year = int(year)
        try:
            with open(path, "rb") as f:
                frames[year] = parse_workbook_bytes(f.read(), path, year)
        except Exception as exc:  # noqa: BLE001 — quarantine
            bad.append({"year": year, "file": path, "reason": str(exc)})
    return frames, bad


def grids_from_raw_dir(raw_dir: str) -> tuple[dict[int, pd.DataFrame], list[dict]]:
    """Parse every ``aspep_{year}.xls[x]`` workbook in a directory into
    canonical frames (``parse_workbook_files``)."""
    names = sorted(os.listdir(raw_dir))
    matches = [re.match(r"aspep_(\d{4})\.(xlsx?|XLSX?)$", n) for n in names]
    return parse_workbook_files(
        (m.group(1), os.path.join(raw_dir, m.string)) for m in matches if m
    )


def _read_grid(raw: bytes, filename: str, year: int) -> list[list]:
    """Excel bytes → positional grid: ``xlsx_lite`` for OOXML ``.xlsx``,
    ``xls_lite`` for BIFF ``.xls``."""
    sheet = maps.SHEET_NAMES.get(year)
    if filename.lower().endswith(".xlsx"):
        return read_xlsx_grid(raw, sheet_name=sheet)
    return read_xls_grid(raw, sheet_name=sheet)


def parse_workbook_bytes(raw: bytes, filename: str, year: int) -> pd.DataFrame:
    """Parse Excel bytes → canonical pandas frame (``grid_to_canonical``)."""
    return grid_to_canonical(_read_grid(raw, filename, year), year)


def ingest_grids(
    spark: SparkSession,
    frames_by_year: dict[int, pd.DataFrame],
    census_dim: DataFrame | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Driver-side ingest of canonical year frames (the frames
    ``parse_workbook_files`` returns).  Returns the normalized canonical
    fact DataFrame plus the quarantine list; ``normalize_fact`` keeps only
    the ``maps.START_YEAR``–``maps.END_YEAR`` window.

    Each year is converted to its own Arrow table with
    ``schema.aspep_raw_schema()`` (columns matched by name, NaN → null), so
    a year that fails to convert is quarantined alone.  The tables are
    concatenated and handed to ONE ``createDataFrame``: a constant number
    of JVM calls, where a conversion per year plus their union cost ~25
    py4j round trips a year.  Spark holds the table as one local relation
    scanned in at most ``defaultParallelism`` partitions, so the store
    writer runs that many tasks, not N years × cores tasks writing files
    of a few rows each.
    """
    from ..plans.pipeline import normalize_fact

    raw_schema = schema.aspep_raw_schema()
    arrow_schema = to_arrow_schema(raw_schema)
    tables: list[pa.Table] = []
    bad: list[dict] = []
    for year, pdf in sorted(frames_by_year.items()):
        try:
            tables.append(pa.Table.from_pandas(pdf, schema=arrow_schema, preserve_index=False))
        except Exception as exc:  # noqa: BLE001 — quarantine, don't abort
            bad.append({"year": year, "reason": str(exc)})
    table = pa.concat_tables(tables) if tables else arrow_schema.empty_table()
    raw_fact = spark.createDataFrame(table, schema=raw_schema)
    return normalize_fact(raw_fact, census_dim), bad
