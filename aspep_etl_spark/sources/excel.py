"""Ingest adapters for ASPEP workbooks (SURVEY.md §2.1 S5/S6, §7.3).

Two raw layouts exist:

- **legacy era (≤2023)**: multi-row header windows at year-specific offsets
  (``maps.HEADER_WINDOWS``), junk rows above, positional grid.
- **tidy era (2024+)**: flat headers named by ``maps.TIDY_2024_COLUMN_CANON``
  keys, dirty numeric strings.

The adapters are written grid-first: ``(grid, year) → canonical pandas
frame`` where a grid is ``list[list]`` of raw cell values.  That keeps the
header-collapse/slugify/rename logic independent of any Excel parser —
driver-side ``pd.read_excel`` feeds it when openpyxl/xlrd exist (they are
optional), the stdlib readers ``xlsx_lite`` (OOXML) and ``xls_lite`` (BIFF
``.xls``) feed it otherwise, and the same function runs inside
``mapInPandas`` over a ``binaryFile`` scan for many-file scale
(``ingest_binary_workbooks``).

Reference behavior reproduced: process_aspep/assets.py:115-165 (both
adapters), 270-333 (per-year loop with quarantine).
"""

from __future__ import annotations

import io
import os
import re

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from .. import maps, schema
from ..functions.scalar import slugify_py

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


def tidy_2024_to_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """Tidy-era adapter: canonical rename, keep only mapped columns, cleanse
    dirty numerics (reference assets.py:141-165)."""
    out = pdf.rename(columns=maps.TIDY_2024_COLUMN_CANON)
    keep = [c for c in maps.TIDY_2024_COLUMN_CANON.values() if c in out.columns]
    out = out.loc[:, keep]
    for c in maps.TIDY_2024_NUMERIC_COLS:
        if c in out.columns:
            out[c] = cleanse_numeric_series(out[c])
    return out


def _to_canonical(pdf: pd.DataFrame, year: int) -> pd.DataFrame:
    """Coerce an adapter frame onto the canonical fact schema (missing
    measures → null, extra columns dropped, measures numeric)."""
    # Column order must mirror schema.aspep_raw_schema() — pandas→Spark
    # conversion with an explicit schema aligns by position.
    out = pd.DataFrame()
    out["index"] = pd.Series(range(len(pdf)), dtype="int64")
    out["state"] = pdf.get("state", pd.Series(dtype=object)).reset_index(drop=True).astype(object)
    out["gov_function"] = (
        pdf.get("gov_function", pd.Series(dtype=object)).reset_index(drop=True).astype(object)
    )
    out["year"] = int(year)  # trust the filename, not the sheet (assets.py:302)
    for m in schema.MEASURE_COLS:
        out[m] = (
            pd.to_numeric(pdf[m], errors="coerce").reset_index(drop=True)
            if m in pdf.columns
            else float("nan")
        )
    return out


def parse_workbook_files(files) -> tuple[dict[int, pd.DataFrame], list[dict]]:
    """Parse ``(year, path)`` workbook files into canonical frames
    (driver-side).  A file that fails to read or parse is quarantined with
    its year, path and reason, not fatal (reference assets.py:317-320)."""
    grids: dict[int, pd.DataFrame] = {}
    bad: list[dict] = []
    for year, path in files:
        year = int(year)
        try:
            with open(path, "rb") as f:
                grids[year] = parse_workbook_bytes(f.read(), path, year)
        except Exception as exc:  # noqa: BLE001 — quarantine
            bad.append({"year": year, "file": path, "reason": str(exc)})
    return grids, bad


def grids_from_raw_dir(raw_dir: str) -> tuple[dict[int, pd.DataFrame], list[dict]]:
    """Parse every ``aspep_{year}.xls[x]`` workbook in a directory into
    canonical frames (``parse_workbook_files``)."""
    names = sorted(os.listdir(raw_dir))
    matches = [re.match(r"aspep_(\d{4})\.(xlsx?|XLSX?)$", n) for n in names]
    return parse_workbook_files(
        (m.group(1), os.path.join(raw_dir, m.string)) for m in matches if m
    )


def _read_grid(raw: bytes, filename: str, year: int) -> list[list]:
    """Excel bytes → positional grid.  Prefers pandas engines (openpyxl /
    xlrd) when installed; falls back to the stdlib readers: ``xlsx_lite``
    for OOXML .xlsx, ``xls_lite`` for BIFF .xls."""
    engine = "openpyxl" if filename.lower().endswith(".xlsx") else "xlrd"
    sheet = maps.SHEET_NAMES.get(year)
    try:
        kwargs: dict = {"engine": engine, "header": None}
        if sheet:
            kwargs["sheet_name"] = sheet
        return pd.read_excel(io.BytesIO(raw), **kwargs).values.tolist()
    except ImportError:
        if engine == "openpyxl":
            from .xlsx_lite import read_xlsx_grid

            return read_xlsx_grid(raw, sheet_name=sheet)
        from .xls_lite import read_xls_grid

        return read_xls_grid(raw, sheet_name=sheet)


def parse_workbook_bytes(raw: bytes, filename: str, year: int) -> pd.DataFrame:
    """Parse Excel bytes → canonical pandas frame (era dispatch per
    ``maps.HEADER_WINDOWS``)."""
    grid = _read_grid(raw, filename, year)
    if year in maps.HEADER_WINDOWS:
        frame = legacy_grid_to_frame(grid, year)
    else:
        # tidy era: first row is the flat header
        header = [str(c) if c is not None else "" for c in grid[0]]
        frame = tidy_2024_to_frame(pd.DataFrame(grid[1:], columns=header))
    return _to_canonical(frame, year)


def ingest_grids(
    spark: SparkSession,
    grids_by_year: dict[int, object],
    census_dim: DataFrame | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Driver-side ingest of pre-parsed per-year raw data.

    ``grids_by_year`` values are either a positional grid (legacy era) or a
    flat-header pandas frame (tidy era).  Bad years are quarantined, not
    fatal (reference assets.py:317-320).  Returns the normalized canonical
    fact DataFrame plus the quarantine list.

    Each year is converted by its own ``createDataFrame``, so a year whose
    frame fails the Arrow path (e.g. a numeric cell in ``state``) falls
    back alone, and a year that fails outright is quarantined alone.  Each
    conversion slices its frame into ``defaultParallelism`` partitions, so
    the union is coalesced back to ``defaultParallelism`` (no shuffle; the
    driver already holds every row) — otherwise N years reach the store
    writer as N × cores tasks and files of a few rows each.
    """
    from ..operators.setops import union_by_name
    from ..plans.pipeline import normalize_fact

    frames: list[DataFrame] = []
    bad: list[dict] = []
    for year, raw in sorted(grids_by_year.items()):
        if not (maps.START_YEAR <= int(year) < maps.END_YEAR):
            continue
        try:
            if isinstance(raw, pd.DataFrame):
                raw_cols = set(schema.aspep_raw_schema().fieldNames())
                if raw_cols <= set(raw.columns):
                    pdf = raw[schema.aspep_raw_schema().fieldNames()]  # pre-canonicalized
                else:
                    pdf = _to_canonical(tidy_2024_to_frame(raw), year)
            else:
                pdf = _to_canonical(legacy_grid_to_frame(raw, int(year)), year)
            frames.append(spark.createDataFrame(pdf, schema=schema.aspep_raw_schema()))
        except Exception as exc:  # noqa: BLE001 — quarantine, don't abort
            bad.append({"year": year, "reason": str(exc)})
    if not frames:
        empty = spark.createDataFrame([], schema.aspep_raw_schema())
        return empty, bad
    raw_fact = union_by_name(frames).coalesce(spark.sparkContext.defaultParallelism)
    return normalize_fact(raw_fact, census_dim), bad


def ingest_binary_workbooks(
    spark: SparkSession, path_glob: str, census_dim: DataFrame | None = None
) -> DataFrame:
    """Scale path: many workbooks via the ``binaryFile`` source with the
    same adapter running in executors (Arrow-batched).

    File-name convention ``*_{year}.xls[x]`` supplies the year stamp.  At
    22 files this is overkill (driver-side ``ingest_grids`` wins), but at
    100k workbooks it is the only shape that works — scan parallelism,
    task retry, and quarantine-by-row all come from Spark.
    """
    from ..plans.pipeline import normalize_fact

    binf = spark.read.format("binaryFile").load(path_glob)

    def parse_partition(batches):
        for pdf in batches:
            out = []
            for path, raw in zip(pdf["path"], pdf["content"]):
                m = re.search(r"(\d{4})\.(xlsx?|XLSX?)$", path)
                if not m:
                    continue
                year = int(m.group(1))
                try:
                    out.append(parse_workbook_bytes(bytes(raw), path, year))
                except Exception:  # noqa: BLE001 — quarantine
                    continue
            if out:
                yield pd.concat(out, ignore_index=True)

    parsed = binf.select("path", "content").mapInPandas(
        parse_partition, schema=schema.aspep_raw_schema()
    )
    return normalize_fact(parsed, census_dim)
