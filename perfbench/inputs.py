"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives the
same bytes.  Nothing imports Spark, so generation runs (and is cached)
before any session exists and stays out of ``setup_s``.

- ``aspep_workbooks``: one ``.xlsx`` per ASPEP year 2003-2024 in that
  year's own layout (``maps.HEADER_WINDOWS`` header window; 2024 is the
  tidy ``Data`` sheet), function spellings drawn per year from
  ``maps.GOV_FUNCTION_CANON``, dirty numeric cells, gap years.  Every
  (state, gov_function, year) key appears at most once.
- ``write_tables``: the TESTDATA.md star schema plus ``events``,
  ``documents`` and ``embeddings``, with the value domains of the
  committed sf0.01 / sf0.1 sets, as single-row-group parquet files.
"""

from __future__ import annotations

import io
import os
import re
import zipfile
from xml.sax.saxutils import escape

import numpy as np

YEARS = tuple(range(2003, 2025))

# --------------------------------------------------------------------------
# ASPEP workbooks
# --------------------------------------------------------------------------

# Legacy-era header phrasings (three header rows per measure column).  Each
# collapses through ``excel.collapse_headers`` (join, strip "(...)",
# slugify) to a key of ``maps.LEGACY_COLUMN_CANON``; the era picks which.
_LEGACY_HEADERS = {
    "ft_employment": [("Full-time", "", "employees"), ("Full-time", "", "employment")],
    "ft_pay": [("Full-time", "", "pay (in dollars)"), ("Full-time", "", "payroll")],
    "pt_employment": [("Part-time", "", "employees"), ("Part-time", "", "employment")],
    "pt_pay": [("Part-time", "", "pay (in dollars)"), ("Part-time", "", "payroll")],
    "pt_hour": [("Part-time", "", "hours")],
    "ft_eq_employment": [("Full-time", "equivalent", "employment")],
    "ft_pt_employment": [
        ("Full-time and", "part-time", "employment"),
        ("Total full-time and", "part-time", "employment"),
    ],
    "total_pay": [("March", "", "pay"), ("Total", "March", "payroll"), ("Total", "", "payroll")],
}

_TIDY_HEADERS = {
    "ft_employment": "Full-Time Employment",
    "ft_pay": "Full-Time Payroll",
    "pt_employment": "Part-Time Employment",
    "pt_pay": "Part-Time Payroll",
    "pt_hour": "Part-Time Hours",
    "ft_eq_employment": "Full-Time Equivalent Employment",
    "ft_pt_employment": "Total Full-Time and Part-Time Employment",
    "total_pay": "Total Full-Time and Part-Time Payroll",
}

_DIRT = ("-", "(S)", "X", None)


def _col_ref(idx: int) -> str:
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(65 + rem) + out
    return out


def _cell(ref: str, value) -> str:
    if value is None:
        return ""
    if isinstance(value, (int, float)):
        return f'<c r="{ref}"><v>{value}</v></c>'
    return f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(value))}</t></is></c>'


def xlsx_bytes(rows: list[list], sheet: str) -> bytes:
    """A minimal one-sheet OOXML workbook (inline strings, numeric cells)."""
    body = "".join(
        f'<row r="{r + 1}">'
        + "".join(_cell(f"{_col_ref(c)}{r + 1}", v) for c, v in enumerate(row))
        + "</row>"
        for r, row in enumerate(rows)
    )
    ns = "http://schemas.openxmlformats.org/"
    parts = {
        "[Content_Types].xml": (
            f'<Types xmlns="{ns}package/2006/content-types">'
            f'<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            f'<Default Extension="xml" ContentType="application/xml"/>'
            f'<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            f'<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            "</Types>"
        ),
        "_rels/.rels": (
            f'<Relationships xmlns="{ns}package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{ns}officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>"
        ),
        "xl/workbook.xml": (
            f'<workbook xmlns="{ns}spreadsheetml/2006/main" xmlns:r="{ns}officeDocument/2006/relationships">'
            f'<sheets><sheet name="{escape(sheet)}" sheetId="1" r:id="rId1"/></sheets></workbook>'
        ),
        "xl/_rels/workbook.xml.rels": (
            f'<Relationships xmlns="{ns}package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{ns}officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>"
        ),
        "xl/worksheets/sheet1.xml": (
            f'<worksheet xmlns="{ns}spreadsheetml/2006/main"><sheetData>{body}</sheetData></worksheet>'
        ),
    }
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, xml in parts.items():
            z.writestr(name, '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>' + xml)
    return buf.getvalue()


def _function_spellings(maps) -> dict[str, list[str]]:
    """Canonical gov_function → every spelling that recodes to it."""
    out: dict[str, list[str]] = {}
    for variant, canon in sorted(maps.GOV_FUNCTION_CANON.items()):
        out.setdefault(canon, [canon]).append(variant)
    return out


def _dirty_name(rng, name: str) -> str:
    """Casing and padding dirt that ``normalize_dim`` (trim + lower) undoes."""
    pick = rng.integers(4)
    name = (name.title(), name.upper(), name, name.capitalize())[pick]
    return (" " * int(rng.integers(2))) + name + (" " * int(rng.integers(2)))


def aspep_workbooks(seed: int, n_states: int, n_functions: int) -> dict[int, bytes]:
    """Year → ``.xlsx`` bytes for the US rollup plus ``n_states`` states ×
    ``n_functions`` canonical functions × 2003-2024, seeded."""
    from aspep_etl_spark import maps

    rng = np.random.default_rng(seed)
    spellings = _function_spellings(maps)
    functions = sorted(spellings)[:n_functions]
    names = sorted(n for n in maps.STATE_NAME_TO_CODE if n != "united states")
    states = names[:: max(1, len(names) // n_states)][:n_states] + ["united states"]
    base = {
        (s, f): rng.lognormal(7.0, 1.0) * (40.0 if s == "united states" else 1.0)
        for s in states
        for f in functions
    }
    books: dict[int, bytes] = {}
    for year in YEARS:
        tidy = year not in maps.HEADER_WINDOWS
        spelled = {f: spellings[f][int(rng.integers(len(spellings[f])))] for f in functions}
        rows = []
        for s in states:
            for f in functions:
                if s != "united states" and rng.random() < 0.03:
                    continue  # gap year: exercises the positional lag
                rows.append([_dirty_name(rng, s), _dirty_name(rng, spelled[f])]
                            + _measures(rng, base[(s, f)] * (1.02 ** (year - 2003)), tidy))
        order = rng.permutation(len(rows))
        rows = [rows[i] for i in order]
        if tidy:
            header = ["Geographic Area Name", "Meaning of Aggregate Description"]
            header += [_TIDY_HEADERS[m] for m in _TIDY_HEADERS] + ["Unmapped API Field"]
            grid = [header] + [r + ["x"] for r in rows]
            books[year] = xlsx_bytes(grid, "Data")
            continue
        start, end = maps.HEADER_WINDOWS[year]
        era = int(year >= 2012)
        header_rows = [["", ""], ["", ""], ["State", "Function"]]
        for m, variants in _LEGACY_HEADERS.items():
            parts = variants[min(era, len(variants) - 1)]
            for i in range(3):
                header_rows[i].append(parts[i])
        junk = [[f"{year} Annual Survey of Public Employment & Payroll"], [f"March {year}"]]
        junk += [[]] * max(0, start - len(junk))
        grid = junk[:start] + header_rows + rows
        books[year] = xlsx_bytes(grid, f"aspep{year}")
    return books


def _measures(rng, scale: float, tidy: bool) -> list:
    """Eight integer-valued measures in ``_LEGACY_HEADERS`` order, ~2% of
    cells dirty; the tidy era writes comma-grouped strings."""
    ft_emp = float(round(scale))
    if rng.random() < 0.02:
        ft_emp = 0.0  # division-guard path
    pt_emp = float(round(ft_emp * rng.uniform(0.1, 0.5)))
    ft_pay = float(round(ft_emp * rng.normal(5200, 900)))
    pt_pay = float(round(pt_emp * rng.normal(1600, 300)))
    pt_hour = float(round(pt_emp * rng.uniform(40, 90)))
    ft_eq = float(round(ft_emp + 0.3 * pt_emp))
    vals = [ft_emp, ft_pay, pt_emp, pt_pay, pt_hour, ft_eq, ft_emp + pt_emp, ft_pay + pt_pay]
    out: list = []
    for v in vals:
        if rng.random() < 0.02:
            out.append(_DIRT[int(rng.integers(len(_DIRT)))])
        elif tidy:
            out.append(f"{int(v):,}")
        else:
            out.append(int(v))
    return out


def workbook_url(year: int) -> str:
    return f"https://example.invalid/apes/aspep_{year}.xlsx"


def landing_page(url: str) -> str | None:
    """The census page for the year in ``url``: the ``fetch`` seam of
    ``run_aspep_job``, so the scrape step parses real anchors offline.
    Years with no workbook have no page, as upstream."""
    year = int(re.search(r"(20\d\d)", url).group(1))
    if year not in YEARS:
        return None
    return (
        "<html><body><a href='/other.pdf'>Methodology</a>"
        f"<a href='{workbook_url(year)}'>State Government Employment &amp; Payroll Data</a>"
        "</body></html>"
    )


def workbook_fetcher(books: dict[int, bytes]):
    """The ``fetch_bytes`` seam: serve the generated workbook for a URL."""
    return lambda url: books.get(int(re.search(r"aspep_(\d{4})", url).group(1)))


# --------------------------------------------------------------------------
# Query tables
# --------------------------------------------------------------------------

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _write(table, path: str) -> None:
    import pyarrow.parquet as pq

    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def write_tables(seed: int, out_dir: str, sf: float, docs: int) -> None:
    """Write the ten TESTDATA.md tables at scale factor ``sf`` (lineitem
    ≈ 6M × sf rows) with ``docs`` documents, seeded."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), max(10, int(10_000 * sf))
    n_ev, n_users, n_emb = int(1_000_000 * sf), max(150, int(15_000 * sf)), max(500, docs // 2)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def ts(start: str, days: float, n: int, sort: bool = False):
        us = rng.integers(0, int(days * 86_400_000_000), n)
        us = np.sort(us) if sort else us
        return pa.array(np.datetime64(start, "us") + us.astype("timedelta64[us]"))

    def dates(start: str, days: int, n: int):
        d = np.datetime64(start, "D") + rng.integers(0, days, n).astype("timedelta64[D]")
        return pa.array(d.astype("datetime64[us]"))

    def pick(values, n):
        return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])

    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    tables = {
        "region": pa.table({"r_regionkey": i32(range(5)),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({"n_nationkey": i32(range(25)),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": i32([i % 5 for i in range(25)])}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                pick(["blue", "red", "cold", "hot", "small", "large", "new", "old"], n_part).to_pylist(),
                pick(["ring", "plate", "gear", "rod", "bolt", "anvil", "widget"], n_part).to_pylist())],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": dates("1995-01-01", 2404, n_ord),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": i32(rng.integers(1, 8, n_li)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            # Whole dollars: every discounted line is then whole cents, so
            # no revenue sum sits on a half cent, where round(x, 2) in
            # Spark (HALF_UP of the decimal form) and DuckDB (scaled
            # double) disagree and q3_top_orders would miss its oracle.
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li)),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["F", "O"], n_li),
            "l_shipdate": dates("1995-01-02", 2498, n_li),
        }),
        "events": pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts("2024-01-01", 30, n_ev, sort=True),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": pick(["click", "view", "purchase", "signup", "error"], n_ev),
            "value": money(0.0, 100.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        "documents": _documents(rng, docs),
        "embeddings": _embeddings(rng, n_emb),
    }
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int):
    """Uniform 30-word vocabulary text; 5% of documents are an earlier
    document plus the word ``dup`` (the near-duplicates dedup finds)."""
    import pyarrow as pa

    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(12, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"], dtype=object)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": pa.array(langs[rng.integers(0, len(langs), n)]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int, dim: int = 64):
    """Unit-norm float32 vectors around ten labelled centroids."""
    import pyarrow as pa

    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
