"""Minimal stdlib XLSX grid reader (zipfile + ElementTree).

The engine's Excel adapters are grid-first (``excel.grid_to_canonical``);
this reader is their one OOXML source, from the standard library alone —
enough to ingest the reference's real 2020+ ``.xlsx`` workbooks and
reproduce its golden values.  Legacy BIFF ``.xls`` (≤2019) goes through
its stdlib sibling, ``xls_lite``.

Supports exactly what the ASPEP workbooks need: first worksheet (workbook
order), shared strings, inline strings, numeric cells, sparse rows/cells
via ``r`` references.  Not a general xlsx library.

Feeds the grid adapters that reproduce the reference's Excel ingestion
(process_aspep/assets.py:287-294; config constants.py:1-27; SURVEY.md
§2.1 S6, §7.3).
"""

from __future__ import annotations

import io
import re
import xml.etree.ElementTree as ET
import zipfile

NS = {
    "m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main",
    "r": "http://schemas.openxmlformats.org/officeDocument/2006/relationships",
}
_CELL_REF = re.compile(r"([A-Z]+)(\d+)")


def _col_index(ref: str) -> int:
    n = 0
    for ch in ref:
        n = n * 26 + (ord(ch) - 64)
    return n - 1


def _shared_strings(z: zipfile.ZipFile) -> list[str]:
    try:
        root = ET.fromstring(z.read("xl/sharedStrings.xml"))
    except KeyError:
        return []
    out = []
    for si in root.findall("m:si", NS):
        out.append("".join(t.text or "" for t in si.iter(f"{{{NS['m']}}}t")))
    return out


def _first_sheet_path(z: zipfile.ZipFile, sheet_name: str | None = None) -> str:
    wb = ET.fromstring(z.read("xl/workbook.xml"))
    rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
    rel_map = {
        rel.attrib["Id"]: rel.attrib["Target"]
        for rel in rels.iter("{http://schemas.openxmlformats.org/package/2006/relationships}Relationship")
    }
    sheets = wb.findall("m:sheets/m:sheet", NS)
    chosen = sheets[0]
    if sheet_name is not None:
        for s in sheets:
            if s.attrib.get("name") == sheet_name:
                chosen = s
                break
    target = rel_map[chosen.attrib[f"{{{NS['r']}}}id"]]
    return target if target.startswith("xl/") else f"xl/{target}"


def read_xlsx_grid(raw: bytes, sheet_name: str | None = None) -> list[list]:
    """Parse xlsx bytes into a dense positional grid (list of row lists).

    Cell types: shared/inline strings → str, numbers → float, empty → None.
    """
    z = zipfile.ZipFile(io.BytesIO(raw))
    strings = _shared_strings(z)
    sheet_xml = z.read(_first_sheet_path(z, sheet_name))

    rows: dict[int, dict[int, object]] = {}
    max_col = 0
    for _, row in ET.iterparse(io.BytesIO(sheet_xml)):
        if row.tag != f"{{{NS['m']}}}row":
            continue
        r_idx = int(row.attrib["r"]) - 1
        cells: dict[int, object] = {}
        for c in row.findall("m:c", NS):
            ref = c.attrib.get("r", "")
            m = _CELL_REF.match(ref)
            if not m:
                continue
            col = _col_index(m.group(1))
            ctype = c.attrib.get("t", "n")
            if ctype == "inlineStr":
                is_el = c.find("m:is", NS)
                val = "".join(t.text or "" for t in is_el.iter(f"{{{NS['m']}}}t")) if is_el is not None else None
            else:
                v = c.find("m:v", NS)
                if v is None or v.text is None:
                    val = None
                elif ctype == "s":
                    val = strings[int(v.text)]
                elif ctype == "str":
                    val = v.text
                elif ctype == "b":
                    val = bool(int(v.text))
                else:
                    try:
                        val = float(v.text)
                    except ValueError:
                        val = v.text
            if val is not None:
                cells[col] = val
                max_col = max(max_col, col)
        if cells:
            rows[r_idx] = cells
        row.clear()

    n_rows = (max(rows) + 1) if rows else 0
    grid: list[list] = []
    for i in range(n_rows):
        row_cells = rows.get(i, {})
        grid.append([row_cells.get(j) for j in range(max_col + 1)])
    return grid
