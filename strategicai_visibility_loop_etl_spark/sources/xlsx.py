"""Minimal driver-side .xlsx reader: zip + SpreadsheetML XML, no engine.

Covers the string-typed ingest contract of reference etl_merge.py:88-108
(``pandas.read_excel(dtype=str)``) with the standard library only:
every cell surfaces as a string or None. Handled cell types: shared strings
(``t="s"``), inline strings (``t="inlineStr"``), cached formula strings
(``t="str"``), booleans (``t="b"`` → TRUE/FALSE), and raw numeric text.
Number FORMATS are not interpreted — a date-styled cell surfaces its
raw serial-number text (the engine's string-first ingest coerces
explicitly downstream, so silent locale-dependent date rendering would
be worse than the raw value).

Excel exports in this domain are small config-ish files (the at-scale
path is CSV/parquet), so a bounded driver-side parse is the right
boundary — the same call structure the reference uses via pandas.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
import zipfile

_MAIN = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"


def _col_index(ref: str | None, fallback: int) -> int:
    """'C7' → 2; cells without an ``r`` attribute fall back to the next
    sequential slot (writers may omit it)."""
    if not ref:
        return fallback
    m = re.match(r"([A-Za-z]+)", ref)
    if not m:
        return fallback
    n = 0
    for ch in m.group(1).upper():
        n = n * 26 + (ord(ch) - 64)
    return n - 1


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        data = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    root = ET.fromstring(data)
    # A <si> may hold one <t> or rich-text <r> runs; concatenate all <t>.
    return [
        "".join(t.text or "" for t in si.iter(f"{_MAIN}t"))
        for si in root.findall(f"{_MAIN}si")
    ]


def _first_sheet_member(zf: zipfile.ZipFile) -> str:
    """Resolve the first sheet in workbook order through the rels table
    (sheet1.xml by convention, but the mapping is authoritative)."""
    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    sheets = wb.find(f"{_MAIN}sheets")
    if sheets is None or len(sheets) == 0:
        raise ValueError("xlsx has no sheets")
    rid = sheets[0].get(f"{_REL}id")
    rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    for rel in rels:
        if rel.get("Id") == rid:
            target = rel.get("Target") or ""
            return target.lstrip("/") if target.startswith("/") else f"xl/{target}"
    raise ValueError(f"xlsx workbook rel {rid!r} not found")


def _cell_value(c: ET.Element, shared: list[str]) -> str | None:
    t = c.get("t", "n")
    if t == "inlineStr":
        is_el = c.find(f"{_MAIN}is")
        if is_el is None:
            return None
        return "".join(x.text or "" for x in is_el.iter(f"{_MAIN}t"))
    v = c.find(f"{_MAIN}v")
    if v is None or v.text is None:
        return None
    if t == "s":
        return shared[int(v.text)]
    if t == "b":
        return "TRUE" if v.text.strip() == "1" else "FALSE"
    return v.text  # "n" numeric / "str" formula result / "e" error text


def read_xlsx_rows(source) -> list[list[str | None]]:
    """All rows of the first sheet as string-or-None lists.

    ``source`` is a filesystem path or a binary file-like (anything
    ``zipfile.ZipFile`` accepts). Rows are ragged exactly as stored
    (trailing empty cells absent); callers pad to the header width.
    """
    with zipfile.ZipFile(source) as zf:
        shared = _shared_strings(zf)
        root = ET.fromstring(zf.read(_first_sheet_member(zf)))
        sheet_data = root.find(f"{_MAIN}sheetData")
        rows: list[list[str | None]] = []
        for row in sheet_data if sheet_data is not None else []:
            vals: list[str | None] = []
            next_idx = 0
            for c in row.findall(f"{_MAIN}c"):
                idx = _col_index(c.get("r"), next_idx)
                while len(vals) < idx:
                    vals.append(None)
                val = _cell_value(c, shared)
                if idx < len(vals):
                    vals[idx] = val
                else:
                    vals.append(val)
                next_idx = idx + 1
            rows.append(vals)
        return rows
