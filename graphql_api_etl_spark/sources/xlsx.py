"""Pure-stdlib xlsx codec + distributed Excel source (reference S1,
ETL:255 — ``pd.read_excel`` of the weekly alignment workbook).

An .xlsx file is a zip of XML parts; this module reads them with
``zipfile`` + ``xml.etree`` only (no pandas/openpyxl — neither is
assumed present), which makes the EXECUTOR-side parse possible:

- :func:`read_excel_sheet` scans workbooks via Spark's ``binaryFile``
  source and parses each on an executor through ``mapInPandas`` — the
  driver never materializes sheet data. Parallelism is per workbook
  (a zip entry is not splittable), the right unit for the "directory
  of weekly drops" shape; a single 100 GB sheet is not a thing Excel
  itself supports (1,048,576-row hard cap).
- Cell values surface as strings (xlsx stores numbers as text anyway);
  pass ``schema`` to cast by column name after the parse, mirroring
  the declared-schema convention of the CSV source.
- :func:`write_xlsx` builds a minimal valid workbook (inline strings)
  so round-trip tests need no external library either.

Supported cell types: shared strings (``t="s"``), inline strings
(``t="inlineStr"``), formula/plain values (``<v>``), booleans
(``t="b"`` → "true"/"false"). Dates surface as their raw serial
numbers (cast downstream); formulas surface as their cached value.
"""

from __future__ import annotations

import re
import zipfile
from io import BytesIO
from xml.etree import ElementTree as ET

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"


def _col_index(cell_ref: str) -> int:
    """``"A1"`` → 0, ``"AB3"`` → 27 (column part only, 0-based)."""
    idx = 0
    for ch in cell_ref:
        if ch.isalpha():
            idx = idx * 26 + (ord(ch.upper()) - 64)
        else:
            break
    return idx - 1


def _sheet_part(zf: zipfile.ZipFile, sheet_name: str) -> str:
    """Resolve a sheet name to its worksheet part path via the
    workbook's relationship table."""
    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    rel_targets = {
        rel.get("Id"): rel.get("Target")
        for rel in rels
        if rel.get("Target", "").startswith(("worksheets/", "/xl/worksheets/"))
    }
    for sheet in wb.iter(f"{_NS}sheet"):
        if sheet.get("name") == sheet_name:
            target = rel_targets.get(sheet.get(f"{_REL_NS}id"), "")
            return target.lstrip("/") if target.startswith("/") else f"xl/{target}"
    names = [s.get("name") for s in wb.iter(f"{_NS}sheet")]
    raise KeyError(f"sheet {sheet_name!r} not in workbook (has {names})")


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
    except KeyError:
        return []
    out = []
    for si in root.iter(f"{_NS}si"):
        out.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
    return out


def _cell_value(cell: ET.Element, shared: list[str]) -> str | None:
    ctype = cell.get("t", "n")
    if ctype == "inlineStr":
        is_el = cell.find(f"{_NS}is")
        return "".join(t.text or "" for t in is_el.iter(f"{_NS}t")) if is_el is not None else None
    v = cell.find(f"{_NS}v")
    if v is None or v.text is None:
        return None
    if ctype == "s":
        return shared[int(v.text)]
    if ctype == "b":
        return "true" if v.text == "1" else "false"
    return v.text


def _row_values(row: ET.Element, shared: list[str]) -> list[str | None]:
    """One ``<row>``'s cell values by column, gaps as None."""
    vals: dict[int, str | None] = {}
    next_idx = 0
    for cell in row.iter(f"{_NS}c"):
        ref = cell.get("r")
        idx = _col_index(ref) if ref else next_idx
        next_idx = idx + 1
        vals[idx] = _cell_value(cell, shared)
    width = max(vals) + 1 if vals else 0
    return [vals.get(i) for i in range(width)]


def _header(row: list[str | None]) -> list[str]:
    return ["" if h is None else str(h) for h in row]


def parse_xlsx_sheet(payload: bytes, sheet_name: str) -> tuple[list[str], list[list[str | None]]]:
    """(header, data rows) of one sheet from workbook bytes. The first
    row is the header (``pd.read_excel`` default, which is what the
    reference relies on); rows are padded/truncated to header width."""
    with zipfile.ZipFile(BytesIO(payload)) as zf:
        shared = _shared_strings(zf)
        root = ET.fromstring(zf.read(_sheet_part(zf, sheet_name)))
        rows = [_row_values(row, shared) for row in root.iter(f"{_NS}row")]
    if not rows:
        return [], []
    header = _header(rows[0])
    width = len(header)
    data = [(r + [None] * width)[:width] for r in rows[1:]]
    return header, data


def sheet_header(path: str, sheet_name: str) -> list[str]:
    """Header row only (driver-side schema discovery): reads the shared
    strings and the sheet's XML part of ONE local file up to the end of
    its first ``<row>``; no data row is parsed."""
    with zipfile.ZipFile(path) as zf:
        shared = _shared_strings(zf)
        with zf.open(_sheet_part(zf, sheet_name)) as part:
            for _, el in ET.iterparse(part):
                if el.tag == f"{_NS}row":
                    return _header(_row_values(el, shared))
    return []


# ---------------------------------------------------------------------------
# Minimal writer (inline strings) — test/demo round-trips without libs
# ---------------------------------------------------------------------------

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    "</Types>"
)
_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    "</Relationships>"
)
_WB_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
    "</Relationships>"
)


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


_NUM_RE = re.compile(r"^-?\d+(\.\d+)?([eE][+-]?\d+)?$")


def write_xlsx(path: str, sheet_name: str, header: list[str], rows: list[list]) -> str:
    """Minimal single-sheet workbook: numbers as numeric cells,
    everything else as inline strings."""

    def cell_xml(v) -> str:
        if v is None:
            return "<c/>"
        if isinstance(v, bool):  # before numeric: bool is an int subclass
            return f'<c t="b"><v>{1 if v else 0}</v></c>'
        s = str(v)
        if not isinstance(v, str) or _NUM_RE.match(s):
            return f"<c><v>{_esc(s)}</v></c>"
        return f'<c t="inlineStr"><is><t xml:space="preserve">{_esc(s)}</t></is></c>'

    def row_xml(r) -> str:
        return "<row>" + "".join(cell_xml(v) for v in r) + "</row>"

    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
        + row_xml(header)
        + "".join(row_xml(r) for r in rows)
        + "</sheetData></worksheet>"
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f'<sheets><sheet name="{_esc(sheet_name)}" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", _CONTENT_TYPES)
        zf.writestr("_rels/.rels", _ROOT_RELS)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", _WB_RELS)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    return path
