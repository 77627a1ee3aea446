"""Minimal XLSX report writer — stdlib only (zipfile + XML).

Graft of the reference's Excel export (/root/reference/README.md:29,
custom template noted in documents/실증적SW개발프로젝트_주간보고일지_
11주차.md:67): the per-batch human-facing report with one row per record
and per-model result columns. openpyxl is not installed in this
container; an .xlsx file is a ZIP of OOXML parts, and inline-string
worksheets need no shared-string table, so the writer below produces a
spec-valid workbook from the standard library alone.

Scale note: Excel is a REPORT surface, not a data sink — the reference
exports batch reports of hundreds of rows, and the format itself caps a
sheet at 1,048,576 rows. ``ExtractWriter.export_xlsx`` therefore
collects at most ``limit`` rows to the driver (explicit, documented cap)
while the actual data path stays in Iceberg/Parquet.
"""

from __future__ import annotations

import re
import zipfile
from collections.abc import Iterable, Sequence

XLSX_MAX_ROWS = 1_048_576

_XML_BAD = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")

_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
</Types>"""

_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

_WORKBOOK = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
<sheets><sheet name="extracted" sheetId="1" r:id="rId1"/></sheets>
</workbook>"""

_WORKBOOK_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
</Relationships>"""


def _esc(s: str) -> str:
    s = _XML_BAD.sub("", s)
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def col_letter(i: int) -> str:
    """0-based column index -> A, B, ..., Z, AA, AB, ..."""
    out = ""
    i += 1
    while i:
        i, rem = divmod(i - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def _cell(ri: int, ci: int, v) -> str:
    ref = f"{col_letter(ci)}{ri}"
    if v is None:
        return f'<c r="{ref}"/>'
    if isinstance(v, bool):
        return f'<c r="{ref}" t="b"><v>{int(v)}</v></c>'
    if isinstance(v, (int, float)):
        return f'<c r="{ref}"><v>{v!r}</v></c>'
    return (
        f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
        f"{_esc(str(v))}</t></is></c>"
    )


def write_xlsx(
    path: str,
    columns: Sequence[str],
    rows: Iterable[Sequence],
) -> int:
    """Write rows to ``path`` as a single-sheet .xlsx. Returns the number
    of data rows written. Raises if the sheet would exceed the format's
    row limit — callers cap upstream (this is a report, not a sink)."""
    parts = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>']
    parts.append(
        '<worksheet xmlns="http://schemas.openxmlformats.org/'
        'spreadsheetml/2006/main"><sheetData>'
    )
    parts.append(
        '<row r="1">'
        + "".join(_cell(1, ci, c) for ci, c in enumerate(columns))
        + "</row>"
    )
    n = 0
    for row in rows:
        n += 1
        if n + 1 > XLSX_MAX_ROWS:
            raise ValueError(
                f"xlsx sheet limit is {XLSX_MAX_ROWS} rows; cap the "
                "export (this format is a report, not a data sink)"
            )
        ri = n + 1
        parts.append(
            f'<row r="{ri}">'
            + "".join(_cell(ri, ci, v) for ci, v in enumerate(row))
            + "</row>"
        )
    parts.append("</sheetData></worksheet>")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", _CONTENT_TYPES)
        z.writestr("_rels/.rels", _RELS)
        z.writestr("xl/workbook.xml", _WORKBOOK)
        z.writestr("xl/_rels/workbook.xml.rels", _WORKBOOK_RELS)
        z.writestr("xl/worksheets/sheet1.xml", "".join(parts))
    return n


def read_xlsx(path: str) -> tuple[list[str], list[list]]:
    """Parse a sheet written by ``write_xlsx`` back into (columns, rows)
    — the test-side round-trip reader (stdlib ElementTree)."""
    import xml.etree.ElementTree as ET

    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(path) as z:
        root = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))

    def ci_of(ref: str) -> int:
        letters = "".join(ch for ch in ref if ch.isalpha())
        i = 0
        for ch in letters:
            i = i * 26 + (ord(ch) - ord("A") + 1)
        return i - 1

    out: list[dict[int, object]] = []
    width = 0
    for row in root.iter(f"{ns}row"):
        vals: dict[int, object] = {}
        for c in row.iter(f"{ns}c"):
            ci = ci_of(c.get("r", "A1"))
            width = max(width, ci + 1)
            t = c.get("t")
            if t == "inlineStr":
                el = c.find(f"{ns}is/{ns}t")
                vals[ci] = "" if el is None else (el.text or "")
            else:
                v = c.find(f"{ns}v")
                raw = None if v is None else v.text
                if raw is None:
                    vals[ci] = None
                elif t == "b":
                    vals[ci] = bool(int(raw))
                else:
                    vals[ci] = float(raw) if "." in raw else int(raw)
        out.append(vals)
    dense = [[r.get(i) for i in range(width)] for r in out]
    return [str(c) for c in dense[0]], dense[1:]
