"""S12: table-HTML → xlsx sink, pure stdlib (zipfile + minimal OOXML).

The reference converts recognized table HTML to Excel with
``to_excel(html, path)`` → ``tablepyxl.document_to_xl``
(ppstructure/table/predict_table.py:143-145, ppstructure/predict_system.py
:205-206): lxml-parse the table, place cells on a grid honoring
colspan/rowspan (merged cells), write an .xlsx. This module reimplements
that sink without openpyxl/lxml (absent here by design):

* :func:`parse_table_grid` — a lenient scanner in the spirit of lxml's
  recovering parser: rows are ``<tr>…</tr>`` segments, cells end at
  ``</td>``; a cell missing its opening ``<td>`` (the master dialect's
  REPLACE quirk drops it) still contributes its tag-stripped text;
  colspan/rowspan place merges with the standard grid-occupancy walk.
* :func:`xlsx_bytes` — a minimal SpreadsheetML package (workbook +
  one inline-string worksheet + mergeCells), ZIP_STORED with a fixed
  timestamp so the bytes are DETERMINISTIC — byte-stable output is what
  lets the correctness gate hash the sink.
* :func:`xlsx_tables` — the Spark operator: one per-row Arrow stage
  (``operators.grouped.map_rows``) over (id, html) rows emitting grid
  stats + the xlsx blob as a binary column; callers persist blobs
  wherever blobs live (at 10^12 scale an object store keyed by content
  hash, exactly like media_ref blobs).
* :func:`write_xlsx_files` — the small-scale file sink: one .xlsx per
  table written executor-side (foreachPartition; no driver collect).
"""

from __future__ import annotations

import io
import re
import zipfile
from html import unescape
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame

_TR = re.compile(r"<tr[^>]*>(.*?)</tr>", re.S)
_TD_ATTRS = re.compile(r"<td([^>]*)>?")
_SPAN = re.compile(r'(colspan|rowspan)="(\d+)"')
_TAG = re.compile(r"<[^>]*>")


def parse_table_grid(html: str) -> tuple[list[list[str]],
                                         list[tuple[int, int, int, int]]]:
    """(grid rows of cell texts, merges [(r1, c1, r2, c2)] 0-based
    inclusive). Covered (non-top-left) merge positions hold None."""
    rows_html = _TR.findall(html or "")
    grid: list[list] = []
    merges: list[tuple[int, int, int, int]] = []
    pending: dict[int, object] = {}      # col -> (remaining_rows, width)
    for r, row_html in enumerate(rows_html):
        row: list = []
        grid.append(row)

        def put(val):
            row.append(val)

        def skip_pending():
            while pending.get(len(row)):
                rem, width = pending[len(row)]
                col = len(row)
                pending[col] = (rem - 1, width) if rem > 1 else None
                for _ in range(width):
                    put(None)

        skip_pending()
        for seg in row_html.split("</td>")[:-1] if "</td>" in row_html \
                else []:
            m = _TD_ATTRS.search(seg)
            colspan = rowspan = 1
            if m:
                for name, num in _SPAN.findall(m.group(1)):
                    if name == "colspan":
                        colspan = max(1, int(num))
                    else:
                        rowspan = max(1, int(num))
                text = seg[m.end():]
            else:
                text = seg                    # dropped-<td> quirk: keep text
            text = unescape(_TAG.sub("", text))   # lxml text() unescapes
            c0 = len(row)
            put(text)
            for _ in range(colspan - 1):
                put(None)
            if rowspan > 1:
                pending[c0] = (rowspan - 1, colspan)
            if colspan > 1 or rowspan > 1:
                merges.append((r, c0, r + rowspan - 1, c0 + colspan - 1))
            skip_pending()
    # clear pendings that extend past the last row: clip merges to grid
    n_rows = len(grid)
    merges = [(r1, c1, min(r2, n_rows - 1), c2) for r1, c1, r2, c2 in merges]
    return grid, merges


def _col_letter(c: int) -> str:
    out = ""
    c += 1
    while c:
        c, rem = divmod(c - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


_CT = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/><Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/></Types>"""

_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>"""

_WORKBOOK = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>"""

_WB_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>"""


def xlsx_bytes(grid: list[list], merges=()) -> bytes:
    """Deterministic minimal .xlsx: inline strings, merged cells,
    ZIP_STORED, fixed timestamp — identical input ⇒ identical bytes."""
    sheet = io.StringIO()
    sheet.write('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
                '<worksheet xmlns="http://schemas.openxmlformats.org/'
                'spreadsheetml/2006/main"><sheetData>')
    for r, row in enumerate(grid):
        sheet.write(f'<row r="{r + 1}">')
        for c, val in enumerate(row):
            if val is None:
                continue                      # covered by a merge
            ref = f"{_col_letter(c)}{r + 1}"
            if val == "":
                sheet.write(f'<c r="{ref}" t="inlineStr"><is><t/></is></c>')
            else:
                sheet.write(f'<c r="{ref}" t="inlineStr"><is>'
                            f'<t xml:space="preserve">{escape(val)}</t>'
                            f'</is></c>')
        sheet.write("</row>")
    sheet.write("</sheetData>")
    if merges:
        sheet.write(f'<mergeCells count="{len(merges)}">')
        for r1, c1, r2, c2 in merges:
            sheet.write(f'<mergeCell ref="{_col_letter(c1)}{r1 + 1}:'
                        f'{_col_letter(c2)}{r2 + 1}"/>')
        sheet.write("</mergeCells>")
    sheet.write("</worksheet>")

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as z:
        for name, data in (
                ("[Content_Types].xml", _CT),
                ("_rels/.rels", _RELS),
                ("xl/workbook.xml", _WORKBOOK),
                ("xl/_rels/workbook.xml.rels", _WB_RELS),
                ("xl/worksheets/sheet1.xml", sheet.getvalue())):
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            z.writestr(zi, data)
    return buf.getvalue()


XLSX_SCHEMA = ("t_id long, n_rows long, n_cols long, n_merges long, "
               "xlsx_size long, xlsx_md5 string, xlsx binary")


def xlsx_rows_for(t_id: int, html: str) -> tuple:
    """One table → (t_id, n_rows, n_cols, n_merges, size, md5, bytes)."""
    import hashlib

    grid, merges = parse_table_grid(html)
    blob = xlsx_bytes(grid, merges)
    return (int(t_id), len(grid),
            max((len(r) for r in grid), default=0), len(merges),
            len(blob), hashlib.md5(blob).hexdigest(), bytearray(blob))


def xlsx_tables(tables: DataFrame, id_col: str = "t_id",
                html_col: str = "html") -> DataFrame:
    """Arrow-batched sink transform: (id, html) → grid stats + blob."""
    from .operators.grouped import map_rows

    return map_rows(tables.select(id_col, html_col),
                    lambda i, h: [xlsx_rows_for(i, h)], XLSX_SCHEMA)


def write_xlsx_files(tables: DataFrame, out_dir: str,
                     id_col: str = "t_id", html_col: str = "html") -> None:
    """File sink: one ``<id>.xlsx`` per table, written executor-side
    (predict_system.py:205-206's per-region to_excel), no driver collect."""
    import os

    def write_part(rows):
        os.makedirs(out_dir, exist_ok=True)
        for row in rows:
            grid, merges = parse_table_grid(row[html_col])
            with open(os.path.join(out_dir, f"{row[id_col]}.xlsx"),
                      "wb") as fh:
                fh.write(xlsx_bytes(grid, merges))

    tables.select(id_col, html_col).foreachPartition(write_part)
