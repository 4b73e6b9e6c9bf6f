"""Native xlsx parser — no openpyxl dependency.

The reference's primary entry point is Excel multi-sheet ingestion
(assets.py:41-64, 220-250: download xlsx → iterate sheets → stringify
cells → infer types → insert). The engine depends on no xlsx library:
xlsx is just a zip of XML (ECMA-376 SpreadsheetML), so the parse is
stdlib: ``zipfile`` + ``xml.etree``, and it is the only xlsx parser.
Cells come back STRINGIFIED — the same contract as the reference's
``pd.read_excel(dtype=str)`` path — and feed the infer/ingest pipeline.

Scale path: ``read_xlsx_distributed`` moves the SAME kernel executor-side
via ``spark.read.format('binaryFile')`` + ``mapInPandas`` — a 100 TB
landing zone of workbooks parses with full parallelism, one task per
file batch, no driver involvement. The output is long-form
(path, sheet, row_idx, column, value) so heterogeneous sheets coexist in
one frame; a pivot per (path, sheet) recovers each table.
"""

from __future__ import annotations

import io
import re
import zipfile
import xml.etree.ElementTree as ET

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"
_RID = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"

_CELL_REF = re.compile(r"([A-Z]+)(\d+)")


def _col_index(ref: str) -> int:
    """'A1' → 0, 'AB7' → 27 — base-26 column letters."""
    m = _CELL_REF.match(ref)
    n = 0
    for ch in m.group(1):
        n = n * 26 + (ord(ch) - ord("A") + 1)
    return n - 1


def _cell_text(cell, shared: list[str]) -> str | None:
    t = cell.get("t", "n")
    if t == "inlineStr":
        is_el = cell.find(f"{_NS}is")
        return "".join(el.text or "" for el in is_el.iter(f"{_NS}t")) if is_el is not None else None
    v = cell.find(f"{_NS}v")
    if v is None or v.text is None:
        return None
    if t == "s":
        return shared[int(v.text)]
    if t == "b":
        return "True" if v.text == "1" else "False"
    # numeric (or formula result): render integral floats without the
    # trailing .0 so '42' round-trips as '42' (matches dtype=str intent)
    txt = v.text
    try:
        f = float(txt)
        if f.is_integer() and "e" not in txt.lower():
            return str(int(f))
    except ValueError:
        pass
    return txt


def parse_xlsx(data: bytes) -> dict[str, tuple[list[str], list[list[str | None]]]]:
    """Workbook bytes → {sheet_name: (header_row, data_rows)} with every
    cell stringified (or None for empty). Sparse cells are densified to
    the header width; rows longer than the header keep their width."""
    with zipfile.ZipFile(io.BytesIO(data)) as zf:
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
        rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
        rid_target = {
            r.get("Id"): r.get("Target").lstrip("/") for r in rels.iter(f"{_REL_NS}Relationship")
        }
        shared: list[str] = []
        if "xl/sharedStrings.xml" in zf.namelist():
            ss = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            for si in ss.iter(f"{_NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
        out: dict[str, tuple[list[str], list[list[str | None]]]] = {}
        for s in wb.iter(f"{_NS}sheet"):
            target = rid_target[s.get(_RID)]
            if not target.startswith("xl/"):
                target = f"xl/{target}"
            sheet = ET.fromstring(zf.read(target))
            raw_rows: list[list[str | None]] = []
            for row in sheet.iter(f"{_NS}row"):
                cells: list[str | None] = []
                for c in row.iter(f"{_NS}c"):
                    idx = _col_index(c.get("r")) if c.get("r") else len(cells)
                    while len(cells) < idx:
                        cells.append(None)
                    cells.append(_cell_text(c, shared))
                raw_rows.append(cells)
            if not raw_rows:
                out[s.get("name")] = ([], [])
                continue
            header = [v if v is not None else f"col_{i}" for i, v in enumerate(raw_rows[0])]
            width = len(header)
            rows = [r + [None] * (width - len(r)) for r in raw_rows[1:]]
            out[s.get("name")] = (header, rows)
    return out


def read_xlsx_distributed(spark, landing_dir: str):
    """Executor-side xlsx parse over a directory tree: binaryFile source →
    mapInPandas running ``parse_xlsx`` per workbook. Long-form output
    (path, sheet, row_idx, column, value) — schema-stable across
    heterogeneous workbooks, pivotable per sheet downstream.

    This is the 100 TB form of the reference's driver-side sheet loop
    (assets.py:41-64): same parse kernel, moved to where the bytes are.
    """

    def parse_batches(batches):
        import pandas as pd

        for pdf in batches:
            paths, sheets, row_idxs, cols, vals = [], [], [], [], []
            for path, content in zip(pdf["path"], pdf["content"]):
                for sheet, (header, rows) in parse_xlsx(bytes(content)).items():
                    for i, row in enumerate(rows):
                        # rows wider than the header keep their trailing
                        # cells under generated col_N names (parse_xlsx
                        # contract: long rows keep their width)
                        names = (
                            header + [f"col_{j}" for j in range(len(header), len(row))]
                            if len(row) > len(header)
                            else header
                        )
                        for col, v in zip(names, row):
                            paths.append(path)
                            sheets.append(sheet)
                            row_idxs.append(i)
                            cols.append(col)
                            vals.append(v)
            yield pd.DataFrame(
                {"path": paths, "sheet": sheets, "row_idx": row_idxs,
                 "column": cols, "value": vals}
            )

    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.xlsx")
        .option("recursiveFileLookup", "true")
        .load(landing_dir)
        .select("path", "content")
    )
    return binary.mapInPandas(
        parse_batches,
        schema="path string, sheet string, row_idx long, column string, value string",
    )
