"""Read-only .xlsx parsing for the reference's workbooks (SURVEY A1).

The reference's manual-correction workflow is Excel-in/Excel-out
(reference: ner_config.py:212 reads the correction workbook;
ner_config_old.py:300-332 writes per-sheet results). In this engine the
correction dimension and every result live in the catalog as parquet
(sources/catalog.py); Excel is only read, to compare against the
reference's committed golden workbooks.

The engine depends on no Excel library (openpyxl/xlsxwriter), so the
parser is stdlib only: .xlsx is a zip of SpreadsheetML parts, and the
subset these workbooks use (one worksheet, shared/inline strings,
numbers) parses with ``zipfile`` + ``ElementTree`` — see
:func:`read_xlsx_rows`.
"""

from __future__ import annotations

import re
import zipfile
import xml.etree.ElementTree as ET

_SSML = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _col_index(cell_ref: str) -> int:
    """'A'->0, 'B'->1, ... 'AA'->26 (base-26 over the letter prefix)."""
    letters = re.match(r"[A-Z]+", cell_ref).group(0)
    idx = 0
    for ch in letters:
        idx = idx * 26 + (ord(ch) - ord("A") + 1)
    return idx - 1


def _si_text(si: ET.Element) -> str:
    """Concatenate the <t> runs of a shared-string item (plain or rich)."""
    return "".join(t.text or "" for t in si.iter(_SSML + "t"))


def read_xlsx_rows(path: str, sheet: int = 0) -> list[list]:
    """Minimal read-only .xlsx parser (stdlib zip + XML; no openpyxl).

    Returns the sheet as a list of rows, each a dense list padded with
    ``None`` to the sheet's max width. Covers the SpreadsheetML subset
    pandas ``to_excel`` and the reference's committed workbooks emit:
    shared strings (``t="s"``, rich-text runs concatenated), inline
    strings (``t="inlineStr"``), literal strings (``t="str"``), booleans
    and numbers (int when the lexical form has no '.'/exponent). Formula
    cells yield their cached value. Used for the consensus parity tests
    against the reference's committed golden workbooks
    (reference: src/Ressources/20231101.xlsx et al.).
    """
    with zipfile.ZipFile(path) as z:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            shared = [
                _si_text(si)
                for si in ET.fromstring(z.read("xl/sharedStrings.xml")).iter(
                    _SSML + "si"
                )
            ]
        # numeric sort: lexicographic would put sheet10.xml before
        # sheet2.xml and silently return the wrong sheet for index >= 1
        sheets = sorted(
            (
                n
                for n in z.namelist()
                if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n)
            ),
            key=lambda n: int(re.search(r"sheet(\d+)\.xml$", n).group(1)),
        )
        root = ET.fromstring(z.read(sheets[sheet]))

    rows: list[dict[int, object]] = []
    width = 0
    for row_el in root.iter(_SSML + "row"):
        row: dict[int, object] = {}
        for c in row_el:
            ref = c.get("r")
            if ref is None:
                continue
            idx = _col_index(ref)
            ctype = c.get("t", "n")
            if ctype == "inlineStr":
                is_el = c.find(_SSML + "is")
                value: object = _si_text(is_el) if is_el is not None else None
            else:
                v = c.find(_SSML + "v")
                if v is None or v.text is None:
                    value = None
                elif ctype == "s":
                    value = shared[int(v.text)]
                elif ctype == "str":
                    value = v.text
                elif ctype == "b":
                    value = v.text == "1"
                elif any(ch in v.text for ch in ".eE"):
                    value = float(v.text)
                else:
                    value = int(v.text)
            if value is not None:
                row[idx] = value
                width = max(width, idx + 1)
        rows.append(row)
    return [[r.get(i) for i in range(width)] for r in rows]


def read_xlsx_records(path: str, sheet: int = 0) -> list[dict]:
    """Header-keyed dict rows from :func:`read_xlsx_rows` (header = first
    row; unnamed columns get ``_col{i}``)."""
    rows = read_xlsx_rows(path, sheet)
    if not rows:
        return []
    header = [
        str(h) if h is not None else f"_col{i}" for i, h in enumerate(rows[0])
    ]
    return [dict(zip(header, r)) for r in rows[1:]]
