"""OOXML SpreadsheetML (.xlsx) tokenizer — the fourth leg of the
magic-byte format dispatch (HTML / %PDF- / word docx / xl workbook).

Reference analogue: the same byte -> array decode seam as the PDF and
docx walks (/root/reference/data/dataset_mapper.py:151-155) — a
container format unpacked into the shared Block stream; scoring,
islands and span arithmetic are reused unchanged.

SpreadsheetML splits content across parts: xl/workbook.xml names the
sheets in order, xl/_rels/workbook.xml.rels maps each sheet to its
worksheet part, and string-typed cells indirect through
xl/sharedStrings.xml (the shared-string table is THE distinctive
wrinkle of the format — a cell stores an index, not text). One Block
per spreadsheet row keeps the text-density scoring meaningful: a
prose-ish row survives, a row of bare numerals dies, exactly the
main-content-vs-chrome decision the other formats make.

Determinism: malformed containers (truncated zip, bad XML, missing
part, out-of-range string index) tokenize to [] or skip the cell —
the quiet-skip fuzz contract every codec here carries.
"""

from __future__ import annotations

import io
import zipfile
from xml.etree import ElementTree

from toyocr_spark.extractor.tokenizer import Block, XML_ERRORS, make_block

ZIP_MAGIC = b"PK\x03\x04"
_WORKBOOK_PART = "xl/workbook.xml"
_WORKBOOK_RELS = "xl/_rels/workbook.xml.rels"
_SHARED_PART = "xl/sharedStrings.xml"
_S = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_R_ID = (
    "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
)
_PKG_REL = "{http://schemas.openxmlformats.org/package/2006/relationships}Relationship"


def is_xlsx(data: bytes | str | None) -> bool:
    """OPC zip magic + the SpreadsheetML workbook part name appearing
    literally in the container (member names are stored uncompressed
    in zip headers — the cheap pre-gate, same as is_docx)."""
    return (
        isinstance(data, (bytes, bytearray))
        and data[:4] == ZIP_MAGIC
        and _WORKBOOK_PART.encode() in data
    )


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        xml = zf.read(_SHARED_PART)
    except KeyError:
        return []
    try:
        root = ElementTree.fromstring(xml)
    except XML_ERRORS:
        return []
    out: list[str] = []
    for si in root.iterfind(_S + "si"):
        # plain <t> or rich-text runs <r><t>; itertext over the item
        # covers both (property bags inside runs carry no text nodes)
        out.append("".join(t.text or "" for t in si.iter(_S + "t")))
    return out


def _cell_text(c, shared: list[str]) -> str:
    t = c.get("t", "n")
    if t == "inlineStr":
        is_el = c.find(_S + "is")
        if is_el is None:
            return ""
        return "".join(el.text or "" for el in is_el.iter(_S + "t"))
    v = c.find(_S + "v")
    if v is None or v.text is None:
        return ""
    if t == "s":
        try:
            return shared[int(v.text)]
        except (ValueError, IndexError):
            return ""  # out-of-range shared index: skip the cell
    # numeric / str (formula result) / b (boolean): the stored lexical
    # form IS the value — no float reformatting, byte-determinism
    return v.text


def _sheet_order(zf: zipfile.ZipFile) -> list[tuple[str, str]]:
    """[(sheet_name, part_path)] in workbook order via the rels map."""
    try:
        wb = ElementTree.fromstring(zf.read(_WORKBOOK_PART))
        rels = ElementTree.fromstring(zf.read(_WORKBOOK_RELS))
    except (KeyError, *XML_ERRORS):
        return []
    target_by_id: dict[str, str] = {}
    for rel in rels.iter(_PKG_REL):
        rid, target = rel.get("Id"), rel.get("Target")
        if rid and target and rel.get("Type", "").endswith("/worksheet"):
            # targets are workbook-relative (worksheets/sheet1.xml)
            target_by_id[rid] = (
                target if target.startswith("xl/") else "xl/" + target.lstrip("/")
            )
    sheets: list[tuple[str, str]] = []
    sheets_el = wb.find(_S + "sheets")
    if sheets_el is None:
        return []
    for sh in sheets_el.iterfind(_S + "sheet"):
        rid = sh.get(_R_ID)
        if rid and rid in target_by_id:
            sheets.append((sh.get("name", ""), target_by_id[rid]))
    return sheets


def tokenize_xlsx(data: bytes) -> list[Block]:
    """Parse an .xlsx container into Blocks: sheets in workbook order,
    one Block per non-empty spreadsheet row (cells joined by a single
    space, whitespace-normalized like every other tokenizer here).
    tag_path marks the sheet nesting; the first row of each sheet is
    kind='title' (the header-row convention, the docx pStyle twin)."""
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            shared = _shared_strings(zf)
            sheets = _sheet_order(zf)
            parts = [(name, zf.read(path)) for name, path in sheets if path in zf.namelist()]
    except Exception:  # noqa: BLE001 — fuzz contract (see tokenize_docx)
        return []
    blocks: list[Block] = []
    for name, xml in parts:
        try:
            root = ElementTree.fromstring(xml)
        except XML_ERRORS:
            continue
        sheet_data = root.find(_S + "sheetData")
        if sheet_data is None:
            continue
        first_in_sheet = True
        for row in sheet_data.iterfind(_S + "row"):
            cells = [
                _cell_text(c, shared) for c in row.iterfind(_S + "c")
            ]
            b = make_block(
                " ".join(cells),
                ("xlsx", "sheet", "row"),
                "title" if first_in_sheet else "text",
                0,
                max(0, len([c for c in cells if c]) - 1),
            )
            if b:
                blocks.append(b)
                first_in_sheet = False
    for i, b in enumerate(blocks):
        b.ordinal = i
    return blocks
