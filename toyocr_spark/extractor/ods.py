"""OpenDocument Spreadsheet (.ods) tokenizer — the eleventh leg of the
magic-byte format dispatch, completing the ODF trio the way .xls
completed the OOXML/legacy pairing: LibreOffice Calc workbooks on the
same government/education hosts that serve .odt.

Reference analogue: the byte -> array decode seam
(/root/reference/data/dataset_mapper.py:151-155) — one more container
walk feeding the SAME Block stream; XY-cut, scoring, islands and span
arithmetic are shared unchanged.

Semantics mirror the xlsx leg exactly (one Block per non-empty row,
first non-empty row per sheet = title kind, bare-numeral chrome rows
die by MIN_CHARS in the shared scorer) — proven by an ods-vs-xlsx
identical-extraction cross-check in tests, the ODF twin of the
BIFF8-vs-OOXML check.

The distinctive ODF wrinkles this walk must get right:
  * table:number-columns-repeated — a cell stored ONCE renders k
    times (ODF's RLE cell model; the sharedStrings of this format);
  * table:covered-table-cell — merged-cell continuations carry no
    content and must be skipped;
  * office:annotation subtrees are INLINE in cell paragraphs (the
    text:note twin from .odt) and are never main text;
  * repeat counts are attacker-controlled integers: a single
    <table:table-row table:number-rows-repeated="1000000"> with text
    is the zip-bomb of this format, so repeats clamp at MAX_REPEAT
    (the gzip output-bounded-inflate discipline).

Determinism: malformed containers tokenize to [] (the quiet-skip
fuzz contract every codec here carries)."""

from __future__ import annotations

import io
import zipfile
from xml.etree import ElementTree

from toyocr_spark.extractor.odt import _paragraph_block
from toyocr_spark.extractor.tokenizer import Block, XML_ERRORS, make_block

ZIP_MAGIC = b"PK\x03\x04"
_MIMETYPE = b"application/vnd.oasis.opendocument.spreadsheet"
_CONTENT_PART = "content.xml"

_OFFICE = "{urn:oasis:names:tc:opendocument:xmlns:office:1.0}"
_TEXT = "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}"
_TABLE = "{urn:oasis:names:tc:opendocument:xmlns:table:1.0}"

# repeat-attribute clamp: real files use large repeats only as empty
# fill (which contributes no text anyway); a large repeat on a TEXT
# cell/row is fill-not-content and caps here, bounding output size
# the same way the gzip envelope inflate is output-bounded
MAX_REPEAT = 64


def is_ods(data: bytes | str | None) -> bool:
    """Zip magic + the ODS mimetype near the head (the ODF spec
    requires the `mimetype` member first and STORED — the is_odt
    pre-gate shape, a different mimetype)."""
    return (
        isinstance(data, (bytes, bytearray))
        and data[:4] == ZIP_MAGIC
        and _MIMETYPE in bytes(data[:128])
    )


def _repeat(el, attr: str) -> int:
    try:
        n = int(el.get(_TABLE + attr, "1") or "1")
    except ValueError:
        return 1
    return max(1, min(n, MAX_REPEAT))


def _cell_text(cell) -> tuple[str, int]:
    """(display text, link chars) of one table:table-cell: its text:p
    paragraphs joined by a space, annotation subtrees skipped. The
    stored display text IS the value (no float reformatting —
    byte-determinism, the xlsx lexical-form rule)."""
    parts: list[str] = []
    link_chars = 0
    for p in cell.iterfind(_TEXT + "p"):
        b = _paragraph_block(p, ("cell",), title=False)
        if b is not None:
            parts.append(b.text)
            link_chars += b.link_chars
    return " ".join(parts), link_chars


def _rows(table):
    """table:table-row elements in document order, descending into
    header-row and row-group containers, honoring (clamped) row
    repeats."""
    for el in table:
        tag = el.tag
        if tag == _TABLE + "table-row":
            for _ in range(_repeat(el, "number-rows-repeated")):
                yield el
        elif tag in (
            _TABLE + "table-header-rows",
            _TABLE + "table-row-group",
            _TABLE + "table-rows",
        ):
            yield from _rows(el)


def tokenize_ods(data: bytes) -> list[Block]:
    """Parse an .ods into Blocks: sheets (table:table) in document
    order, one Block per non-empty row — cells joined by a single
    space, whitespace-normalized, column repeats expanded (clamped),
    covered cells skipped, inline annotations never read. The first
    non-empty row of each sheet is kind='title' (the header-row
    convention, shared with xlsx/xls). Returns [] for any malformed
    container."""
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            xml = zf.read(_CONTENT_PART)
    except Exception:  # noqa: BLE001 — fuzz contract (see tokenize_docx)
        return []
    try:
        root = ElementTree.fromstring(xml)
    except XML_ERRORS:
        return []
    body = root.find(f"{_OFFICE}body/{_OFFICE}spreadsheet")
    if body is None:
        return []
    blocks: list[Block] = []
    for table in body.iterfind(_TABLE + "table"):
        first_in_sheet = True
        for row in _rows(table):
            cells: list[str] = []
            link_chars = 0
            for c in row:
                if c.tag == _TABLE + "table-cell":
                    text, lc = _cell_text(c)
                    link_chars += lc
                    for _ in range(_repeat(c, "number-columns-repeated")):
                        cells.append(text)
                # covered-table-cell: merged continuation, no content
            b = make_block(
                " ".join(cells),
                ("ods", "sheet", "row"),
                "title" if first_in_sheet else "text",
                link_chars,
                max(0, len([c for c in cells if c]) - 1),
            )
            if b:
                blocks.append(b)
                first_in_sheet = False
    for i, b in enumerate(blocks):
        b.ordinal = i
    return blocks


__all__ = ["is_ods", "tokenize_ods", "MAX_REPEAT"]
