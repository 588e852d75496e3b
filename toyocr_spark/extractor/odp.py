"""OpenDocument Presentation (.odp) tokenizer — the twelfth leg of
the magic-byte format dispatch, closing the ODF trio (odt/ods/odp)
alongside the OOXML trio (docx/xlsx/pptx) and the legacy CFB trio
(doc/xls/ppt).

Reference analogue: the byte -> array decode seam
(/root/reference/data/dataset_mapper.py:151-155) — same shared Block
stream, scoring, islands and span arithmetic as every other format.

Semantics mirror the pptx leg exactly (slides in document order,
one Block per paragraph, title frames -> kind='title', speaker notes
structurally excluded) — proven by an odp-vs-pptx identical-
extraction cross-check in tests.

The structural wrinkle vs pptx: speaker notes are INLINE in
content.xml as <presentation:notes> inside each draw:page (pptx puts
them in separate never-read parts). The walk reads only draw:frame
children of the page itself, so the notes frame — nested inside the
notes element — is excluded by position in the tree, not by a text
heuristic. Title detection rides presentation:class on the frame
("title"/"subtitle", the p:ph type twin); outline body text nests in
text:list structures, which the paragraph walk descends.

Determinism: malformed containers tokenize to [] (the quiet-skip
fuzz contract every codec here carries)."""

from __future__ import annotations

import io
import zipfile
from xml.etree import ElementTree

from toyocr_spark.extractor.odt import _paragraph_block
from toyocr_spark.extractor.tokenizer import Block, XML_ERRORS

ZIP_MAGIC = b"PK\x03\x04"
_MIMETYPE = b"application/vnd.oasis.opendocument.presentation"
_CONTENT_PART = "content.xml"

_OFFICE = "{urn:oasis:names:tc:opendocument:xmlns:office:1.0}"
_TEXT = "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}"
_DRAW = "{urn:oasis:names:tc:opendocument:xmlns:drawing:1.0}"
_PRES = "{urn:oasis:names:tc:opendocument:xmlns:presentation:1.0}"

_TITLE_CLASSES = ("title", "subtitle")


def is_odp(data: bytes | str | None) -> bool:
    """Zip magic + the ODP mimetype near the head (the ODF spec
    requires the `mimetype` member first and STORED — the is_odt
    pre-gate shape, a different mimetype)."""
    return (
        isinstance(data, (bytes, bytearray))
        and data[:4] == ZIP_MAGIC
        and _MIMETYPE in bytes(data[:128])
    )


def _emit_box(container, title: bool, blocks: list[Block]) -> None:
    """Paragraphs of one text box in document order, descending
    text:list nesting (outline bodies) but NOT annotation or
    tracked-change subtrees — a structured walk, not a blanket
    .iter(), so a text:p nested inside an inline annotation can never
    surface as its own Block (the odt emit discipline)."""
    for el in container:
        tag = el.tag
        if tag in (_TEXT + "p", _TEXT + "h"):
            b = _paragraph_block(el, ("odp", "sp", "p"), title=title)
            if b is not None:
                blocks.append(b)
        elif tag == _TEXT + "list":
            for item in el.iterfind(_TEXT + "list-item"):
                _emit_box(item, title, blocks)


def tokenize_odp(data: bytes) -> list[Block]:
    """Parse an .odp deck into Blocks: draw:page elements in document
    order, draw:frame children in shape order, one Block per text:p /
    text:h inside the frame's text box (list nesting descended).
    presentation:class title/subtitle frames -> kind='title'. Speaker
    notes (presentation:notes) never read — their frames are not
    children of the page. Returns [] for any malformed container."""
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            xml = zf.read(_CONTENT_PART)
    except Exception:  # noqa: BLE001 — fuzz contract (see tokenize_docx)
        return []
    try:
        root = ElementTree.fromstring(xml)
    except XML_ERRORS:
        return []
    body = root.find(f"{_OFFICE}body/{_OFFICE}presentation")
    if body is None:
        return []
    blocks: list[Block] = []
    for page in body.iterfind(_DRAW + "page"):
        # direct frame children only: the notes frame lives inside
        # <presentation:notes>, structurally outside this walk
        for frame in page.iterfind(_DRAW + "frame"):
            title = frame.get(_PRES + "class", "") in _TITLE_CLASSES
            box = frame.find(_DRAW + "text-box")
            if box is None:
                continue
            _emit_box(box, title, blocks)
    for i, b in enumerate(blocks):
        b.ordinal = i
    return blocks


__all__ = ["is_odp", "tokenize_odp"]
