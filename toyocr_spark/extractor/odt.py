"""OpenDocument Text (.odt, ODF 1.x) tokenizer — the tenth leg of the
magic-byte format dispatch: LibreOffice/OpenOffice documents, the
other office-suite format a crawl sees on government and education
hosts.

Reference analogue: the byte -> array decode seam
(/root/reference/data/dataset_mapper.py:151-155) — one more container
walk feeding the SAME Block stream as HTML/PDF/OOXML; XY-cut, scoring,
islands and span arithmetic are shared.

Structural boilerplate exclusion, the ODF way: page headers/footers
live in styles.xml master pages (a part this walk NEVER reads — the
docx never-read-the-part twin), but footnotes/endnotes (text:note)
and annotations (office:annotation) are INLINE in content.xml, so the
walk must skip those subtrees explicitly — the inline twin of the
same rule.

ODF's text model is mixed XML content (element .text plus child
.tail), unlike WordprocessingML's w:t leaves: the paragraph walk
accumulates both. text:s carries run-length-encoded spaces (text:c),
text:tab and text:line-break separate words, text:a wraps link text
(the link-density carrier), text:span fragments count as inline runs.

Determinism: malformed containers tokenize to [] (the quiet-skip
fuzz contract every codec here carries)."""

from __future__ import annotations

import io
import zipfile
from xml.etree import ElementTree

from toyocr_spark.extractor.tokenizer import Block, XML_ERRORS, make_block

ZIP_MAGIC = b"PK\x03\x04"
_MIMETYPE = b"application/vnd.oasis.opendocument.text"
_CONTENT_PART = "content.xml"

_OFFICE = "{urn:oasis:names:tc:opendocument:xmlns:office:1.0}"
_TEXT = "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}"
_TABLE = "{urn:oasis:names:tc:opendocument:xmlns:table:1.0}"
_XLINK = "{http://www.w3.org/1999/xlink}"

# inline subtrees that are NOT main text: footnotes/endnotes, note
# citations, annotations, tracked-change metadata, hidden/deleted text
_SKIP_INLINE = (
    _TEXT + "note",
    _OFFICE + "annotation",
    _TEXT + "tracked-changes",
    _TEXT + "deletion",
)


def is_odt(data: bytes | str | None) -> bool:
    """Zip magic + the ODT mimetype near the head (the ODF spec
    requires the `mimetype` member first and STORED, so its content
    sits in the first ~80 bytes of every conformant file — the same
    pre-gate shape as is_epub)."""
    return (
        isinstance(data, (bytes, bytearray))
        and data[:4] == ZIP_MAGIC
        and _MIMETYPE in bytes(data[:128])
    )


def _paragraph_block(p, path: tuple[str, ...], title: bool) -> Block | None:
    """One text:p / text:h element -> one Block (or None if empty)."""
    parts: list[str] = []
    link_chars = 0
    n_spans = 0
    in_link = 0

    def emit_text(t: str | None) -> None:
        nonlocal link_chars
        if not t:
            return
        parts.append(t)
        if in_link:
            link_chars += len(" ".join(t.split()))

    def walk(el) -> None:
        nonlocal n_spans, in_link
        emit_text(el.text)
        for child in el:
            tag = child.tag
            if tag in _SKIP_INLINE:
                pass  # not main text; the .tail below still emits
            elif tag == _TEXT + "a":
                in_link += 1
                walk(child)
                in_link -= 1
            elif tag == _TEXT + "span":
                n_spans += 1
                walk(child)
            elif tag in (_TEXT + "tab", _TEXT + "line-break"):
                parts.append(" ")
            elif tag == _TEXT + "s":
                parts.append(" " * int(child.get(_TEXT + "c", "1") or "1"))
            else:
                walk(child)  # bookmarks/fields/frames: descend
            emit_text(child.tail)

    walk(p)
    return make_block("".join(parts), path, "title" if title else "text", link_chars, n_spans)


def tokenize_odt(data: bytes) -> list[Block]:
    """Parse an .odt into Blocks in document order: body paragraphs,
    headings (kind='title'), list items and table-cell paragraphs
    (tag_path marks the table nesting); page headers/footers excluded
    by never reading styles.xml, inline notes/annotations by skipping
    their subtrees. Returns [] for any malformed container."""
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            xml = zf.read(_CONTENT_PART)
    except Exception:  # noqa: BLE001 — fuzz contract (see tokenize_docx)
        return []
    try:
        root = ElementTree.fromstring(xml)
    except XML_ERRORS:
        return []
    body = root.find(f"{_OFFICE}body/{_OFFICE}text")
    if body is None:
        return []
    blocks: list[Block] = []

    def emit(container, path: tuple[str, ...]) -> None:
        for el in container:
            tag = el.tag
            if tag == _TEXT + "p":
                b = _paragraph_block(el, path + ("p",), title=False)
                if b is not None:
                    blocks.append(b)
            elif tag == _TEXT + "h":
                b = _paragraph_block(el, path + ("p",), title=True)
                if b is not None:
                    blocks.append(b)
            elif tag == _TEXT + "list":
                for item in el.iterfind(_TEXT + "list-item"):
                    emit(item, path)
            elif tag == _TABLE + "table":
                for row in el.iterfind(_TABLE + "table-row"):
                    for cell in row.iterfind(_TABLE + "table-cell"):
                        emit(cell, path + ("tbl",))
            elif tag == _TEXT + "section":
                emit(el, path)

    emit(body, ("odt",))
    for i, b in enumerate(blocks):
        b.ordinal = i
    return blocks


def odt_links(data: bytes) -> list[str]:
    """Outbound ABSOLUTE link targets (text:a/@xlink:href with a
    scheme) in document order, duplicates preserved — the .odt leg of
    outlink mining. ODF hrefs may be relative (intra-package or
    filesystem navigation, not edges) — those and fragment anchors
    drop, the epub_links contract. Malformed containers -> []."""
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            xml = zf.read(_CONTENT_PART)
        root = ElementTree.fromstring(xml)
    except Exception:  # noqa: BLE001 — quiet-skip fuzz contract
        return []
    out: list[str] = []
    for a in root.iter(_TEXT + "a"):
        href = a.get(_XLINK + "href", "")
        if "://" in href:
            out.append(href)
    return out
