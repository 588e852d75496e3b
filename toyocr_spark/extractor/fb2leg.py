"""FictionBook 2 (.fb2) format leg — the dominant e-book format of the
Russian-language web and a fixture of book-corpus crawls (free
libraries ship plain .fb2 files over http, no container).

FB2 is a single XML document: ``<FictionBook>`` root holding a
``<description>`` metadata block (title-info, author, publisher —
chrome by format structure, the EPUB-nav rule), one MAIN ``<body>`` of
nested ``<section>`` elements (``<title>``/``<subtitle>`` paragraphs
are headings, ``<p>`` is prose, ``<poem>`` stanzas group verse lines,
``<cite>``/``<epigraph>`` wrap quoted prose), and optional NAMED
bodies (``<body name="notes">``/``"comments"``) holding footnote
popups — excluded structurally, like docx header parts. The root tag
name is a de-facto magic for the '<'-led head (no other format names
its root FictionBook), so the gate outranks the HTML fallback without
any risk to real pages. Namespaces vary across writers (the schema
moved hosts over the years), so matching is by LOCAL tag name
throughout.

Graft note: same dispatch seam as every other leg — the byte->blocks
decode at /root/reference/data/dataset_mapper.py:151-155's format
fan-out; blocks re-enter the shared scoring/XY-cut pass unchanged.
"""

from __future__ import annotations

import re
from xml.etree import ElementTree

from toyocr_spark.extractor.tokenizer import Block, XML_ERRORS, make_block

# leading constructs an XML head may carry before the root element:
# BOM / whitespace, the prologue, comments, a DOCTYPE — the gate skips
# exactly these and then requires the ROOT element itself to be
# FictionBook. (An earlier anywhere-in-head search would claim an HTML
# article quoting '<FictionBook' in its first 256 bytes and zero the
# page out — the root-anchored form cannot.)
_SKIP_RE = re.compile(rb"\s+|<\?.*?\?>|<!--.*?-->|<![^>]*>", re.S)

_INLINE = ("emphasis", "strong", "style", "strikethrough", "sub", "sup", "code")


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def is_fb2(data: bytes | str | None) -> bool:
    if isinstance(data, str):
        data = data[:512].encode("utf-8", "ignore")
    if not isinstance(data, (bytes, bytearray)):
        return False
    head = bytes(data[:512])
    if head[:3] == b"\xef\xbb\xbf":
        head = head[3:]
    pos = 0
    while True:
        m = _SKIP_RE.match(head, pos)
        if not m or m.end() == pos:
            break
        pos = m.end()
    return head.startswith(b"<FictionBook", pos)


def _para_block(el, path: tuple[str, ...], kind: str) -> Block | None:
    """One paragraph-ish element -> one Block: itertext in document
    order, whitespace-normalized like every other leg; text under
    ``<a>`` descendants counts as link chars (FB2's carrier of the
    link-density signal — note popups and external references);
    inline styling elements count toward n_inline."""
    parts: list[str] = []
    link_chars = 0
    n_inline = 0

    def walk(e, in_link: bool) -> None:
        nonlocal link_chars, n_inline
        if e.text:
            parts.append(e.text)
            if in_link:
                link_chars += len(" ".join(e.text.split()))
        for child in e:
            lc = _local(child.tag)
            if lc == "a":
                n_inline += 1
                walk(child, True)
            elif lc in _INLINE:
                n_inline += 1
                walk(child, in_link)
            elif lc == "image":
                pass  # opaque reference, contributes no text
            else:
                walk(child, in_link)
            if child.tail:
                parts.append(child.tail)
                if in_link:
                    link_chars += len(" ".join(child.tail.split()))

    walk(el, False)
    return make_block("".join(parts), path, kind, link_chars, n_inline)


def tokenize_fb2(data: bytes | str) -> list[Block]:
    """Parse an FB2 document into Blocks in document order: main-body
    sections only (named bodies = footnote/comment popups, excluded
    structurally; ``<description>`` metadata never read). Returns []
    for malformed XML (the quiet-skip fuzz contract)."""
    if isinstance(data, str):
        data = data.encode("utf-8", "ignore")
    try:
        root = ElementTree.fromstring(data)
    except XML_ERRORS:
        return []
    if _local(root.tag) != "FictionBook":
        return []
    blocks: list[Block] = []

    def emit_stanza(st, path: tuple[str, ...]) -> None:
        # one block per stanza, verse lines joined with a space (the
        # <v> elements carry no whitespace between them — fusing
        # lines would weld words)
        vb = [
            _para_block(v, path + ("stanza",), "text")
            for v in st
            if _local(v.tag) == "v"
        ]
        vb = [b for b in vb if b is not None]
        if vb:
            blocks.append(
                make_block(
                    " ".join(b.text for b in vb),
                    path + ("stanza",),
                    "text",
                    sum(b.link_chars for b in vb),
                    sum(b.n_inline for b in vb),
                )
            )

    def emit(container, path: tuple[str, ...]) -> None:
        for el in container:
            lc = _local(el.tag)
            if lc in ("title", "subtitle"):
                if lc == "subtitle":
                    b = _para_block(el, path + ("subtitle",), "title")
                    if b is not None:
                        blocks.append(b)
                else:
                    for p in el:
                        if _local(p.tag) == "p":
                            b = _para_block(p, path + ("title",), "title")
                            if b is not None:
                                blocks.append(b)
            elif lc == "p":
                b = _para_block(el, path + ("p",), "text")
                if b is not None:
                    blocks.append(b)
            elif lc == "poem":
                # a poem's title/epigraph/text-author re-enter the
                # generic walk in document order; stanzas group their
                # verse lines into one block each
                for child in el:
                    if _local(child.tag) == "stanza":
                        emit_stanza(child, path + ("poem",))
                    else:
                        emit([child], path + ("poem",))
            elif lc == "table":
                # cell text is content (the docx tbl rule): one block
                # per td/th, table kind, row order
                for tr in el:
                    if _local(tr.tag) != "tr":
                        continue
                    for cell in tr:
                        if _local(cell.tag) in ("td", "th"):
                            b = _para_block(cell, path + ("table",), "table")
                            if b is not None:
                                blocks.append(b)
            elif lc in ("text-author", "date"):
                # attribution/dateline leaves carry text directly
                b = _para_block(el, path + (lc,), "text")
                if b is not None:
                    blocks.append(b)
            elif lc in ("section", "cite", "epigraph", "annotation"):
                emit(el, path + (lc,))
            elif lc in ("empty-line", "image"):
                continue
            elif len(el):
                # unknown wrapper with children: descend
                emit(el, path + (lc,))
            else:
                # unknown LEAF with text: never silently drop prose
                b = _para_block(el, path + (lc,), "text")
                if b is not None:
                    blocks.append(b)

    for body in root:
        if _local(body.tag) != "body":
            continue  # <description>, <binary> covers: never read
        if body.get("name"):
            continue  # notes/comments popup bodies: structural chrome
        emit(body, ("fb2",))
    for i, b in enumerate(blocks):
        b.ordinal = i
    return blocks
