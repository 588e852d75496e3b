"""DocBook XML tokenizer — the thirty-fifth leg of the format
dispatch, covering the technical-book XML of software-documentation
crawls (the TLDP/Linux-HOWTO corpus, O'Reilly-era book sources,
GNOME/KDE/PHP manuals) — the structured ancestor of today's docs
sites.

Reference analogue: the byte -> array decode seam shared by every
format leg (/root/reference/data/dataset_mapper.py:151-155).

SNIFF DISCIPLINE (the FictionBook root-anchor rule): a DocBook
document's ROOT element is one of book/article/chapter/part/set/
refentry — '<article>' is also an HTML5 tag but never an HTML page's
root, so root-anchoring alone almost suffices; the gate additionally
demands DocBook evidence (the docbook.org namespace on the root, a
DocBook/OASIS DOCTYPE, or ``<para``/``<sect``/``<chapter`` tags in
the head) so a bare ``<article>`` XML fragment of some other dialect
falls through to prose. Matching is by LOCAL name throughout (DB4 has
no namespace, DB5 is ``http://docbook.org/ns/docbook``). If the gate
matches but the XML is malformed, tokenize returns [] and the page
falls back to the HTML tokenizer (the fb2 rule).

What is content and what is chrome:
- ``<title>``/``<subtitle>`` of the root and of structural divisions
  -> title blocks at their depth (root h1, chapter/appendix/preface
  h2, sect1/section h3+…) — including titles nested inside
  ``<info>``/``<bookinfo>`` (DB5 puts them there); everything ELSE
  in info elements (authors, dates, abstracts, legalnotice,
  revhistory) is metadata chrome, never read.
- ``<para>``/``<simpara>``/``<formalpara>`` -> text;
  ``<listitem>``/``<member>``/``<term>`` -> list blocks (a listitem's
  paras join as one item); CALS ``<row>``/``<entry>`` and HTML
  ``<tr>``/``<td>`` table rows -> one table block per row.
- ``<programlisting>``/``<screen>``/``<literallayout>``/
  ``<synopsis>`` keep their text as ONE block (the fenced-code rule
  — itertext, entities already resolved by the parser).
- ``<note>``/``<tip>``/``<warning>``/``<caution>``/``<important>``
  admonitions drop wholesale (the rst-directive rule), as do
  ``<footnote>``, ``<indexterm>``, ``<remark>``, ``<xref>`` and
  ``<mediaobject>``/``<imageobject>`` figures.
- ``<ulink url=…>`` (DB4) and ``<link xlink:href=…>`` (DB5) text
  counts as link chars (the true <a> analogue — a ulink-dominated
  navigation para dies by the shared density rule); inline markup
  (``<emphasis>``/``<literal>``/``<function>``/…) keeps inner text
  with markup weight counted.

Boundedness: one ElementTree parse of the page-capped input; all
text is a subset of it. Determinism: malformed XML tokenizes to []
(HTML fallback), same bytes -> same blocks, never an exception."""

from __future__ import annotations

import re
from xml.etree import ElementTree

from toyocr_spark.extractor.tokenizer import Block, XML_ERRORS, make_block

_SKIP_RE = re.compile(rb"\s+|<\?.*?\?>|<!--.*?-->|<![^>]*>", re.S)
_ROOTS = (b"<book", b"<article", b"<chapter", b"<part", b"<set", b"<refentry")
_ROOT_NAMES = {"book", "article", "chapter", "part", "set", "refentry"}
_EVIDENCE_RE = re.compile(
    rb"docbook\.org/ns/docbook|DocBook|OASIS//DTD|<para[\s>]|<sect\d|<section[\s>]|<chapter[\s>]|<refsect"
)

_SNIFF_BYTES = 2048

_DIV_DEPTH = {
    "book": 1,
    "article": 1,
    "set": 1,
    "part": 1,
    "chapter": 2,
    "appendix": 2,
    "preface": 2,
    "glossary": 2,
    "bibliography": 2,
    "refentry": 2,
    "sect1": 3,
    "refsect1": 3,
    "refsynopsisdiv": 3,
    "sect2": 4,
    "refsect2": 4,
    "sect3": 5,
    "sect4": 6,
    "sect5": 6,
    "simplesect": 4,
}
_INFO_TAGS = {"info", "bookinfo", "articleinfo", "chapterinfo", "sectioninfo", "refentryinfo", "setinfo", "partinfo"}
_VERBATIM = {"programlisting", "screen", "literallayout", "synopsis", "funcsynopsis", "cmdsynopsis"}
_DROP = {
    "footnote", "indexterm", "remark", "comment", "xref", "mediaobject",
    "imageobject", "inlinemediaobject", "figure", "informalfigure", "index",
    "toc", "lot", "colophon", "revhistory", "legalnotice", "abstract",
    "author", "authorgroup", "editor", "copyright", "pubdate", "releaseinfo",
    "publishername", "isbn", "edition", "keywordset", "subjectset",
    "note", "tip", "warning", "caution", "important", "annotation",
}
_LINK_TAGS = {"ulink", "link"}


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def is_docbook(data: bytes | str | None) -> bool:
    """Root-anchored gate (see module docstring): after prologue/
    comments/DOCTYPE the root element must be a DocBook division,
    plus DocBook evidence in the head."""
    if isinstance(data, str):
        data = data[:_SNIFF_BYTES].encode("utf-8", "ignore")
    if not isinstance(data, (bytes, bytearray)):
        return False
    head = bytes(data[:_SNIFF_BYTES])
    if head[:3] == b"\xef\xbb\xbf":
        head = head[3:]
    pos = 0
    while True:
        m = _SKIP_RE.match(head, pos)
        if not m or m.end() == pos:
            break
        pos = m.end()
    if not any(head.startswith(r, pos) for r in _ROOTS):
        return False
    # the root token must end there (reject <articlex…>)
    end = pos + 1
    while end < len(head) and head[end : end + 1].isalpha():
        end += 1
    if head[pos + 1 : end].decode("ascii", "ignore") not in _ROOT_NAMES:
        return False
    return bool(_EVIDENCE_RE.search(head))


def _para_block(el, path: tuple[str, ...], kind: str) -> Block | None:
    """One paragraph-ish element -> one Block (the fb2 walk): itertext
    in document order, text under link elements counts as link chars,
    inline markup counts toward n_inline, dropped subtrees excluded."""
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
            if lc in _DROP:
                pass  # excluded subtree; its tail still belongs to us
            elif lc in _LINK_TAGS:
                n_inline += 1
                walk(child, True)
            elif len(child) or child.text:
                n_inline += 1
                walk(child, in_link)
            if child.tail:
                parts.append(child.tail)
                if in_link:
                    link_chars += len(" ".join(child.tail.split()))

    walk(el, False)
    return make_block("".join(parts), path, kind, link_chars, n_inline)


def tokenize_docbook(data: bytes | str) -> list[Block]:
    """Parse a DocBook document into Blocks in document order:
    division titles at depth, paras/lists/tables/verbatim content,
    info metadata and admonitions dropped, sharing the HTML leg's
    kinds. Returns [] for malformed XML (HTML fallback, the fb2
    rule)."""
    if isinstance(data, str):
        data = data.encode("utf-8", "ignore")
    try:
        root = ElementTree.fromstring(data)
    except XML_ERRORS:
        return []
    if _local(root.tag) not in _ROOT_NAMES:
        return []
    blocks: list[Block] = []

    def emit_title(el, depth: int) -> None:
        b = _para_block(el, ("db", f"h{min(depth, 6)}"), "title")
        if b is not None:
            blocks.append(b)

    def emit_info(el, depth: int) -> None:
        # DB5 nests the division title inside <info>: read ONLY
        # title/subtitle out of it, everything else is metadata
        for child in el:
            if _local(child.tag) in ("title", "subtitle"):
                emit_title(child, depth)

    def emit_list_item(el, path: tuple[str, ...]) -> None:
        # a listitem's paras join as ONE item block (itertext order)
        b = _para_block(el, path + ("li",), "list")
        if b is not None:
            blocks.append(b)

    def emit_row(row, path: tuple[str, ...]) -> None:
        cells = []
        for cell in row:
            if _local(cell.tag) in ("entry", "td", "th"):
                cb = _para_block(cell, path, "table")
                if cb is not None:
                    cells.append(cb)
        if cells:
            blocks.append(
                make_block(
                    " ".join(c.text for c in cells),
                    path + ("tr",),
                    "table",
                    sum(c.link_chars for c in cells),
                    sum(c.n_inline for c in cells),
                )
            )

    def emit(container, depth: int, path: tuple[str, ...]) -> None:
        for el in container:
            lc = _local(el.tag)
            if lc in _DROP:
                continue
            if lc in _INFO_TAGS:
                emit_info(el, depth)
                continue
            if lc in ("title", "subtitle"):
                emit_title(el, depth)
                continue
            if lc in _VERBATIM:
                b = make_block("".join(el.itertext()), path + ("pre",), "text")
                if b:
                    blocks.append(b)
                continue
            if lc in ("para", "simpara"):
                b = _para_block(el, path + ("p",), "text")
                if b is not None:
                    blocks.append(b)
                continue
            if lc == "formalpara":
                emit(el, depth, path)  # its title + para walk normally
                continue
            if lc in ("itemizedlist", "orderedlist", "variablelist", "simplelist", "segmentedlist", "glosslist", "procedure"):
                for item in el.iter():
                    ilc = _local(item.tag)
                    if ilc in ("listitem", "member", "term", "step", "glossterm", "glossdef", "seg"):
                        emit_list_item(item, path)
                continue
            if lc in ("row", "tr"):
                emit_row(el, path)
                continue
            if lc in _DIV_DEPTH or lc == "section":
                # DB5 <section> nests recursively: depth grows by one
                # per level; named divisions use their fixed depth
                emit(el, depth + 1 if lc == "section" else _DIV_DEPTH[lc], path)
                continue
            if len(el):
                emit(el, depth, path)
                continue
            b = _para_block(el, path + (lc,), "text")
            if b is not None:
                blocks.append(b)

    # emit() iterates a container's CHILDREN, so the root element
    # itself is the first container; its own title emits at its depth
    emit(root, _DIV_DEPTH.get(_local(root.tag), 1), ("db",))
    for i, b in enumerate(blocks):
        b.ordinal = i
    return blocks


def docbook_links(data: bytes | str) -> list[str]:
    """Outbound ABSOLUTE link targets (``ulink/@url`` and
    ``link/@xlink:href``), document order, duplicates preserved — the
    DocBook leg of outlink mining. Verbatim listings hold no link
    ELEMENTS (URLs in code are strings, the markdown fence rule), and
    dropped subtrees (footnotes, info metadata) are excluded with
    their constructs."""
    if isinstance(data, str):
        data = data.encode("utf-8", "ignore")
    try:
        root = ElementTree.fromstring(data)
    except XML_ERRORS:
        return []
    if _local(root.tag) not in _ROOT_NAMES:
        return []
    out: list[str] = []

    def walk(e) -> None:
        lc = _local(e.tag)
        if lc in _DROP or lc in _INFO_TAGS:
            return
        if lc == "ulink":
            url = e.get("url", "")
            if url.startswith(("http://", "https://")):
                out.append(url)
        elif lc == "link":
            for k, v in e.attrib.items():
                if _local(k) == "href" and v.startswith(("http://", "https://")):
                    out.append(v)
        for child in e:
            walk(child)

    walk(root)
    return out
