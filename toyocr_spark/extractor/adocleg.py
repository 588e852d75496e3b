"""AsciiDoc tokenizer — the thirty-second leg of the format dispatch,
covering the lightweight markup of technical-book and project-docs
crawls (Git/GitHub documentation, O'Reilly Atlas sources, Antora
sites) — the heavier-duty sibling of Markdown in code-adjacent
corpora.

Reference analogue: the byte -> array decode seam shared by every
format leg (/root/reference/data/dataset_mapper.py:151-155).

SNIFF DISCIPLINE (the markdown/rst forgeable-surface rule): AsciiDoc
has no magic bytes, so the gate demands the document-header
convention — a ``= Title`` line as the FIRST significant line (the
one construct every AsciiDoc document leads with, which neither
Markdown (ATX uses '#'), rst (titles are underlined), wikitext
(``== x ==`` needs the trailing run) nor prose carries) — plus >= 2
further markers among ``== Section`` lines, ``:name:`` attribute
entries, ``----``/``....`` block delimiters, ``[source]``-style
attribute lines, list items and url[label] macros. First-line
anchoring means no other no-magic leg can be claimed: latex demands
``\\documentclass``, and an rst/markdown/wikitext page never leads
with ``= x``.

What is content and what is chrome:
- the ``= Title`` doc title and ``== x``…``====== x`` section titles
  -> title blocks; paragraphs and ``*``/``-``/``.`` list items ->
  text/list blocks; ``|===`` table rows -> table blocks.
- the doc-header block BELOW the title (author/revision lines up to
  the first blank) and ``:name: value`` attribute entries are
  METADATA (the docProps discipline, rendered into footers — never
  read); ``//`` comments, ``////`` comment blocks, ``[attr]`` lines,
  ``.Block Title`` caption lines and ``image::``/``include::``/
  ``toc::`` block macros drop.
- ``----`` and ``....`` delimited listing/literal blocks keep their
  text as ONE block (the fenced-code rule); ``====`` example and
  ``____`` quote delimiters are structure (inner lines parse
  normally).
- NOTE:/TIP:/WARNING:-led admonition paragraphs drop wholesale (the
  rst-directive rule: rendered asides, not body prose).
- inline: ``https://url[label]`` and ``link:url[label]`` macros
  resolve to the label with label chars counted as link chars (the
  true <a> analogue — an url[Home] nav line dies by the shared
  density rule); ``*bold*``/``_em_``/`` `code` `` marks strip;
  ``footnote:[x]`` and unresolved ``{attr}`` references drop.

Boundedness: one line walk, delimiter-bounded block consumption; all
text is a subset of the page-capped input. Determinism: malformed
markup tokenizes to whatever the truncated walk yields — same bytes,
same blocks, never an exception."""

from __future__ import annotations

import re

from toyocr_spark.extractor.tokenizer import Block, make_block, text_head


_DOC_TITLE_RE = re.compile(r"^=\s+(\S.*)$")
_SECTION_RE = re.compile(r"^(={2,6})\s+(\S.*)$")
_ATTR_ENTRY_RE = re.compile(r"^:[!\w-]+:(\s|$)")
_ATTR_LINE_RE = re.compile(r"^\[[^\]]*\]\s*$")
_LIST_RE = re.compile(r"^(?:[*-]+|\.{1,5}|\d{1,9}\.)\s+(\S.*)$")
_DELIM_LITERAL_RE = re.compile(r"^(-{4,}|\.{4,})\s*$")
_DELIM_STRUCT_RE = re.compile(r"^(={4,}|_{4,}|\*{4,})\s*$")
_TABLE_DELIM_RE = re.compile(r"^\|===+\s*$")
_BLOCK_MACRO_RE = re.compile(r"^[a-z]+::[^\s\[]*\[[^\]]*\]\s*$")
_BLOCK_TITLE_RE = re.compile(r"^\.(?![.\s])\S.*$")
_ADMONITION_RE = re.compile(r"^(NOTE|TIP|IMPORTANT|WARNING|CAUTION):\s")

# inline, innermost-first
_URL_MACRO_RE = re.compile(r"(?:link:)?(https?://[^\s\[\]]+)\[([^\]]*)\]")
_FOOTNOTE_RE = re.compile(r"footnote(?::\w*)?:\[[^\]]*\]")
_ATTR_REF_RE = re.compile(r"\{[\w-]+\}")
_CODE_SPAN_RE = re.compile(r"`([^`]+)`")
_BOLD_RE = re.compile(r"\*(?=\S)([^*]+?)(?<=\S)\*")
_EM_RE = re.compile(r"(?<![A-Za-z0-9])_(?=\S)([^_]+?)(?<=\S)_(?![A-Za-z0-9])")

# sniff evidence (over the decoded head, multiline)
_EV_SECTION = re.compile(r"(?m)^={2,6}\s+\S")
_EV_ATTR = re.compile(r"(?m)^:[!\w-]+:(\s|$)")
_EV_DELIM = re.compile(r"(?m)^(-{4,}|\.{4,})\s*$")
_EV_ATTRLINE = re.compile(r"(?m)^\[[^\]]*\]\s*$")
_EV_LIST = re.compile(r"(?m)^(?:[*-]+|\.{1,5}|\d{1,9}\.)\s+\S")
_EV_URLMACRO = re.compile(r"https?://[^\s\[\]]+\[[^\]]*\]")


def is_adoc(data: bytes | str | None) -> bool:
    """Structural-evidence gate (see module docstring): strict-UTF-8
    head, a ``= Title`` FIRST significant line, >= 2 further
    markers."""
    text = text_head(data)
    if text is None:
        return False
    first = next((ln for ln in text.split("\n") if ln.strip()), "")
    if not _DOC_TITLE_RE.match(first.strip()):
        return False
    evidence = (
        min(2, len(_EV_SECTION.findall(text)))
        + min(2, len(_EV_ATTR.findall(text)))
        + min(1, len(_EV_DELIM.findall(text)))
        + min(1, len(_EV_ATTRLINE.findall(text)))
        + min(1, len(_EV_LIST.findall(text)))
        + min(2, len(_EV_URLMACRO.findall(text)))
    )
    return evidence >= 2


def _render_block(raw: str, path: tuple[str, ...], kind: str) -> Block | None:
    """`make_block` of `raw` with inline AsciiDoc resolved to plain
    text and its scorer signals counted (the markdown/rst
    _render_block contract)."""
    n_inline = 0
    link_chars = 0

    def _url(m: re.Match) -> str:
        nonlocal n_inline, link_chars
        n_inline += 1
        label = " ".join(m.group(2).split())
        link_chars += len(label)
        return label  # bare url[] -> '' (the rendered-url-only form)

    def _keep_inner(m: re.Match) -> str:
        nonlocal n_inline
        n_inline += 1
        return m.group(1)

    text, n = _FOOTNOTE_RE.subn("", raw)
    n_inline += n
    text = _URL_MACRO_RE.sub(_url, text)
    text, n = _ATTR_REF_RE.subn("", text)
    n_inline += n
    text = _CODE_SPAN_RE.sub(_keep_inner, text)
    text = _BOLD_RE.sub(_keep_inner, text)
    text = _EM_RE.sub(_keep_inner, text)
    return make_block(text, path, kind, link_chars, n_inline)


def tokenize_adoc(data: bytes) -> list[Block]:
    """Parse AsciiDoc bytes into Blocks: one per title / paragraph /
    list item / table row / literal block, header metadata, comments,
    attribute machinery and admonitions dropped, sharing the HTML
    leg's kinds so XY-cut, scoring and islands apply unchanged."""
    text = bytes(data).decode("utf-8", errors="replace")  # never raises
    lines = text.split("\n")
    i, n = 0, len(lines)
    blocks: list[Block] = []
    para: list[str] = []
    in_table = False
    seen_title = False

    def flush() -> None:
        if para:
            b = _render_block(" ".join(para), ("adoc", "p"), "text")
            if b:
                blocks.append(b)
            para.clear()

    while i < n:
        line = lines[i]
        stripped = line.strip()
        if not stripped:
            flush()
            i += 1
            continue
        if stripped.startswith("////"):
            # comment block: consume to the closing delimiter
            flush()
            i += 1
            while i < n and not lines[i].strip().startswith("////"):
                i += 1
            i += 1
            continue
        if stripped.startswith("//"):
            i += 1
            continue
        m = _DOC_TITLE_RE.match(stripped)
        if m and not seen_title and not para:
            seen_title = True
            b = _render_block(m.group(1), ("adoc", "h1"), "title")
            if b:
                blocks.append(b)
            # doc-header block: author/revision lines up to the first
            # blank are metadata (rendered into the footer, never read)
            i += 1
            while i < n and lines[i].strip():
                if _ATTR_ENTRY_RE.match(lines[i].strip()):
                    break  # attribute entries handle themselves below
                i += 1
            continue
        m = _SECTION_RE.match(stripped)
        if m:
            flush()
            b = _render_block(m.group(2), ("adoc", f"h{len(m.group(1))}"), "title")
            if b:
                blocks.append(b)
            i += 1
            continue
        if _ATTR_ENTRY_RE.match(stripped) and not para:
            i += 1
            continue
        if _ATTR_LINE_RE.match(stripped):
            flush()
            i += 1
            continue
        if _BLOCK_MACRO_RE.match(stripped):
            flush()
            i += 1
            continue
        if _BLOCK_TITLE_RE.match(stripped) and not para:
            # .Block Title caption line: rendered chrome above a block
            i += 1
            continue
        if _ADMONITION_RE.match(stripped):
            # admonition paragraph: drop wholesale (the rst-directive
            # rule) — consume its continuation lines too
            flush()
            i += 1
            while i < n and lines[i].strip():
                i += 1
            continue
        m = _DELIM_LITERAL_RE.match(stripped)
        if m:
            # listing/literal block: one pre block (fenced-code rule)
            flush()
            delim = stripped
            i += 1
            code: list[str] = []
            while i < n and lines[i].strip() != delim:
                code.append(lines[i].strip())
                i += 1
            i += 1  # past the closing delimiter (or EOF)
            b = make_block(" ".join(code), ("adoc", "pre"), "text")
            if b:
                blocks.append(b)
            continue
        if _DELIM_STRUCT_RE.match(stripped):
            flush()  # example/quote/sidebar delimiter: structure only
            i += 1
            continue
        if _TABLE_DELIM_RE.match(stripped):
            flush()
            in_table = not in_table
            i += 1
            continue
        if in_table and stripped.startswith("|"):
            cells = [c.strip() for c in stripped.strip("|").split("|")]
            b = _render_block(" ".join(c for c in cells if c), ("adoc", "tr"), "table")
            if b:
                blocks.append(b)
            i += 1
            continue
        m = _LIST_RE.match(stripped)
        if m and not para:
            flush()
            b = _render_block(m.group(1), ("adoc", "li"), "list")
            if b:
                blocks.append(b)
            i += 1
            continue
        para.append(stripped)
        i += 1
    flush()
    for k, b in enumerate(blocks):
        b.ordinal = k
    return blocks


def adoc_links(data: bytes) -> list[str]:
    """Outbound ABSOLUTE link targets (url[label] / link:url[label]
    macros), document order, duplicates preserved — the AsciiDoc leg
    of outlink mining. Listing/literal blocks and comments are
    excluded with their constructs (the markdown fence rule);
    image::/include:: block macros are resource references, not
    edges."""
    if not isinstance(data, (bytes, bytearray)):
        return []
    out: list[str] = []
    lines = bytes(data).decode("utf-8", errors="replace").split("\n")
    i, n = 0, len(lines)
    while i < n:
        stripped = lines[i].strip()
        if stripped.startswith("////"):
            i += 1
            while i < n and not lines[i].strip().startswith("////"):
                i += 1
            i += 1
            continue
        if stripped.startswith("//") or _BLOCK_MACRO_RE.match(stripped):
            i += 1
            continue
        m = _DELIM_LITERAL_RE.match(stripped)
        if m:
            delim = stripped
            i += 1
            while i < n and lines[i].strip() != delim:
                i += 1
            i += 1
            continue
        for m in _URL_MACRO_RE.finditer(stripped):
            out.append(m.group(1))
        i += 1
    return out
