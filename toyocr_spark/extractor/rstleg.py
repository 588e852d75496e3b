"""reStructuredText tokenizer — the thirtieth leg of the format
dispatch, covering the markup of the Python documentation universe
(PyPI long_descriptions, Sphinx/readthedocs sources, PEPs, the
docutils ecosystem) — the dominant docs format of code-adjacent
crawls next to Markdown.

Reference analogue: the byte -> array decode seam shared by every
format leg (/root/reference/data/dataset_mapper.py:151-155).

SNIFF DISCIPLINE (the markdown/wikitext forgeable-surface rule): rst
has no magic bytes, so the gate demands structural evidence — a
section title UNDERLINE (a non-blank line followed by a full run of
one docutils adornment char at least as long as the title), plus >= 3
markers total, of which at least ONE is rst-EXCLUSIVE (a ``.. name::``
directive, a ``:Field:`` line, a ``::`` literal intro, or a
```text <url>`_`` reference). The exclusivity clause keeps the gate
off setext-Markdown READMEs (title underline + bullets alone never
suffice), so rst can slot BEFORE markdown in the no-magic chain; the
ATX-gated markdown sniff cannot claim an rst page in return, and
wikitext's ``== x ==`` heading lines are not title underlines here.

What is content and what is chrome:
- underline / overline section titles -> title blocks (level by
  adornment-char order of first appearance, the docutils rule);
  paragraphs and ``-``/``*``/``+``/enumerated items -> text/list
  blocks; grid-table rows -> table blocks (border art is structure).
- ``..`` comments, directives (``.. note::``, ``.. image::``, …) and
  hyperlink targets (``.. _name: url``) drop WITH their indented
  bodies (the docProps discipline: rendered chrome, never read), as
  do ``:Author:``-style field lists (bibliographic metadata) and
  transition lines.
- a ``::``-introduced indented literal block keeps its text as one
  block (the markdown fenced-code contract — code is content, its
  URLs are samples), with the intro paragraph keeping a bare ``:``
  per the docutils partial-collapse rule.
- inline: ```label <url>`_`` references resolve to the label with
  label chars counted as link chars (the true <a> analogue — a
  `Home <…>`_ | `About <…>`_ nav line dies by the shared density
  rule); ```name`_`` named references keep their text as PROSE (the
  wikitext internal-link rule: docs prose is reference-dense by
  construction); ``**bold**``/``*em*``/````literal````/:role:`x`
  resolve to inner text; footnote/citation refs ``[1]_`` drop.

Boundedness: one line walk, indent-bounded block consumption; all
text is a subset of the page-capped input. Determinism: malformed
markup tokenizes to whatever the truncated walk yields — same bytes,
same blocks, never an exception."""

from __future__ import annotations

import re

from toyocr_spark.extractor.tokenizer import Block, make_block, text_head


# docutils adornment characters (docs overwhelmingly use =-~^"'`#*+.)
_ADORN = "=-`:'\"~^_*+#<>!$%&(),./;?@[\\]{|}"
_ADORN_RE = re.compile(r"^([!-/:-@\[-`{-~])\1+\s*$")
_DIRECTIVE_RE = re.compile(r"^\.\.\s+[\w.-]+::")
_TARGET_RE = re.compile(r"^\.\.\s+_[^:]+:\s*(\S+)?\s*$")
_COMMENT_RE = re.compile(r"^\.\.(\s|$)")
_FIELD_RE = re.compile(r"^:[\w .-]+:(\s|$)")
_LIST_RE = re.compile(r"^(?:[-*+]|\d{1,9}[.)]|#\.)\s+(\S.*)$")
_GRID_BORDER_RE = re.compile(r"^\+[-=+]+\+\s*$")
_SIMPLE_BORDER_RE = re.compile(r"^=+(\s+=+)+\s*$")

# inline, innermost-first
_REF_URL_RE = re.compile(r"`([^`<>]*?)\s*<([^`<>]+)>`__?")
_REF_NAMED_RE = re.compile(r"`([^`<>]+)`__?(?![\w`])")
_ROLE_RE = re.compile(r":[\w.-]+:`([^`]*)`")
_LITERAL_SPAN_RE = re.compile(r"``([^`]+)``")
_EMPH_RE = re.compile(r"(\*\*|\*)(?=\S)(.+?)(?<=\S)\1")
_FOOTNOTE_RE = re.compile(r"\[[^\]\s]+\]_")
_ABS_URL_RE = re.compile(r"https?://\S+")

# sniff evidence (over the decoded head, multiline)
_EV_DIRECTIVE = re.compile(r"(?m)^\.\.\s+[\w.-]+::")
_EV_FIELD = re.compile(r"(?m)^:[\w .-]+:\s")
_EV_LITERAL = re.compile(r"(?m)::\s*$")
_EV_REF = re.compile(r"`[^`]+<[^`>]+>`__?")
_EV_LIST = re.compile(r"(?m)^(?:[-*+]|\d{1,9}[.)]|#\.)\s+\S")


def _title_underlines(text: str) -> int:
    """Count (title line, full-adornment underline >= title length)
    pairs — the construct that anchors the gate."""
    lines = text.split("\n")
    n = 0
    for i in range(1, len(lines)):
        t = lines[i - 1].rstrip()
        u = lines[i].rstrip()
        if (
            t
            and not t[0].isspace()
            and not _ADORN_RE.match(t)
            and _ADORN_RE.match(u)
            and len(u) >= len(t)
        ):
            n += 1
    return n


def is_rst(data: bytes | str | None) -> bool:
    """Structural-evidence gate (see module docstring): strict-UTF-8
    head, non-'<' first byte, >= 1 underlined title, >= 3 markers
    total with >= 1 rst-exclusive marker."""
    text = text_head(data)
    if text is None:
        return False
    stripped = text.lstrip()
    if not stripped or stripped[0] == "<":
        return False
    titles = _title_underlines(text)
    if not titles:
        return False
    exclusive = (
        min(2, len(_EV_DIRECTIVE.findall(text)))
        + min(2, len(_EV_FIELD.findall(text)))
        + min(1, len(_EV_LITERAL.findall(text)))
        + min(2, len(_EV_REF.findall(text)))
    )
    if exclusive == 0:
        return False
    evidence = exclusive + min(2, titles) + min(1, len(_EV_LIST.findall(text)))
    return evidence >= 3


def _render_block(raw: str, path: tuple[str, ...], kind: str) -> Block | None:
    """`make_block` of `raw` with inline rst resolved to plain text and
    its scorer signals counted (the markdown/wikitext _render_block
    contract)."""
    n_inline = 0
    link_chars = 0

    def _ref_url(m: re.Match) -> str:
        nonlocal n_inline, link_chars
        n_inline += 1
        label = " ".join(m.group(1).split())
        link_chars += len(label)
        return label

    def _keep_inner(m: re.Match) -> str:
        nonlocal n_inline
        n_inline += 1
        return m.group(1)

    text = _LITERAL_SPAN_RE.sub(_keep_inner, raw)
    text = _REF_URL_RE.sub(_ref_url, text)
    text = _REF_NAMED_RE.sub(_keep_inner, text)
    text = _ROLE_RE.sub(_keep_inner, text)
    text = _EMPH_RE.sub(lambda m: m.group(2), text)
    text, n = _FOOTNOTE_RE.subn("", text)
    n_inline += n
    return make_block(text, path, kind, link_chars, n_inline)


def _indent(line: str) -> int:
    return len(line) - len(line.lstrip(" "))


def tokenize_rst(data: bytes) -> list[Block]:
    """Parse rst bytes into Blocks: one per section title / paragraph /
    list item / grid-table row / literal block, directives, comments,
    targets and field lists dropped with their bodies, sharing the
    HTML leg's kinds so XY-cut, scoring and islands apply unchanged."""
    text = bytes(data).decode("utf-8", errors="replace")  # never raises
    lines = text.split("\n")
    i, n = 0, len(lines)
    blocks: list[Block] = []
    para: list[str] = []
    adorn_order: list[str] = []  # docutils: level = order of first use
    in_table = False

    def flush() -> None:
        if para:
            b = _render_block(" ".join(para), ("rst", "p"), "text")
            if b:
                blocks.append(b)
            para.clear()

    def consume_indented(j: int) -> int:
        """Skip a construct's indented body (directive/comment/target
        bodies are chrome): blank lines and any line indented deeper
        than the construct's marker column."""
        while j < n and (not lines[j].strip() or _indent(lines[j]) > 0):
            j += 1
        return j

    while i < n:
        line = lines[i]
        stripped = line.strip()
        if not stripped:
            flush()
            in_table = False
            i += 1
            continue
        if _indent(line) == 0 and _COMMENT_RE.match(stripped):
            # directive, hyperlink target, or comment: drop marker +
            # indented body wholesale (rendered chrome, never read)
            flush()
            i = consume_indented(i + 1)
            continue
        if _GRID_BORDER_RE.match(stripped) or _SIMPLE_BORDER_RE.match(stripped):
            flush()
            in_table = True
            i += 1
            continue
        if in_table and stripped.startswith("|"):
            cells = [c.strip() for c in stripped.strip("|").split("|")]
            b = _render_block(" ".join(c for c in cells if c), ("rst", "tr"), "table")
            if b:
                blocks.append(b)
            i += 1
            continue
        if _indent(line) == 0 and _FIELD_RE.match(stripped):
            # bibliographic field list (:Author: …): metadata chrome
            flush()
            i = consume_indented(i + 1)
            continue
        # adornment line: underline for the pending one-line paragraph
        # (a section title), overline opener, or a bare transition
        if _ADORN_RE.match(stripped):
            if len(para) == 1 and len(stripped) >= len(para[0].strip()):
                title = para[0].strip()
                para.clear()
                ch = stripped[0]
                if ch not in adorn_order:
                    adorn_order.append(ch)
                level = adorn_order.index(ch) + 1
                b = _render_block(title, ("rst", f"h{min(level, 6)}"), "title")
                if b:
                    blocks.append(b)
                i += 1
                continue
            if not para and i + 2 < n and lines[i + 1].strip():
                t = lines[i + 1].strip()
                u = lines[i + 2].strip()
                if (
                    _ADORN_RE.match(u)
                    and u[0] == stripped[0]
                    and len(stripped) >= len(t)
                    and len(u) >= len(t)
                ):
                    # overline+underline title
                    ch = stripped[0]
                    if ch not in adorn_order:
                        adorn_order.append(ch)
                    level = adorn_order.index(ch) + 1
                    b = _render_block(t, ("rst", f"h{min(level, 6)}"), "title")
                    if b:
                        blocks.append(b)
                    i += 3
                    continue
            flush()  # transition (or stray art): structure, not prose
            i += 1
            continue
        m = _LIST_RE.match(stripped)
        if m and _indent(line) == 0:
            flush()
            b = _render_block(m.group(1), ("rst", "li"), "list")
            if b:
                blocks.append(b)
            i += 1
            continue
        if stripped.endswith("::") and _indent(line) == 0:
            # literal-block intro: paragraph keeps a trailing ':' when
            # prose precedes '::' (docutils partial collapse); the
            # indented literal body becomes ONE block (fenced-code rule)
            intro = stripped[:-2].rstrip()
            if intro:
                para.append(intro + ":")
            flush()
            i += 1
            code: list[str] = []
            while i < n and (not lines[i].strip() or _indent(lines[i]) > 0):
                code.append(lines[i].strip())
                i += 1
            b = make_block(" ".join(code), ("rst", "pre"), "text")
            if b:
                blocks.append(b)
            continue
        para.append(stripped)
        i += 1
    flush()
    for k, b in enumerate(blocks):
        b.ordinal = k
    return blocks


def rst_links(data: bytes) -> list[str]:
    """Outbound ABSOLUTE link targets, document order, duplicates
    preserved — the rst leg of outlink mining: inline
    ```label <url>`_`` references plus ``.. _name: url`` hyperlink
    targets (the construct that backs ```name`_`` prose refs).
    Literal blocks and directive bodies are excluded with their
    constructs (a URL inside a code sample is a sample — the
    markdown fence rule)."""
    if not isinstance(data, (bytes, bytearray)):
        return []
    out: list[str] = []
    lines = bytes(data).decode("utf-8", errors="replace").split("\n")
    i, n = 0, len(lines)
    while i < n:
        stripped = lines[i].strip()
        if not stripped:
            i += 1
            continue
        if _indent(lines[i]) == 0 and _COMMENT_RE.match(stripped):
            m = _TARGET_RE.match(stripped)
            if m and m.group(1) and _ABS_URL_RE.match(m.group(1)):
                out.append(m.group(1))
            i += 1
            while i < n and (not lines[i].strip() or _indent(lines[i]) > 0):
                i += 1
            continue
        if stripped.endswith("::") and _indent(lines[i]) == 0:
            i += 1
            while i < n and (not lines[i].strip() or _indent(lines[i]) > 0):
                i += 1
            continue
        for m in _REF_URL_RE.finditer(stripped):
            if _ABS_URL_RE.match(m.group(2)):
                out.append(m.group(2))
        i += 1
    return out
