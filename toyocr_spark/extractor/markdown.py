"""Markdown tokenizer — the fifteenth leg of the format dispatch,
covering the plain-text markup that dominates code-adjacent crawls
(GitHub READMEs, documentation sites, static-site sources). CommonMark
core: ATX + setext headings, paragraphs, fenced code, list items,
pipe tables, blockquotes, thematic breaks, inline links/images/code/
emphasis, YAML front matter.

Reference analogue: the byte -> array decode seam shared by every
format leg (/root/reference/data/dataset_mapper.py:151-155).

SNIFF DISCIPLINE (the zlib precedent, extractor/core.py:_unzlib):
Markdown has no magic bytes and its surface is forgeable by prose, so
the gate demands strong structural evidence — strict-UTF-8 head, a
non-'<' first significant byte (tagged pages always win), an ATX
heading at a line start, AND at least three structural markers total
(headings / fences / list items / md links / setext underlines).
A prose page with one '#'-prefixed line stays prose; an HTML page
embedding a markdown sample stays HTML — both trap-pinned in
tests/test_markdown.py. Pages the gate accepts previously fell through
to the HTML tokenizer's one-giant-text-block path (untagged bytes), so
no tag-bearing page's byte-identity can change.

Boilerplate dies by the SHARED rules, mapped faithfully onto markdown:
link text counts as link chars (a `[Home](..) | [About](..)` nav line
is link-dominated exactly like HTML <a> crumbs), inline markup counts
as markup weight, YAML front matter is structural metadata never read
(the styles.xml discipline). Malformed input tokenizes to whatever the
truncated walk yields — same bytes, same blocks, never an exception.
"""

from __future__ import annotations

import re

from toyocr_spark.extractor.tokenizer import ABS_HREF_RE, Block, make_block

_ATX_RE = re.compile(r"^(#{1,6})[ \t]+(.*?)[ \t]*#*[ \t]*$")
_FENCE_RE = re.compile(r"^(```+|~~~+)\s*\S*\s*$")
_LIST_RE = re.compile(r"^[ ]{0,3}(?:[-*+]|\d{1,9}[.)])[ \t]+(\S.*)$")
_BREAK_RE = re.compile(r"^[ ]{0,3}(?:-[ \t]*){3,}$|^[ ]{0,3}(?:\*[ \t]*){3,}$|^[ ]{0,3}(?:_[ \t]*){3,}$")
_SETEXT_EQ_RE = re.compile(r"^[ ]{0,3}=+[ \t]*$")
_SETEXT_DASH_RE = re.compile(r"^[ ]{0,3}-+[ \t]*$")
_TABLE_ROW_RE = re.compile(r"^[ ]{0,3}\|.*\|[ \t]*$")
_TABLE_SEP_RE = re.compile(r"^[ ]{0,3}\|[ \t:\-|]+\|[ \t]*$")
_QUOTE_RE = re.compile(r"^[ ]{0,3}>[ \t]?(.*)$")

# inline, innermost-first: image before link (the '![' prefix),
# code span, autolink, emphasis, raw HTML tag
_IMG_RE = re.compile(r"!\[([^\]]*)\]\(([^)\s]+)(?:\s+\"[^\"]*\")?\)")
_LINK_RE = re.compile(r"\[([^\]]+)\]\(([^)\s]+)(?:\s+\"[^\"]*\")?\)")
_CODE_SPAN_RE = re.compile(r"`+([^`]+)`+")
_AUTOLINK_RE = re.compile(r"<(https?://[^>\s]+)>")
_EMPH_RE = re.compile(r"(\*\*|\*|~~)(?=\S)(.+?)(?<=\S)\1")
# intra-word underscores (snake_case identifiers) are NOT emphasis
# (CommonMark 6.2): require non-alnum on both flanks
_EMPH_U_RE = re.compile(r"(?<![A-Za-z0-9])(__|_)(?=\S)(.+?)(?<=\S)\1(?![A-Za-z0-9])")
_HTML_TAG_RE = re.compile(r"</?[a-zA-Z][^>]*>")
_HTML_ABS_HREF_RE = ABS_HREF_RE  # the shared absolute-href definition

# sniff evidence patterns (over the decoded head, multiline)
_EV_HEADING = re.compile(r"(?m)^#{1,6}[ \t]+\S")
_EV_FENCE = re.compile(r"(?m)^(```|~~~)")
_EV_LIST = re.compile(r"(?m)^[ ]{0,3}(?:[-*+]|\d{1,9}[.)])[ \t]+\S")
_EV_LINK = re.compile(r"\[[^\]]+\]\(https?://")
_EV_SETEXT = re.compile(r"(?m)^=+[ \t]*$")

_SNIFF_BYTES = 4096


def is_markdown(data: bytes | str | None) -> bool:
    """Structural-evidence gate (see module docstring): strict-UTF-8
    head, first significant byte not '<' or NUL, an ATX heading at a
    line start, and >= 3 structural markers total."""
    if not isinstance(data, (bytes, bytearray)):
        return False
    head = bytes(data[:_SNIFF_BYTES])
    if b"\x00" in head:
        return False
    # trim a trailing partial UTF-8 sequence before the strict decode
    for cut in range(4):
        try:
            text = head[: len(head) - cut].decode("utf-8")
            break
        except UnicodeDecodeError:
            continue
    else:
        return False
    stripped = text.lstrip()
    if not stripped or stripped[0] == "<":
        return False
    if not _EV_HEADING.search(text):
        return False
    evidence = 0
    evidence += min(2, len(_EV_HEADING.findall(text)))
    evidence += min(2, len(_EV_FENCE.findall(text)))
    evidence += min(2, len(_EV_LIST.findall(text)))
    evidence += min(2, len(_EV_LINK.findall(text)))
    evidence += min(1, len(_EV_SETEXT.findall(text)))
    return evidence >= 3


def _render_block(raw: str, path: tuple[str, ...], kind: str) -> Block | None:
    """`make_block` of `raw` with inline markup resolved to plain text
    and the scorer's signals counted: link text -> link chars (the <a> analogue),
    every resolved construct -> one unit of markup weight."""
    n_inline = 0
    link_chars = 0

    def _img(m: re.Match) -> str:
        nonlocal n_inline
        n_inline += 1
        return m.group(1)

    def _link(m: re.Match) -> str:
        nonlocal n_inline, link_chars
        n_inline += 1
        link_chars += len(" ".join(m.group(1).split()))
        return m.group(1)

    def _auto(m: re.Match) -> str:
        nonlocal n_inline, link_chars
        n_inline += 1
        link_chars += len(m.group(1))
        return m.group(1)

    def _count(m: re.Match) -> str:
        nonlocal n_inline
        n_inline += 1
        return m.group(1) if m.lastindex else ""

    def _emph(m: re.Match) -> str:
        nonlocal n_inline
        n_inline += 1
        return m.group(2)

    text = _IMG_RE.sub(_img, raw)
    text = _LINK_RE.sub(_link, text)
    text = _CODE_SPAN_RE.sub(_count, text)
    text = _AUTOLINK_RE.sub(_auto, text)
    # emphasis can nest one level (**bold with *em* inside**): two passes
    text = _EMPH_RE.sub(_emph, text)
    text = _EMPH_RE.sub(_emph, text)
    text = _EMPH_U_RE.sub(_emph, text)
    text = _EMPH_U_RE.sub(_emph, text)
    text = _HTML_TAG_RE.sub(lambda m: _count(m) or "", text)
    return make_block(text, path, kind, link_chars, n_inline)


def tokenize_markdown(data: bytes) -> list[Block]:
    """Parse markdown bytes into Blocks: one per heading / paragraph /
    list item / table row / fenced code block, sharing the HTML leg's
    kinds so XY-cut, scoring and islands apply unchanged."""
    text = bytes(data).decode("utf-8", errors="replace")  # never raises
    lines = text.split("\n")
    i, n = 0, len(lines)
    # YAML front matter: structural metadata, never read (the
    # styles.xml / docProps discipline — q152 plants a title: decoy)
    if lines and lines[0].rstrip() == "---":
        j = 1
        while j < n and lines[j].rstrip() not in ("---", "..."):
            j += 1
        if j < n:
            i = j + 1

    blocks: list[Block] = []
    para: list[str] = []

    def flush() -> None:
        if para:
            b = _render_block(" ".join(para), ("md", "p"), "text")
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
        m = _FENCE_RE.match(stripped)
        if m:
            flush()
            fence = m.group(1)[0] * 3
            i += 1
            code: list[str] = []
            while i < n and not lines[i].strip().startswith(fence):
                code.append(lines[i])
                i += 1
            i += 1  # past the closing fence (or EOF)
            b = make_block(" ".join(code), ("md", "pre"), "text")
            if b:
                blocks.append(b)
            continue
        m = _ATX_RE.match(line)
        if m:
            flush()
            b = _render_block(m.group(2), ("md", f"h{len(m.group(1))}"), "title")
            if b:
                blocks.append(b)
            i += 1
            continue
        if para and _SETEXT_EQ_RE.match(line):
            b = _render_block(" ".join(para), ("md", "h1"), "title")
            para.clear()
            if b:
                blocks.append(b)
            i += 1
            continue
        if para and _SETEXT_DASH_RE.match(line) and len(line.strip()) >= 2:
            b = _render_block(" ".join(para), ("md", "h2"), "title")
            para.clear()
            if b:
                blocks.append(b)
            i += 1
            continue
        if _BREAK_RE.match(line):
            flush()
            i += 1
            continue
        if _TABLE_ROW_RE.match(line):
            flush()
            if not _TABLE_SEP_RE.match(line):
                cells = [c.strip() for c in stripped.strip("|").split("|")]
                b = _render_block(" ".join(c for c in cells if c), ("md", "tr"), "table")
                if b:
                    blocks.append(b)
            i += 1
            continue
        m = _LIST_RE.match(line)
        if m:
            flush()
            item = [m.group(1)]
            i += 1
            # lazy continuation: indented follow-on lines join the item
            while i < n and lines[i].startswith(("    ", "\t")) and lines[i].strip():
                item.append(lines[i].strip())
                i += 1
            b = _render_block(" ".join(item), ("md", "li"), "list")
            if b:
                blocks.append(b)
            continue
        m = _QUOTE_RE.match(line)
        if m:
            para.append(m.group(1))
            i += 1
            continue
        para.append(stripped)
        i += 1
    flush()
    for k, b in enumerate(blocks):
        b.ordinal = k
    return blocks


def markdown_links(data: bytes) -> list[str]:
    """Outbound ABSOLUTE link targets ([text](url), <autolink>, and
    raw inline-HTML <a href=...> anchors — spec-legal and ubiquitous
    in READMEs), duplicates preserved, grouped BY PATTERN FAMILY
    (all md links, then autolinks, then HTML anchors; within a family,
    document order) — the markdown leg of outlink mining. Relative
    targets are intra-repo navigation, not edges (the epub_links
    contract). Fenced code is excluded: a URL inside a code sample is
    quotation, not an assertion of linkage."""
    if not isinstance(data, (bytes, bytearray)):
        return []
    text = bytes(data).decode("utf-8", errors="replace")  # never raises
    out_lines: list[str] = []
    in_fence = False
    fence = "```"
    for line in text.split("\n"):
        s = line.strip()
        m = _FENCE_RE.match(s)
        if m and not in_fence:
            in_fence, fence = True, m.group(1)[0] * 3
            continue
        if in_fence:
            if s.startswith(fence):
                in_fence = False
            continue
        out_lines.append(line)
    body = "\n".join(out_lines)
    out: list[str] = []
    for m in _LINK_RE.finditer(body):
        if "://" in m.group(2):
            out.append(m.group(2))
    for m in _AUTOLINK_RE.finditer(body):
        out.append(m.group(1))
    for m in _HTML_ABS_HREF_RE.finditer(body):
        out.append(m.group(1))
    return out
