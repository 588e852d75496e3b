"""MediaWiki wikitext tokenizer — the twenty-first leg of the format
dispatch, covering the markup of the MediaWiki universe (Wikipedia
dumps' <text> payloads, action=raw exports, the long tail of wiki
sites) — the single most-curated encyclopedic training source on the
web.

Reference analogue: the byte -> array decode seam shared by every
format leg (/root/reference/data/dataset_mapper.py:151-155).

SNIFF DISCIPLINE (the markdown/csv forgeable-surface rule): wikitext
has no magic bytes, so the gate demands structural evidence — a
``== Heading ==`` line (the construct prose never carries) plus >= 3
markers total among headings, [[wikilinks]], {{templates}}, bullet
lines and bold quotes. The gate slots between latex and markdown in
the no-magic sniff chain: it cannot claim latex (no \\documentclass
first line here) or be claimed by markdown (which demands an ATX
heading wikitext lacks).

What is content and what is chrome:
- ``== Heading ==`` -> title blocks; paragraphs, ``*``/``#`` list
  items and ``{| ... |}`` table rows -> text/list/table blocks.
- {{templates}} are STRUCTURE, not prose — infoboxes, navboxes,
  citation templates all drop wholesale, including multi-line
  templates tracked by brace depth across lines (the docProps
  discipline: rendered chrome, never read).
- [[Target|display]] resolves to its display text, [[Target]] to the
  target — internal wikilinks are PROSE (a Wikipedia lede is
  wikilink-dense; counting them as link chars would kill exactly the
  text we want), so they add markup weight but no link chars.
  [http://x label] EXTERNAL links resolve to the label with the
  label counted as link chars (the true <a> analogue) — an external
  link farm dies by the shared link-density rule. Bare [http://x]
  numbered refs, [[File:/Image:...]] media links (captions are
  render-chrome) and [[Category:...]] tags drop entirely.
- <ref>...</ref> citations, <!-- comments -->, __MAGICWORDS__ and
  residual HTML tags strip; ''italic''/'''bold''' quotes resolve.

Boundedness: template stripping iterates innermost-out a bounded
number of rounds; all text is a subset of the page-capped input.
Determinism: malformed markup tokenizes to whatever the truncated
walk yields — same bytes, same blocks, never an exception."""

from __future__ import annotations

import re

from toyocr_spark.extractor.tokenizer import Block, make_block, text_head

MAX_TEMPLATE_ROUNDS = 24  # innermost-out {{...}} elimination bound

# heading CONTENT must contain a non-'=' char: a bare run of '='
# (an rst/setext title adornment bar) is not a MediaWiki heading,
# and must not let the wikitext gate claim rst docs pages
_HEADING_RE = re.compile(r"^(={2,6})\s*([^=\s].*?|[^=\s])\s*\1\s*$")
_EV_HEADING = re.compile(r"(?m)^={2,6}\s*[^=\s][^=\n]*={2,6}\s*$")
_EV_WIKILINK = re.compile(r"\[\[[^\]\n]+\]\]")
_EV_TEMPLATE = re.compile(r"\{\{[^}\n]*\}\}")
_EV_BULLET = re.compile(r"(?m)^[*#;:]+\s*\S")
_EV_BOLD = re.compile(r"'''")

_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_REF_RE = re.compile(r"<ref[^>/]*>.*?</ref\s*>|<ref[^>]*/>", re.S | re.I)
_TEMPLATE_RE = re.compile(r"\{\{[^{}]*\}\}")
_MAGIC_RE = re.compile(r"__[A-Z]+__")
_FILE_RE = re.compile(r"\[\[(?:File|Image|Category)\s*:[^\[\]]*\]\]", re.I)
_WIKILINK_RE = re.compile(r"\[\[([^\[\]|]+)(?:\|([^\[\]]*))?\]\]")
_EXTLINK_RE = re.compile(r"\[(https?://[^\s\]]+)(?:\s+([^\]]*))?\]")
_QUOTES_RE = re.compile(r"'{2,5}")
_HTML_TAG_RE = re.compile(r"</?[a-zA-Z][^>]*>")
_RULE_RE = re.compile(r"^-{4,}\s*$")


def is_wikitext(data: bytes | str | None) -> bool:
    """Structural-evidence gate (see module docstring): strict-UTF-8
    head, non-'<' first byte, a == Heading == line, >= 3 markers."""
    text = text_head(data)
    if text is None:
        return False
    stripped = text.lstrip()
    if not stripped or stripped[0] == "<":
        return False
    if not _EV_HEADING.search(text):
        return False
    evidence = 0
    evidence += min(2, len(_EV_HEADING.findall(text)))
    evidence += min(2, len(_EV_WIKILINK.findall(text)))
    evidence += min(2, len(_EV_TEMPLATE.findall(text)))
    evidence += min(1, len(_EV_BULLET.findall(text)))
    evidence += min(1, len(_EV_BOLD.findall(text)))
    return evidence >= 3


def _render_block(raw: str, path: tuple[str, ...], kind: str) -> Block | None:
    """`make_block` of `raw` with inline wikitext resolved to plain
    text and its scorer signals counted (the markdown _render_block
    contract)."""
    n_inline = 0
    link_chars = 0
    text = raw

    # remaining inline {{templates}} (multi-line ones were removed at
    # the line stage): innermost-out so nesting unwinds
    for _ in range(MAX_TEMPLATE_ROUNDS):
        text, n = _TEMPLATE_RE.subn("", text)
        if not n:
            break
        n_inline += n
    text, n = _FILE_RE.subn("", text)
    n_inline += n

    def _wikilink(m: re.Match) -> str:
        nonlocal n_inline
        n_inline += 1
        shown = m.group(2) if m.group(2) is not None else m.group(1)
        return shown

    def _extlink(m: re.Match) -> str:
        nonlocal n_inline, link_chars
        n_inline += 1
        label = " ".join((m.group(2) or "").split())
        link_chars += len(label)
        return label  # bare [http://x] -> '' (a numbered ref)

    text = _WIKILINK_RE.sub(_wikilink, text)
    text = _EXTLINK_RE.sub(_extlink, text)
    text, n = _QUOTES_RE.subn("", text)
    n_inline += n
    text, n = _MAGIC_RE.subn("", text)
    n_inline += n
    text, n = _HTML_TAG_RE.subn("", text)
    n_inline += n
    return make_block(text, path, kind, link_chars, n_inline)


def tokenize_wikitext(data: bytes) -> list[Block]:
    """Parse wikitext bytes into Blocks: one per heading / paragraph /
    list item / table row, multi-line templates and citations dropped,
    sharing the HTML leg's kinds so XY-cut, scoring and islands apply
    unchanged."""
    text = bytes(data).decode("utf-8", errors="replace")  # never raises
    # document-wide strips that legitimately span lines
    text = _COMMENT_RE.sub("", text)
    text = _REF_RE.sub("", text)
    lines = text.split("\n")
    i, n = 0, len(lines)
    blocks: list[Block] = []
    para: list[str] = []
    tpl_depth = 0  # multi-line {{template}} depth (infobox/navbox skip)
    in_table = False

    def flush() -> None:
        if para:
            b = _render_block(" ".join(para), ("wiki", "p"), "text")
            if b:
                blocks.append(b)
            para.clear()

    while i < n:
        line = lines[i]
        stripped = line.strip()
        if tpl_depth > 0:
            # inside a multi-line template: consume until braces close
            tpl_depth += line.count("{{") - line.count("}}")
            if tpl_depth < 0:
                tpl_depth = 0
            i += 1
            continue
        if stripped.startswith("{{"):
            # a template OPENING at line start: if it closes on the
            # same line it is inline chrome (_render_block drops it
            # anyway when part of a paragraph) — here it stands alone,
            # so drop the whole construct, multi-line or not
            flush()
            depth = line.count("{{") - line.count("}}")
            if depth > 0:
                tpl_depth = depth
            i += 1
            continue
        if not stripped:
            flush()
            in_table = False
            i += 1
            continue
        if stripped.startswith("{|"):
            flush()
            in_table = True
            i += 1
            continue
        if in_table:
            if stripped.startswith("|}"):
                in_table = False
            elif stripped.startswith(("|-", "|+")):
                pass  # row separator / caption marker line
            elif stripped.startswith(("|", "!")):
                cells = re.split(r"\|\||!!", stripped.lstrip("|!").strip())
                joined = " ".join(c.strip() for c in cells if c.strip())
                b = _render_block(joined, ("wiki", "tr"), "table")
                if b:
                    blocks.append(b)
            i += 1
            continue
        m = _HEADING_RE.match(stripped)
        if m:
            flush()
            b = _render_block(m.group(2), ("wiki", f"h{len(m.group(1))}"), "title")
            if b:
                blocks.append(b)
            i += 1
            continue
        if _RULE_RE.match(stripped):
            flush()
            i += 1
            continue
        if stripped[0] in "*#;:":
            flush()
            item = stripped.lstrip("*#;:").strip()
            b = _render_block(item, ("wiki", "li"), "list")
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


def wikitext_links(data: bytes) -> list[str]:
    """Outbound ABSOLUTE link targets ([http://x label] external
    links), document order, duplicates preserved — the wikitext leg
    of outlink mining. [[wikilinks]] are intra-wiki navigation, not
    edges (the epub_links relative-target contract); links inside
    templates and <ref> citations are quotation/citation machinery
    and excluded with their construct."""
    if not isinstance(data, (bytes, bytearray)):
        return []
    text = bytes(data).decode("utf-8", errors="replace")
    text = _COMMENT_RE.sub("", text)
    text = _REF_RE.sub("", text)
    for _ in range(MAX_TEMPLATE_ROUNDS):
        text, n = _TEMPLATE_RE.subn("", text)
        if not n:
            break
    return [m.group(1) for m in _EXTLINK_RE.finditer(text)]
