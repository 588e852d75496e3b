"""Org-mode tokenizer — the thirty-third leg of the format dispatch,
covering Emacs Org documents (org-roam/org-publish sites, literate
dotfile repos, worg and the org-adjacent blog ecosystem) — the
outliner markup of code-adjacent crawls next to Markdown and rst.

Reference analogue: the byte -> array decode seam shared by every
format leg (/root/reference/data/dataset_mapper.py:151-155).

SNIFF DISCIPLINE (the markdown/rst forgeable-surface rule): org has
no magic bytes, so the gate demands an org-EXCLUSIVE anchor — a
``#+KEYWORD:`` line (``#+TITLE:``, ``#+BEGIN_SRC``, …; '#'-led but
never ATX, '#'+non-space fails Markdown's heading gate) — plus >= 3
markers total among keyword lines, ``* `` headlines, list items,
``[[link][desc]]`` hyperlinks and ``#+BEGIN_`` blocks. No other
dispatched format carries line-anchored ``#+``, so cross-claims are
impossible in either direction (markdown demands an ATX heading org
lacks; org demands the ``#+`` anchor markdown lacks).

What is content and what is chrome:
- ``#+TITLE:`` renders as the document title block (the eml-Subject
  rule: the one keyword that IS content); every other ``#+KEYWORD:``
  line (AUTHOR/DATE/OPTIONS/PROPERTY/FILETAGS…) is export metadata
  (the docProps discipline, never read).
- ``* Headline`` lines -> title blocks at their star depth, with
  TODO/DONE state keywords and trailing ``:tag:`` strings stripped
  (workflow state, not prose); paragraphs and ``-``/``+``/numbered
  items -> text/list blocks; ``|``-rows -> table blocks (``|---``
  rules drop).
- ``:PROPERTIES:``…``:END:`` drawers, ``# `` comment lines and
  ``#+BEGIN_COMMENT``…``#+END_COMMENT`` blocks drop wholesale.
- ``#+BEGIN_SRC``/``#+BEGIN_EXAMPLE`` blocks keep their text as ONE
  block (the fenced-code rule); ``#+BEGIN_QUOTE``/``CENTER``
  delimiters are structure (inner lines parse normally).
- inline: ``[[url][desc]]`` resolves to desc with desc chars counted
  as link chars (the true <a> analogue — a ``[[u][Home]]`` nav line
  dies by the shared density rule); bare ``[[url]]`` drops (a URL
  string is not prose); ``*bold*``/``=verbatim=``/``~code~`` marks
  strip (``/italic/`` is left alone: filesystem paths make the
  slash form unrecoverable by regex, and unstripped emphasis costs
  nothing downstream).

Boundedness: one line walk, delimiter-bounded block consumption; all
text is a subset of the page-capped input. Determinism: malformed
markup tokenizes to whatever the truncated walk yields — same bytes,
same blocks, never an exception."""

from __future__ import annotations

import re

from toyocr_spark.extractor.tokenizer import Block, make_block, text_head


_KEYWORD_RE = re.compile(r"^#\+(\w+):\s*(.*)$")
_BEGIN_RE = re.compile(r"^#\+BEGIN_(\w+)", re.I)
_END_RE = re.compile(r"^#\+END_(\w+)", re.I)
_HEADLINE_RE = re.compile(r"^(\*+)\s+(\S.*)$")
_TODO_RE = re.compile(r"^(?:TODO|DONE)\s+")
_TAGS_RE = re.compile(r"\s+:[\w@:]+:\s*$")
_LIST_RE = re.compile(r"^(?:[-+]|\d{1,9}[.)])\s+(\S.*)$")
_TABLE_RULE_RE = re.compile(r"^\|[-+]+\|?\s*$")
_DRAWER_RE = re.compile(r"^:(\w+):\s*$")

# inline, innermost-first
_LINK_DESC_RE = re.compile(r"\[\[([^\]\[]+)\]\[([^\]\[]+)\]\]")
_LINK_BARE_RE = re.compile(r"\[\[([^\]\[]+)\]\]")
_BOLD_RE = re.compile(r"\*(?=\S)([^*\n]+?)(?<=\S)\*")
_VERBATIM_RE = re.compile(r"[=~](?=\S)([^=~\n]+?)(?<=\S)[=~]")

# sniff evidence (over the decoded head, multiline)
_EV_KEYWORD = re.compile(r"(?m)^#\+\w+:")
_EV_BEGIN = re.compile(r"(?m)^#\+BEGIN_\w+", re.I)
_EV_HEADLINE = re.compile(r"(?m)^\*+\s+\S")
_EV_LIST = re.compile(r"(?m)^(?:[-+]|\d{1,9}[.)])\s+\S")
_EV_LINK = re.compile(r"\[\[[^\]\[]+\]\[[^\]\[]+\]\]")


def is_org(data: bytes | str | None) -> bool:
    """Structural-evidence gate (see module docstring): strict-UTF-8
    head, non-'<' first byte, >= 1 ``#+KEYWORD:``/``#+BEGIN_`` anchor
    line, >= 3 markers total."""
    text = text_head(data)
    if text is None:
        return False
    stripped = text.lstrip()
    if not stripped or stripped[0] == "<":
        return False
    anchors = len(_EV_KEYWORD.findall(text)) + len(_EV_BEGIN.findall(text))
    if anchors == 0:
        return False
    evidence = (
        min(3, anchors)
        + min(2, len(_EV_HEADLINE.findall(text)))
        + min(1, len(_EV_LIST.findall(text)))
        + min(2, len(_EV_LINK.findall(text)))
    )
    return evidence >= 3


def _render_block(raw: str, path: tuple[str, ...], kind: str) -> Block | None:
    """`make_block` of `raw` with inline org resolved to plain text and
    its scorer signals counted (the markdown/rst _render_block
    contract)."""
    n_inline = 0
    link_chars = 0

    def _link(m: re.Match) -> str:
        nonlocal n_inline, link_chars
        n_inline += 1
        desc = " ".join(m.group(2).split())
        link_chars += len(desc)
        return desc

    def _keep_inner(m: re.Match) -> str:
        nonlocal n_inline
        n_inline += 1
        return m.group(1)

    text = _LINK_DESC_RE.sub(_link, raw)
    text, n = _LINK_BARE_RE.subn("", text)
    n_inline += n
    text = _BOLD_RE.sub(_keep_inner, text)
    text = _VERBATIM_RE.sub(_keep_inner, text)
    return make_block(text, path, kind, link_chars, n_inline)


def tokenize_org(data: bytes) -> list[Block]:
    """Parse org bytes into Blocks: one per title/headline / paragraph
    / list item / table row / src block, export keywords, drawers,
    comments and workflow state dropped, sharing the HTML leg's kinds
    so XY-cut, scoring and islands apply unchanged."""
    text = bytes(data).decode("utf-8", errors="replace")  # never raises
    lines = text.split("\n")
    i, n = 0, len(lines)
    blocks: list[Block] = []
    para: list[str] = []

    def flush() -> None:
        if para:
            b = _render_block(" ".join(para), ("org", "p"), "text")
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
        m = _BEGIN_RE.match(stripped)
        if m:
            flush()
            kind = m.group(1).upper()
            i += 1
            if kind in ("SRC", "EXAMPLE", "EXPORT", "COMMENT"):
                body: list[str] = []
                while i < n:
                    e = _END_RE.match(lines[i].strip())
                    if e and e.group(1).upper() == kind:
                        i += 1
                        break
                    body.append(lines[i].strip())
                    i += 1
                if kind in ("SRC", "EXAMPLE"):
                    b = make_block(" ".join(body), ("org", "pre"), "text")
                    if b:
                        blocks.append(b)
                # EXPORT/COMMENT bodies drop wholesale
            # QUOTE/CENTER/VERSE: structure only, inner lines parse
            continue
        if _END_RE.match(stripped):
            flush()  # stray END of a structural block
            i += 1
            continue
        m = _KEYWORD_RE.match(stripped)
        if m:
            flush()
            if m.group(1).upper() == "TITLE":
                # the one keyword that IS content (the eml-Subject rule)
                b = _render_block(m.group(2), ("org", "h1"), "title")
                if b:
                    blocks.append(b)
            # every other keyword is export metadata: drop
            i += 1
            continue
        if stripped.startswith("# "):
            i += 1
            continue
        m = _DRAWER_RE.match(stripped)
        if m:
            # :PROPERTIES:/:LOGBOOK:/… drawer: consume to :END:
            flush()
            i += 1
            while i < n and lines[i].strip().upper() != ":END:":
                i += 1
            i += 1
            continue
        m = _HEADLINE_RE.match(line)
        if m:
            flush()
            depth = min(len(m.group(1)) + 1, 6)  # TITLE holds h1
            title = _TODO_RE.sub("", m.group(2))
            title = _TAGS_RE.sub("", title)
            b = _render_block(title, ("org", f"h{depth}"), "title")
            if b:
                blocks.append(b)
            i += 1
            continue
        if stripped.startswith("|"):
            flush()
            if not _TABLE_RULE_RE.match(stripped):
                cells = [c.strip() for c in stripped.strip("|").split("|")]
                b = _render_block(
                    " ".join(c for c in cells if c), ("org", "tr"), "table"
                )
                if b:
                    blocks.append(b)
            i += 1
            continue
        m = _LIST_RE.match(stripped)
        if m:
            flush()
            b = _render_block(m.group(1), ("org", "li"), "list")
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


def org_links(data: bytes) -> list[str]:
    """Outbound ABSOLUTE link targets (``[[url][desc]]`` and bare
    ``[[url]]`` hyperlinks), document order, duplicates preserved —
    the org leg of outlink mining. SRC/EXAMPLE/COMMENT blocks and
    ``# `` comment lines are excluded with their constructs (the
    markdown fence rule); file:/id: links are intra-corpus
    navigation, not edges."""
    if not isinstance(data, (bytes, bytearray)):
        return []
    out: list[str] = []
    lines = bytes(data).decode("utf-8", errors="replace").split("\n")
    i, n = 0, len(lines)
    while i < n:
        stripped = lines[i].strip()
        m = _BEGIN_RE.match(stripped)
        if m and m.group(1).upper() in ("SRC", "EXAMPLE", "EXPORT", "COMMENT"):
            kind = m.group(1).upper()
            i += 1
            while i < n:
                e = _END_RE.match(lines[i].strip())
                i += 1
                if e and e.group(1).upper() == kind:
                    break
            continue
        if stripped.startswith("# "):
            i += 1
            continue
        for m in _LINK_DESC_RE.finditer(stripped):
            if m.group(1).startswith(("http://", "https://")):
                out.append(m.group(1))
        without = _LINK_DESC_RE.sub("", stripped)
        for m in _LINK_BARE_RE.finditer(without):
            if m.group(1).startswith(("http://", "https://")):
                out.append(m.group(1))
        i += 1
    return out
