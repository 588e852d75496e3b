"""Gemtext tokenizer — the thirty-seventh leg of the format dispatch,
covering Gemini-protocol capsules (text/gemini: the smolweb's native
markup, widely mirrored over HTTP by proxy portals and archived by
the same crawls that carry the rest of the web).

Reference analogue: the byte -> array decode seam shared by every
format leg (/root/reference/data/dataset_mapper.py:151-155).

SNIFF DISCIPLINE: gemtext has no magic bytes, and its heading/bullet
surface is markdown-forgeable — but its ``=> url [label]`` link
lines are gemtext-EXCLUSIVE (no other dispatched format anchors
``=>`` at line start). The gate demands strict-UTF-8, a non-'<'
first byte, >= 2 link lines, and >= 3 markers total (links,
headings, bullets, quotes, ``` toggles). The leg slots BEFORE
markdown so a capsule with ATX-style headings is claimed by its
link lines first; a markdown README never carries line-anchored
``=>``.

What is content and what is chrome:
- ``# ``/``## ``/``### `` heading lines -> title blocks; bare lines
  are paragraphs (gemtext is one-line-per-paragraph by design —
  each flows as its own block); ``* `` bullets -> list blocks;
  ``> `` quote lines join as quoted prose (text kind).
- ``=> url label`` link lines render their label (or the bare url)
  with label chars counted as link chars — a link line is 100%
  anchor text, so EVERY link line dies by the shared density rule
  exactly as an HTML nav anchor does (the capsule's prose lives on
  bare lines; annotated links are navigation by construction).
- ``\\`\\`\\``` preformat toggles keep the enclosed text as ONE block
  (the fenced-code rule; the opening line's alt text is chrome).

Boundedness: one line walk; all text is a subset of the page-capped
input. Determinism: malformed input tokenizes to whatever the
truncated walk yields — same bytes, same blocks, never an
exception."""

from __future__ import annotations

import re

from toyocr_spark.extractor.tokenizer import Block, make_block, text_head


_LINK_RE = re.compile(r"^=>\s*(\S+)(?:\s+(.*))?$")
_HEADING_RE = re.compile(r"^(#{1,3})\s+(\S.*)$")

_EV_LINK = re.compile(r"(?m)^=>\s*\S")
_EV_HEADING = re.compile(r"(?m)^#{1,3}\s+\S")
_EV_BULLET = re.compile(r"(?m)^\*\s+\S")
_EV_QUOTE = re.compile(r"(?m)^>\s*\S")
_EV_PRE = re.compile(r"(?m)^```")


def is_gemtext(data: bytes | str | None) -> bool:
    """Structural-evidence gate (see module docstring): strict-UTF-8
    head, non-'<' first byte, >= 2 `=>` link lines, >= 3 markers."""
    text = text_head(data)
    if text is None:
        return False
    stripped = text.lstrip()
    if not stripped or stripped[0] == "<":
        return False
    # count evidence OUTSIDE ```-fenced regions only: a markdown
    # README whose code fences hold '=>'-led lines (Scala/Haskell
    # arrows) must not grow gemtext link evidence from them
    pre_toggles = len(_EV_PRE.findall(text))
    kept: list[str] = []
    fenced = False
    for ln in text.split("\n"):
        if ln.strip().startswith("```"):
            fenced = not fenced
            continue
        if not fenced:
            kept.append(ln)
    text = "\n".join(kept)
    links = len(_EV_LINK.findall(text))
    if links < 2:
        return False
    evidence = (
        min(3, links)
        + min(2, len(_EV_HEADING.findall(text)))
        + min(1, len(_EV_BULLET.findall(text)))
        + min(1, len(_EV_QUOTE.findall(text)))
        + min(1, pre_toggles)
    )
    return evidence >= 3


def tokenize_gemtext(data: bytes) -> list[Block]:
    """Parse gemtext bytes into Blocks: one per heading / text line /
    bullet / link line / preformat region, sharing the HTML leg's
    kinds so XY-cut, scoring and islands apply unchanged."""
    text = bytes(data).decode("utf-8", errors="replace")  # never raises
    lines = text.split("\n")
    i, n = 0, len(lines)
    blocks: list[Block] = []
    quote: list[str] = []

    def flush_quote() -> None:
        if quote:
            b = make_block(" ".join(quote), ("gmi", "q"), "text")
            if b:
                blocks.append(b)
            quote.clear()

    while i < n:
        line = lines[i].rstrip()
        stripped = line.strip()
        if stripped.startswith("```"):
            # preformat toggle: alt text on the opener is chrome
            flush_quote()
            i += 1
            pre: list[str] = []
            while i < n and not lines[i].strip().startswith("```"):
                pre.append(lines[i].strip())
                i += 1
            i += 1  # past the closing toggle (or EOF)
            b = make_block(" ".join(pre), ("gmi", "pre"), "text")
            if b:
                blocks.append(b)
            continue
        if not stripped:
            flush_quote()
            i += 1
            continue
        m = _LINK_RE.match(stripped)
        if m:
            flush_quote()
            label = " ".join((m.group(2) or m.group(1)).split())
            b = make_block(label, ("gmi", "a"), "text", link_chars=len(label), n_inline=1)
            if b:
                blocks.append(b)
            i += 1
            continue
        m = _HEADING_RE.match(stripped)
        if m:
            flush_quote()
            b = make_block(m.group(2), ("gmi", f"h{len(m.group(1))}"), "title")
            if b:
                blocks.append(b)
            i += 1
            continue
        if stripped.startswith("* "):
            flush_quote()
            b = make_block(stripped[2:], ("gmi", "li"), "list")
            if b:
                blocks.append(b)
            i += 1
            continue
        if stripped.startswith(">"):
            quote.append(stripped.lstrip("> "))
            i += 1
            continue
        flush_quote()
        b = make_block(stripped, ("gmi", "p"), "text")
        if b:
            blocks.append(b)
        i += 1
    flush_quote()
    for k, b in enumerate(blocks):
        b.ordinal = k
    return blocks


def gemtext_links(data: bytes) -> list[str]:
    """Outbound ABSOLUTE link targets (`=> url` lines), document
    order, duplicates preserved — the gemtext leg of outlink mining.
    Preformat regions are excluded (the fence rule); gemini:// and
    relative targets are capsule-internal navigation, not web
    edges."""
    if not isinstance(data, (bytes, bytearray)):
        return []
    out: list[str] = []
    in_pre = False
    for raw in bytes(data).decode("utf-8", errors="replace").split("\n"):
        s = raw.strip()
        if s.startswith("```"):
            in_pre = not in_pre
            continue
        if in_pre:
            continue
        m = _LINK_RE.match(s)
        if m and m.group(1).startswith(("http://", "https://")):
            out.append(m.group(1))
    return out
