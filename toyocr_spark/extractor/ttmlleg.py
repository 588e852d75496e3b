"""TTML (Timed Text Markup Language) tokenizer — the thirty-ninth leg
of the format dispatch, covering XML caption tracks (.ttml/.dfxp: the
broadcast/streaming caption interchange format — IMSC, SMPTE-TT,
Netflix/iTunes delivery specs — the XML sibling of the WebVTT/SRT
leg and the same spoken-register training source).

Reference analogue: the byte -> array decode seam shared by every
format leg (/root/reference/data/dataset_mapper.py:151-155).

SNIFF DISCIPLINE (the FictionBook/DocBook root-anchor rule): a TTML
document's ROOT element is ``<tt>`` in the TTML namespace
(``http://www.w3.org/ns/ttml`` or the legacy
``http://www.w3.org/2006/10/ttaf1``) — no other dispatched format
names its root ``tt``, and the namespace requirement keeps
hypothetical other-dialect ``<tt>`` fragments out. Malformed XML
tokenizes to [] and falls back to the HTML tokenizer (the fb2 rule).

What is content and what is chrome:
- each ``<p>`` cue in the body renders as ONE text block (cue text
  is the spoken-register content, exactly the WebVTT rule);
  ``<br/>`` joins as a space; nested ``<span>`` styling keeps inner
  text with markup weight counted.
- the ``<head>`` subtree (styling, layout/regions, metadata — title,
  agents, copyright) is format-declared chrome, never read; timing
  (``begin``/``end``/``dur``) and style/region attributes are
  structure; ``<metadata>`` anywhere drops.
- consistent with the WebVTT leg: short sound-effect cues die by
  MIN_CHARS at island edges through the shared scorer.

Boundedness: one ElementTree parse of the page-capped input.
Determinism: malformed XML tokenizes to [] (HTML fallback), same
bytes -> same blocks, never an exception."""

from __future__ import annotations

import re
from xml.etree import ElementTree

from toyocr_spark.extractor.tokenizer import Block, XML_ERRORS, make_block

_SKIP_RE = re.compile(rb"\s+|<\?.*?\?>|<!--.*?-->|<![^>]*>", re.S)
_TTML_NS = ("http://www.w3.org/ns/ttml", "http://www.w3.org/2006/10/ttaf1")
_SNIFF_BYTES = 1024


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def is_ttml(data: bytes | str | None) -> bool:
    """Root-anchored gate (see module docstring): after prologue/
    comments/DOCTYPE the root element must be <tt> with a TTML
    namespace declared in its start tag."""
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
    if not head.startswith(b"<tt", pos):
        return False
    nxt = head[pos + 3 : pos + 4]
    if nxt not in (b" ", b"\t", b"\n", b"\r", b">"):
        return False
    root_end = head.find(b">", pos)
    start_tag = head[pos : root_end if root_end > 0 else len(head)]
    return any(ns.encode() in start_tag for ns in _TTML_NS)


def _cue_block(el) -> Block | None:
    """One <p> cue -> one Block: itertext with <br/> as separators,
    span styling counted as markup weight."""
    parts: list[str] = []
    n_inline = 0

    def walk(e) -> None:
        nonlocal n_inline
        if e.text:
            parts.append(e.text)
        for child in e:
            lc = _local(child.tag)
            if lc == "br":
                parts.append(" ")
                n_inline += 1
            elif lc == "metadata":
                pass  # cue-level metadata drops; tail still ours
            else:
                n_inline += 1
                walk(child)
            if child.tail:
                parts.append(child.tail)

    walk(el)
    return make_block("".join(parts), ("ttml", "p"), "text", 0, n_inline)


def tokenize_ttml(data: bytes | str) -> list[Block]:
    """Parse a TTML document into Blocks: one per <p> cue in body
    order, <head> styling/layout/metadata never read. Returns [] for
    malformed XML (HTML fallback, the fb2 rule)."""
    if isinstance(data, str):
        data = data.encode("utf-8", "ignore")
    try:
        root = ElementTree.fromstring(data)
    except XML_ERRORS:
        return []
    if _local(root.tag) != "tt":
        return []
    blocks: list[Block] = []

    def walk(e) -> None:
        for child in e:
            lc = _local(child.tag)
            if lc in ("head", "metadata"):
                continue  # styling/layout/metadata: chrome by format
            if lc == "p":
                b = _cue_block(child)
                if b is not None:
                    blocks.append(b)
                continue
            walk(child)  # body/div nesting

    walk(root)
    for k, b in enumerate(blocks):
        b.ordinal = k
    return blocks
