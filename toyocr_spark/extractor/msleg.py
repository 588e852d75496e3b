"""troff ms-macro paper tokenizer — the forty-first leg of the format
dispatch, completing the troff trio: man(7) for GNU/Linux manuals,
mdoc(7) for BSD manuals, and ms for PAPERS — the Bell Labs technical
report/USENIX paper format whose sources still populate software
archives and historical computing corpora.

Reference analogue: the byte -> array decode seam shared by every
format leg (/root/reference/data/dataset_mapper.py:151-155).

SNIFF DISCIPLINE: every ms paper leads its content with the ``.TL``
title macro (the format's one mandated entry point, which man pages
(.TH-gated) and mdoc pages (.Dd-gated) never carry — the three troff
gates are pairwise disjoint by their mandated macros). The gate
demands strict-UTF-8, a non-'<' first byte, a line-anchored ``.TL``,
and >= 2 further ms macro lines.

What is content and what is chrome:
- ``.TL`` text lines -> the title block; ``.NH n``/``.SH`` heading
  text -> title blocks at depth; ``.PP``/``.LP``/``.QP`` break
  paragraphs; ``.IP "tag"`` introduces tagged list items (the man
  .TP rule); ``.AB``…``.AE`` abstract paragraphs are CONTENT (the
  prose a corpus wants).
- ``.AU``/``.AI`` author/institution lines are byline metadata (the
  docProps discipline), ``.FS``…``.FE`` footnotes and ``.EQ``…
  ``.EN`` eqn source drop wholesale, ``.\\"`` comments and unknown
  requests drop (the troff rule).
- ``.DS``…``.DE`` displays keep their text as ONE block (the
  fenced-code rule); ``.TS``…``.TE`` tbl source emits one table
  block per data row (the format preamble through its ``.``
  terminator is layout machinery); ``.QS``/``.QE``/``.KS``/``.KE``/
  ``.KF`` delimiters are structure (inner lines parse normally).
- font machinery resolves through the SHARED troff helpers
  (extractor/manleg._unescape and friends): ``\\fB…\\fR`` escapes
  strip, ``\\(em``-family glyphs map, ``.B``/``.I`` font-macro
  lines join the current paragraph.

Boundedness: one line walk, end-macro-bounded block consumption; all
text is a subset of the page-capped input. Determinism: malformed
macros tokenize to whatever the truncated walk yields — same bytes,
same blocks, never an exception."""

from __future__ import annotations

import re

from toyocr_spark.extractor.manleg import (
    _COMMENT_TAIL_RE,
    _FONT_MACROS,
    _split_args,
    _unescape,
)
from toyocr_spark.extractor.tokenizer import Block, make_block, text_head


_TL_RE = re.compile(r"(?m)^\.TL(\s|$)")
_MS_MACRO_RE = re.compile(
    r"(?m)^\.(AU|AI|AB|AE|NH|SH|PP|LP|QP|IP|DS|DE|TS|TE|FS|FE|KS|KE|QS|QE)(\s|$)"
)


def is_ms(data: bytes | str | None) -> bool:
    """Mandated-macro gate (see module docstring): strict-UTF-8 head,
    non-'<' first byte, a line-anchored .TL, >= 2 further ms macro
    lines."""
    head = text_head(data)
    if head is None:
        return False
    if head.lstrip()[:1] == "<":
        return False
    if not _TL_RE.search(head):
        return False
    return len(_MS_MACRO_RE.findall(head)) >= 2


def tokenize_ms(data: bytes) -> list[Block]:
    """Parse ms source into Blocks: title / section headings /
    paragraphs / tagged items / displays / tbl rows, with bylines,
    footnotes, eqn source, comments and unknown requests dropped,
    sharing the HTML leg's kinds so XY-cut, scoring and islands
    apply unchanged."""
    text = bytes(data).decode("utf-8", errors="replace")  # never raises
    lines = text.split("\n")
    i, n = 0, len(lines)
    blocks: list[Block] = []
    para: list[str] = []
    ninl = [0]
    mode: str | None = None  # 'tl' | 'nh' | 'sh' while heading collects
    heading: list[str] = []
    nh_depth = 2

    def flush(path=("ms", "p"), kind="text") -> None:
        if para:
            b = make_block(" ".join(para), path, kind, 0, ninl[0])
            if b:
                blocks.append(b)
            para.clear()
        ninl[0] = 0

    def flush_heading() -> None:
        nonlocal mode
        if mode and heading:
            if mode == "tl":
                path, d = ("ms", "h1"), None
            elif mode == "nh":
                path = ("ms", f"h{min(nh_depth + 1, 6)}")
            else:
                path = ("ms", "h2")
            b = make_block(" ".join(heading), path, "title")
            if b:
                blocks.append(b)
        heading.clear()
        mode = None

    def consume_until(end_macro: str, j: int) -> tuple[list[str], int]:
        body: list[str] = []
        while j < n:
            ln = lines[j]
            if ln.startswith((".", "'")):
                cb = _COMMENT_TAIL_RE.sub("", ln[1:]).rstrip()
                if cb.split(None, 1)[0:1] == [end_macro]:
                    return body, j + 1
            body.append(ln)
            j += 1
        return body, j

    while i < n:
        raw = lines[i]
        if raw.startswith(('.\\"', "'\\\"")):
            i += 1
            continue
        if raw.startswith((".", "'")):
            body = _COMMENT_TAIL_RE.sub("", raw[1:]).rstrip()
            parts = body.split(None, 1)
            macro = parts[0] if parts else ""
            rest = parts[1] if len(parts) > 1 else ""
            if macro == "TL":
                flush_heading()
                flush()
                mode = "tl"
                i += 1
                continue
            if macro == "NH":
                flush_heading()
                flush()
                mode = "nh"
                nh_depth = int(rest.split()[0]) if rest.split()[:1] and rest.split()[0].isdigit() else 1
                i += 1
                continue
            if macro == "SH":
                flush_heading()
                flush()
                mode = "sh"
                i += 1
                continue
            if macro in ("AU", "AI"):
                # byline metadata: consume the following text lines
                flush_heading()
                flush()
                i += 1
                while i < n and not lines[i].startswith((".", "'")) and lines[i].strip():
                    i += 1
                continue
            if macro in ("AB", "AE", "PP", "LP", "QP", "QS", "QE", "KS", "KE", "KF", "br", "sp"):
                # .AB/.AE delimit the abstract whose PARAGRAPHS are
                # content; all of these just break the current flow
                flush_heading()
                flush()
                i += 1
                continue
            if macro == "IP":
                flush_heading()
                flush(("ms", "li"), "list")
                args = _split_args(rest)
                if args:
                    para.append(_unescape(args[0], n_inline=ninl))
                i += 1
                # the item body runs until the next macro/blank; let
                # the main loop accumulate it, flushed as list by the
                # NEXT flush with list path — simplest: collect now
                item: list[str] = list(para)
                para.clear()
                while i < n and not lines[i].startswith((".", "'")) and lines[i].strip():
                    item.append(_unescape(lines[i].strip(), n_inline=ninl))
                    i += 1
                b = make_block(" ".join(item), ("ms", "li"), "list", 0, ninl[0])
                ninl[0] = 0
                if b:
                    blocks.append(b)
                continue
            if macro == "DS":
                flush_heading()
                flush()
                body2, i = consume_until("DE", i + 1)
                b = make_block(" ".join(_unescape(x.strip()) for x in body2), ("ms", "pre"), "text")
                if b:
                    blocks.append(b)
                continue
            if macro == "TS":
                flush_heading()
                flush()
                body2, i = consume_until("TE", i + 1)
                # tbl: options line(s) ending ';' then format lines
                # through the '.' terminator are layout machinery
                k = 0
                while k < len(body2) and body2[k].rstrip().endswith(";"):
                    k += 1
                while k < len(body2):
                    if body2[k].rstrip().endswith("."):
                        k += 1
                        break
                    k += 1
                for row in body2[k:]:
                    cells = [c.strip() for c in row.split("\t")]
                    b = make_block(
                        " ".join(c for c in cells if c and c != "_"),
                        ("ms", "tr"),
                        "table",
                    )
                    if b:
                        blocks.append(b)
                continue
            if macro in ("FS", "EQ"):
                end = "FE" if macro == "FS" else "EN"
                flush_heading()
                flush()
                _dropped, i = consume_until(end, i + 1)
                continue
            if macro in _FONT_MACROS:
                ninl[0] += 1
                args = _split_args(rest)
                rendered = _unescape(" ".join(args), n_inline=ninl)
                if rendered:
                    (heading if mode else para).append(rendered)
                i += 1
                continue
            # unknown request: machinery, drop the line (troff rule)
            flush_heading()
            flush()
            i += 1
            continue
        if not raw.strip():
            flush_heading()
            flush()
            i += 1
            continue
        (heading if mode else para).append(_unescape(raw.strip(), n_inline=ninl))
        i += 1
    flush_heading()
    flush()
    for k, b in enumerate(blocks):
        b.ordinal = k
    return blocks
