"""PostScript tokenizer (.ps) — the twenty-sixth leg of the format
dispatch, covering the legacy academic corpus crawls still carry in
bulk (pre-PDF arXiv/citeseer papers, tech reports, man-page renders):
positioned text the PDF machine's sibling grammar emits, feeding the
SAME XY-cut reading-order and scoring pass.

Reference analogue: the PDF/layout seam this repo grafts from the
reference's layout-analysis stage (/root/reference/modeling — XY-cut
over positioned blocks), applied to PostScript page programs.

SNIFF DISCIPLINE: `%!PS` at byte 0 (DSC mandates `%!PS-Adobe-` but
bare `%!PS` headers exist) — a de-facto magic; prose cannot start
with it.

SCOPE (documented subset, the PDF-leg discipline): literal page
programs — the a2ps/enscript/dvips-without-prologue-macro shape —
where text arrives as `x y moveto (string) show` (plus ashow/
widthshow variants) with `N scalefont`/`selectfont` sizes. Procedure
bodies `{...}` are definitions, not executions: nothing inside them
emits (running a full PostScript interpreter is out of scope, exactly
as the PDF leg executes content streams but not embedded functions).
String literals decode the full escape grammar: \\n \\r \\t \\b \\f
\\\\ \\( \\) \\ddd octal, line continuations, and BALANCED NESTED
parentheses unescaped (the spec allows them).

Blocks group like the PDF leg: consecutive shows at one column chain
while the leading is paragraph-like; a column jump, a y gap beyond
1.75x the font size, or an upward y starts a new block. Boxes land
in top-left page coordinates via the %%BoundingBox height (default
US Letter 792), `showpage` shifts later pages into disjoint bands —
so the shared XY-cut sees PostScript exactly as it sees PDF.

Boundedness: one linear scan, emission capped at MAX_RUNS runs.
Determinism: malformed programs tokenize to whatever the scan
yields — same bytes, same blocks, never an exception."""

from __future__ import annotations

import re

from toyocr_spark.extractor.pdf import (
    TITLE_MIN_SIZE,
    _CHAR_WIDTH_EM,
    _DEFAULT_PAGE_H,
    _PAGE_BAND_GAP,
)
from toyocr_spark.extractor.tokenizer import Block, make_block

MAX_RUNS = 20000

_BBOX_RE = re.compile(rb"%%BoundingBox:\s*(-?\d+)\s+(-?\d+)\s+(-?\d+)\s+(-?\d+)")
_TOKEN_RE = re.compile(
    rb"%[^\r\n]*"  # comment to EOL
    rb"|\("  # string start (scanner takes over)
    rb"|[{}]"  # procedure braces
    rb"|/?[A-Za-z][A-Za-z0-9._-]*"  # names and operators
    rb"|[-+]?(?:\d+\.?\d*|\.\d+)"  # numbers
)
_ESC = {
    ord("n"): "\n",
    ord("r"): "\r",
    ord("t"): "\t",
    ord("b"): "\b",
    ord("f"): "\f",
    ord("\\"): "\\",
    ord("("): "(",
    ord(")"): ")",
}


def is_ps(data: bytes | str | None) -> bool:
    """De-facto-magic gate: `%!PS` at byte 0."""
    if not isinstance(data, (bytes, bytearray)):
        return False
    return bytes(data[:4]) == b"%!PS"


def _read_string(data: bytes, i: int) -> tuple[str, int]:
    """Decode one PostScript string literal starting at the '(' at
    data[i]; returns (text, index past the closing paren). Handles
    the escape grammar, octal codes, line continuations and balanced
    nested parens."""
    out: list[str] = []
    depth = 1
    i += 1
    n = len(data)
    while i < n and depth:
        c = data[i]
        if c == 0x5C:  # backslash
            if i + 1 >= n:
                break
            nxt = data[i + 1]
            if nxt in _ESC:
                out.append(_ESC[nxt])
                i += 2
            elif 0x30 <= nxt <= 0x37:  # octal, up to 3 digits
                j = i + 1
                code = 0
                while j < n and j < i + 4 and 0x30 <= data[j] <= 0x37:
                    code = code * 8 + (data[j] - 0x30)
                    j += 1
                out.append(chr(code & 0xFF))
                i = j
            elif nxt in (0x0A, 0x0D):  # line continuation
                i += 2
                if nxt == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            else:  # unknown escape: the char stands alone
                out.append(chr(nxt))
                i += 2
            continue
        if c == 0x28:  # nested (
            depth += 1
            out.append("(")
        elif c == 0x29:  # )
            depth -= 1
            if depth:
                out.append(")")
        else:
            out.append(chr(c) if c < 0x80 else chr(c))
        i += 1
    return "".join(out), i


def _runs(data: bytes):
    """Yield (text, x, y, size, page) for every top-level show in
    program order — the linear scan (see module docstring for the
    subset contract)."""
    stack: list = []  # mixed numbers/strings, bounded
    x = y = 0.0
    size = 10.0
    pending_size = 10.0
    page = 0
    brace_depth = 0
    n_runs = 0
    i, n = 0, len(data)
    while i < n and n_runs < MAX_RUNS:
        m = _TOKEN_RE.search(data, i)
        if not m:
            break
        tok = m.group(0)
        if tok == b"(":
            text, i = _read_string(data, m.start())
            if brace_depth == 0:
                stack.append(text)
                if len(stack) > 32:
                    del stack[0]
            continue
        i = m.end()
        if tok.startswith(b"%"):
            continue
        if tok == b"{":
            brace_depth += 1
            continue
        if tok == b"}":
            brace_depth = max(0, brace_depth - 1)
            continue
        if brace_depth:
            continue  # definitions never emit
        c0 = tok[0]
        if c0 in b"-+.0123456789":
            try:
                stack.append(float(tok))
            except ValueError:
                continue
            if len(stack) > 32:
                del stack[0]
            continue
        if c0 == 0x2F:  # /Name literal
            continue
        op = tok
        if op == b"moveto" or op == b"lineto":
            if (
                len(stack) >= 2
                and isinstance(stack[-1], float)
                and isinstance(stack[-2], float)
            ):
                y = stack[-1]
                x = stack[-2]
                del stack[-2:]
        elif op == b"scalefont":
            if stack and isinstance(stack[-1], float):
                pending_size = stack.pop()
        elif op == b"selectfont":  # findfont+scalefont+setfont in one
            if stack and isinstance(stack[-1], float):
                size = pending_size = stack.pop()
        elif op == b"setfont":
            size = pending_size
        elif op in (b"show", b"ashow", b"widthshow", b"kshow"):
            if stack and isinstance(stack[-1], str):
                text = stack.pop()
                if text.strip():
                    yield text, x, y, size, page
                    n_runs += 1
                x += len(text) * size * _CHAR_WIDTH_EM
        elif op == b"showpage":
            page += 1
            x = y = 0.0
    return


def tokenize_ps(data: bytes) -> list[Block]:
    """Scan a PostScript program into positioned Blocks: consecutive
    shows chain into paragraph blocks by column/leading (the PDF-leg
    grouping), titles by font size, boxes in top-left coordinates so
    the shared XY-cut restores multi-column reading order. Malformed
    programs tokenize to []."""
    raw = bytes(data)
    m = _BBOX_RE.search(raw[:2048])
    page_h = float(int(m.group(4)) - int(m.group(2))) if m else _DEFAULT_PAGE_H
    if page_h <= 0:
        page_h = _DEFAULT_PAGE_H
    band = page_h + _PAGE_BAND_GAP

    groups: list[list[tuple[str, float, float, float, int]]] = []
    cur: list[tuple[str, float, float, float, int]] = []
    for run in _runs(raw):
        if cur:
            _t, px, py, ps, ppage = cur[-1]
            _t2, cx, cy, cs, cpage = run
            same_col = abs(cx - px) <= ps * _CHAR_WIDTH_EM * 2 or cy == py
            leading_ok = 0 < (py - cy) <= 1.75 * max(ps, cs) or cy == py
            if not (cpage == ppage and same_col and leading_ok):
                groups.append(cur)
                cur = []
        cur.append(run)
    if cur:
        groups.append(cur)

    blocks: list[Block] = []
    for g in groups:
        size_max = max(s for _t, _x, _y, s, _p in g)
        x0 = min(x for _t, x, _y, _s, _p in g)
        y_min = min(y for _t, _x, y, _s, _p in g)
        y_max = max(y for _t, _x, y, _s, _p in g)
        width = max(len(t) * s * _CHAR_WIDTH_EM for t, _x, _y, s, _p in g)
        y_off = g[0][4] * band
        b = make_block(
            " ".join(t for t, *_rest in g),
            ("ps",),
            "title" if size_max >= TITLE_MIN_SIZE else "text",
            box=(
                int(x0),
                int(y_off + page_h - (y_max + size_max)),
                max(1, int(width)),
                max(1, int(y_max - y_min + size_max)),
            ),
        )
        if b:
            blocks.append(b)
    for idx, b in enumerate(blocks):
        b.ordinal = idx
    return blocks


_URI_RE = re.compile(rb"/URI\s*\(")


def ps_links(data: bytes) -> list[str]:
    """Outbound URI targets from pdfmark annotations (`/URI (...)`)
    in program order, duplicates preserved — the ps leg of outlink
    mining, the pdf_links twin. Malformed programs -> []."""
    raw = bytes(data)
    out: list[str] = []
    for m in _URI_RE.finditer(raw):
        try:
            text, _ = _read_string(raw, m.end() - 1)
        except Exception:  # noqa: BLE001
            continue
        if text.startswith(("http://", "https://")):
            out.append(text)
    return out
