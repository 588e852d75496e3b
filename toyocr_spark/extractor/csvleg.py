"""CSV/TSV tokenizer — the seventeenth leg of the format dispatch,
covering the delimiter-separated tables dataset crawls carry in bulk
(open-data portals, ML dataset dumps, exported spreadsheets).

Reference analogue: the byte -> array decode seam shared by every
format leg (/root/reference/data/dataset_mapper.py:151-155).

SNIFF DISCIPLINE (the markdown/zlib forgeable-surface rule): CSV has
no magic bytes, so the gate demands the one structural property prose
cannot fake — a CONSTANT non-zero delimiter count across every head
line (the csv.Sniffer idea, made deterministic): strict-UTF-8 head,
non-'<' first byte, at least MIN_LINES lines, and some delimiter in
(tab, comma, semicolon — tried in that order) appearing the SAME
number of times (>= 1) on every one of them. Prose sentences vary
their commas; a quoted field containing the delimiter also breaks the
constant count and safely fails the gate (conservative by design —
a mis-gated page would change extraction, a missed CSV just stays
prose). The markdown gate runs FIRST in the dispatch chain, so a pipe
table inside a README stays markdown.

One Block per record through the stdlib csv reader (which then
handles quoting properly for gated files); the header row is the
title kind (the xls/xlsx/ods discipline — 'first row per sheet =
title'), bare-numeral rows die by MIN_CHARS in the shared scorer.
Malformed input tokenizes to whatever the truncated walk yields —
same bytes, same blocks, never an exception."""

from __future__ import annotations

import csv
import io

from toyocr_spark.extractor.tokenizer import Block, utf8_textish

MIN_LINES = 3
_SNIFF_LINES = 20
_DELIMS = ("\t", ",", ";")
MAX_RECORDS = 10000


def _sniff_delim(text: str) -> str | None:
    lines = [ln for ln in text.split("\n")[:_SNIFF_LINES] if ln.strip()]
    if len(lines) < MIN_LINES:
        return None
    for d in _DELIMS:
        counts = {ln.count(d) for ln in lines}
        if len(counts) != 1:
            continue
        n = counts.pop()
        # the comma is the one delimiter prose can hold at a constant
        # count ("a, b" on every line of a list-like paragraph), so it
        # demands >= 3 columns and an extra line of evidence; a
        # two-column comma CSV stays prose — missed-CSV is the safe
        # failure, mis-gated prose is not
        if d == "," and (n < 2 or len(lines) < MIN_LINES + 1):
            continue
        if n >= 1:
            return d
    return None


def is_csv(data: bytes | str | None) -> bool:
    if not isinstance(data, (bytes, bytearray)) or not utf8_textish(data):
        return False
    head = bytes(data[:4096])
    # trim a trailing partial line so a mid-record cut can't skew the
    # constant-count check
    if b"\n" in head and len(data) > 4096:
        head = head.rsplit(b"\n", 1)[0]
    text = head.decode("utf-8", errors="replace")
    stripped = text.lstrip()
    if not stripped or stripped[0] == "<":
        return False
    return _sniff_delim(text) is not None


def tokenize_csv(data: bytes) -> list[Block]:
    """Parse delimiter-separated bytes into Blocks: one per record
    (cells joined by a space), header = title kind, sharing the
    spreadsheet legs' shape so XY-cut, scoring and islands apply
    unchanged."""
    text = bytes(data).decode("utf-8", errors="replace")
    delim = _sniff_delim(text)
    if delim is None:
        return []
    blocks: list[Block] = []
    reader = csv.reader(io.StringIO(text), delimiter=delim)
    try:
        for i, row in enumerate(reader):
            if i >= MAX_RECORDS:
                break
            joined = " ".join(" ".join(c.split()) for c in row if c.strip())
            if not joined:
                continue
            blocks.append(
                Block(
                    text=joined,
                    tag_path=("csv", "tr"),
                    n_chars=len(joined),
                    kind="title" if not blocks and i == 0 else "table",
                )
            )
    except csv.Error:
        # a field over the reader's size limit (or another malformed
        # record) ends the walk: keep the records read so far
        pass
    for k, b in enumerate(blocks):
        b.ordinal = k
    return blocks
