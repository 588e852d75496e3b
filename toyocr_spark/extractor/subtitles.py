"""Subtitle tokenizer (WebVTT + SRT) — the twentieth leg of the format
dispatch, covering the caption tracks video crawls carry in bulk
(lecture transcripts, talk captions, TV subtitles) — the canonical
source of conversational/spoken-register training text.

Reference analogue: the byte -> array decode seam shared by every
format leg (/root/reference/data/dataset_mapper.py:151-155).

SNIFF DISCIPLINE: WebVTT is the lucky case — the spec mandates the
file begin with the literal "WEBVTT" (after an optional UTF-8 BOM),
followed by end-of-line, space or tab: practically a magic, so the
gate is that header check plus strict-UTF-8. SRT has no magic, so its
gate demands the two-line structure prose cannot fake: first
significant line a bare cue counter (digits only), second line a full
SRT timing `HH:MM:SS,mmm --> HH:MM:SS,mmm`. Both gates run with the
near-magic sniffs BEFORE latex/markdown/csv in the dispatch chain.

What is content and what is chrome: cue TEXT is the document; cue
identifiers, counters, timings, and cue settings (`position:10%
align:start` after the timing) are structural metadata, never read
(the docProps discipline). WebVTT NOTE/STYLE/REGION blocks are
comments/presentation — dropped wholesale. Inline markup inside cue
text (<i>, <b>, <c.class>, <v Speaker>, </v>, SSA-style {\\an8}
position codes) resolves to plain text, each resolved construct
counted as one unit of markup weight (the markdown _render_inline
contract) — the speaker NAME inside <v Name> is annotation, not text.

One Block per cue; short bracketed sound-effect cues ([Music]) die by
MIN_CHARS in the shared scorer (absorbable between kept neighbours,
dropped at the edges — exactly the connective-fragment rule).

Boundedness: at most MAX_CUES cues walk; all text is a subset of the
page-capped input. Determinism: malformed input tokenizes to whatever
the truncated walk yields — same bytes, same blocks, never an
exception."""

from __future__ import annotations

import re

from toyocr_spark.extractor.tokenizer import Block, make_block, utf8_textish

MAX_CUES = 10000
_BOM = b"\xef\xbb\xbf"

# SRT timing: hours:minutes:seconds,milliseconds (comma per spec;
# tolerate the dot variant players accept)
_SRT_TIME_RE = re.compile(
    r"^\d{1,2}:\d{2}:\d{2}[,.]\d{3}\s*-->\s*\d{1,2}:\d{2}:\d{2}[,.]\d{3}\s*$"
)
# VTT timing: hours optional, dot milliseconds, optional cue settings
_VTT_TIME_RE = re.compile(
    r"^(?:\d{1,2}:)?\d{2}:\d{2}\.\d{3}\s+-->\s+(?:\d{1,2}:)?\d{2}:\d{2}\.\d{3}"
)
_ANY_TIME_RE = re.compile(r"-->")
# inline cue markup: html-ish tags (<i>, <b>, <c.yellow>, <v Name>,
# </v>, <00:00:01.000> karaoke timestamps) and SSA {\an8} codes
_CUE_TAG_RE = re.compile(r"</?[a-zA-Z][^>\n]*>|<\d{1,2}:\d{2}[^>\n]*>|\{\\?an?\d\}")


def is_vtt(data: bytes | str | None) -> bool:
    if not isinstance(data, (bytes, bytearray)) or not utf8_textish(data):
        return False
    head = bytes(data[:16])
    if head.startswith(_BOM):
        head = head[len(_BOM) :]
    if not head.startswith(b"WEBVTT"):
        return False
    rest = head[6:7]
    return rest in (b"", b"\n", b"\r", b" ", b"\t")


def is_srt(data: bytes | str | None) -> bool:
    if not isinstance(data, (bytes, bytearray)) or not utf8_textish(data):
        return False
    head = bytes(data[:256])
    if head.startswith(_BOM):
        head = head[len(_BOM) :]
    lines = [ln.strip() for ln in head.decode("utf-8", errors="replace").split("\n")]
    sig = [ln for ln in lines if ln]
    if len(sig) < 2:
        return False
    return sig[0].isdigit() and len(sig[0]) <= 6 and bool(_SRT_TIME_RE.match(sig[1]))


def is_subtitle(data: bytes | str | None) -> bool:
    return is_vtt(data) or is_srt(data)


def tokenize_subtitles(data: bytes) -> list[Block]:
    """Parse WebVTT/SRT bytes into Blocks: one per cue, counters/
    timings/settings/NOTE blocks dropped, inline markup resolved,
    sharing the HTML leg's kinds so scoring and islands apply
    unchanged."""
    raw = bytes(data)
    if raw.startswith(_BOM):
        raw = raw[len(_BOM) :]
    text = raw.decode("utf-8", errors="replace")  # never raises
    vtt = text.startswith("WEBVTT")
    path = ("vtt", "cue") if vtt else ("srt", "cue")
    # normalize newlines, split into blank-line-separated cue blocks
    lines = text.replace("\r\n", "\n").replace("\r", "\n").split("\n")
    i, n = 0, len(lines)
    if vtt:
        # header line + any metadata lines until the first blank
        while i < n and lines[i].strip():
            i += 1
    blocks: list[Block] = []
    while i < n and len(blocks) < MAX_CUES:
        while i < n and not lines[i].strip():
            i += 1
        if i >= n:
            break
        group: list[str] = []
        while i < n and lines[i].strip():
            group.append(lines[i].strip())
            i += 1
        head = group[0]
        if vtt and (
            head.startswith("NOTE") or head in ("STYLE", "REGION")
        ):
            continue  # comment / presentation chrome
        # locate the timing line: first line containing '-->' among
        # the first two (an optional identifier/counter may precede)
        ti = -1
        for k in range(min(2, len(group))):
            if _ANY_TIME_RE.search(group[k]):
                ti = k
                break
        if ti < 0:
            continue  # no timing: stray block, chrome
        cue = " ".join(group[ti + 1 :])
        b = make_block(_CUE_TAG_RE.sub("", cue), path, "text", 0, len(_CUE_TAG_RE.findall(cue)))
        if b:
            blocks.append(b)
    for k, b in enumerate(blocks):
        b.ordinal = k
    return blocks
