"""gettext PO catalog tokenizer — the thirty-eighth leg of the format
dispatch, covering translation catalogs (.po: the localization format
of the entire GNU/Linux + web-app ecosystem, shipped in source
tarballs and translation-platform exports) — a first-class
parallel-text source for multilingual training corpora.

Reference analogue: the byte -> array decode seam shared by every
format leg (/root/reference/data/dataset_mapper.py:151-155).

SNIFF DISCIPLINE: PO has no magic bytes, but its paired line-anchored
``msgid "…"`` / ``msgstr "…"`` keywords are PO-exclusive (no other
dispatched format anchors them). The gate demands strict-UTF-8, a
non-'<' first byte, and >= 2 msgid/msgstr PAIRS in the head.

What is content and what is chrome:
- each translated entry's ``msgstr`` renders as ONE text block (the
  catalog's target-language prose — what a multilingual pipeline
  harvests); multi-line string continuations concatenate and C-style
  escapes (\\n \\t \\" \\\\) decode through a real unescape.
- the HEADER entry (``msgid ""`` first in the file — its msgstr
  holds Project-Id-Version/charset metadata) is chrome (the docProps
  discipline); ``#`` comment lines of every flavor (translator
  ``# ``, extracted ``#.``, reference ``#:``, flags ``#,``, obsolete
  ``#~``) drop; ``msgctxt`` disambiguation strings drop; ``msgid``
  SOURCE strings drop from extraction (the translation is the
  content; the pair surfaces through po_pairs for bitext mining).
- UNTRANSLATED entries (empty msgstr) and ``#, fuzzy``-flagged
  entries (machine-merged, unreviewed — the gettext convention) are
  excluded: a curation pipeline must never ingest them as clean
  target-language text.
- plural entries render ``msgstr[0]`` (the canonical singular form);
  higher indices are grammatical variants of the same prose.

po_pairs(data) returns (msgid, msgstr) tuples for translated,
non-fuzzy entries — the leg's bitext-mining surface (the q114/q150
family's input shape).

Boundedness: one line walk; all text is a subset of the page-capped
input. Determinism: malformed catalogs tokenize to whatever the
truncated walk yields — same bytes, same blocks, never an
exception."""

from __future__ import annotations

import re

from toyocr_spark.extractor.tokenizer import Block, make_block, text_head


_MSGID_RE = re.compile(r'(?m)^msgid\s+"')
_MSGSTR_RE = re.compile(r'(?m)^msgstr(\[\d+\])?\s+"')
_STR_RE = re.compile(r'"((?:[^"\\]|\\.)*)"')
_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", '"': '"', "\\": "\\"}


def is_po(data: bytes | str | None) -> bool:
    """Structural-evidence gate (see module docstring): strict-UTF-8
    head, non-'<' first byte, >= 2 msgid/msgstr pairs."""
    text = text_head(data)
    if text is None:
        return False
    stripped = text.lstrip()
    if not stripped or stripped[0] == "<":
        return False
    return (
        len(_MSGID_RE.findall(text)) >= 2 and len(_MSGSTR_RE.findall(text)) >= 2
    )


def _unescape(s: str) -> str:
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "\\" and i + 1 < n:
            out.append(_ESCAPES.get(s[i + 1], s[i + 1]))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


class _Entry:
    __slots__ = ("msgid", "msgstr", "fuzzy", "obsolete")

    def __init__(self) -> None:
        self.msgid: str | None = None
        self.msgstr: str | None = None
        self.fuzzy = False
        self.obsolete = False


def _parse_entries(data: bytes):
    """Walk the catalog into entries: (msgid, msgstr, fuzzy) with
    multi-line continuations concatenated and escapes decoded.
    Deterministic on malformed input (unparseable lines drop)."""
    text = bytes(data).decode("utf-8", errors="replace")
    entries: list[_Entry] = []
    cur = _Entry()
    target: str | None = None  # 'id' | 'str' | None (msgctxt etc. drop)

    def close() -> None:
        nonlocal cur, target
        if cur.msgid is not None and cur.msgstr is not None:
            entries.append(cur)
        cur = _Entry()
        target = None

    for raw in text.split("\n"):
        line = raw.strip()
        if not line:
            close()
            continue
        if line.startswith("#"):
            if line.startswith("#,") and "fuzzy" in line:
                cur.fuzzy = True
            # '#~' obsolete entries: their msgid/msgstr lines arrive
            # commented, so they never reach the keyword branches
            continue
        if line.startswith("msgctxt"):
            target = None
            continue
        if line.startswith("msgid_plural"):
            target = None  # plural source: a variant of msgid, drop
            continue
        if line.startswith("msgid"):
            if cur.msgid is not None and cur.msgstr is not None:
                close()  # blank-line-less catalogs: entry boundary
            m = _STR_RE.search(line)
            cur.msgid = _unescape(m.group(1)) if m else ""
            target = "id"
            continue
        if line.startswith("msgstr"):
            m = _STR_RE.search(line)
            piece = _unescape(m.group(1)) if m else ""
            if line.startswith("msgstr["):
                if line.startswith("msgstr[0]"):
                    cur.msgstr = piece
                    target = "str"
                else:
                    target = None  # plural variants of the same prose
            else:
                cur.msgstr = piece
                target = "str"
            continue
        if line.startswith('"'):
            m = _STR_RE.search(line)
            if m and target == "id" and cur.msgid is not None:
                cur.msgid += _unescape(m.group(1))
            elif m and target == "str" and cur.msgstr is not None:
                cur.msgstr += _unescape(m.group(1))
            continue
        target = None  # unparseable line: drop, stay deterministic
    close()
    return entries


def tokenize_po(data: bytes) -> list[Block]:
    """Parse a PO catalog into Blocks: one text block per translated,
    non-fuzzy entry's msgstr, header/comments/msgctxt/msgid dropped,
    sharing the HTML leg's kinds so scoring and islands apply
    unchanged."""
    blocks: list[Block] = []
    for e in _parse_entries(data):
        if e.msgid == "" or e.fuzzy or not e.msgstr:
            continue  # header entry / unreviewed / untranslated
        b = make_block(e.msgstr, ("po", "msgstr"), "text")
        if b:
            blocks.append(b)
    for k, b in enumerate(blocks):
        b.ordinal = k
    return blocks


def po_pairs(data: bytes) -> list[tuple[str, str]]:
    """(msgid, msgstr) source/target pairs for translated, non-fuzzy
    entries, document order — the catalog's bitext-mining surface
    (the q114/q150 family's input shape). Header and plural-variant
    machinery excluded as in extraction."""
    if not isinstance(data, (bytes, bytearray)):
        return []
    out: list[tuple[str, str]] = []
    for e in _parse_entries(data):
        if e.msgid == "" or e.fuzzy or not e.msgstr or not e.msgid:
            continue
        out.append((e.msgid, e.msgstr))
    return out
