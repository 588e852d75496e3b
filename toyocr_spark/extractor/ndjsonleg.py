"""NDJSON / JSON-Lines format leg — the dataset-dump shard format LLM
corpora actually ship (one JSON object per line with a ``text`` field:
the HuggingFace datasets convention, OSCAR/C4 dumps, list exports).
A crawl of dataset mirrors meets .jsonl files constantly, and the HTML
fallback would surface raw JSON punctuation as garbage prose.

Gate (a structural sniff, the ipynb/markdown family — NDJSON has no
magic bytes): the head must be '{'-led, its FIRST LINE must be a
complete JSON object carrying a string value under a text-ish key
(``text``/``content``/``body``), and the object must not be an ipynb
notebook (the ipynb gate runs FIRST in dispatch, so a notebook can
never leak here). Prose, CSV and markdown never satisfy the
first-line-is-JSON rule.

Per record: an optional ``title`` string becomes a title block, the
text field becomes a text block (multi-paragraph strings split on
blank lines); metadata keys (url, id, meta, timestamp...) are chrome.
Records walk in file order; malformed lines — including the truncated
final line every interrupted download has — skip quietly. Record
count and total text are bounded (the tar/zip member discipline).
"""

from __future__ import annotations

import json

from toyocr_spark.extractor.tokenizer import Block, make_block

_TEXT_KEYS = ("text", "content", "body")
MAX_RECORDS = 10_000
MAX_TEXT_BYTES = 4 << 20


def _head_line(data: bytes) -> bytes | None:
    head = data[:65536].lstrip()
    if not head.startswith(b"{"):
        return None
    nl = head.find(b"\n")
    return head if nl == -1 else head[:nl]


def is_ndjson(data: bytes | str | None) -> bool:
    if isinstance(data, str):
        data = data.encode("utf-8", "ignore")
    if not isinstance(data, (bytes, bytearray)):
        return False
    line = _head_line(bytes(data))
    if line is None:
        return False
    try:
        obj = json.loads(line)
    except (ValueError, UnicodeDecodeError):
        return False
    return isinstance(obj, dict) and any(
        isinstance(obj.get(k), str) and obj[k].strip() for k in _TEXT_KEYS
    )


def tokenize_ndjson(data: bytes | str) -> list[Block]:
    """One .jsonl shard -> Blocks in record order. Returns [] when the
    gate evidence does not hold up over the full parse."""
    if isinstance(data, str):
        data = data.encode("utf-8", "ignore")
    blocks: list[Block] = []
    total = 0
    for n_rec, line in enumerate(bytes(data).splitlines()):
        if n_rec >= MAX_RECORDS or total >= MAX_TEXT_BYTES:
            break
        line = line.strip()
        if not line:
            continue
        try:
            obj = json.loads(line)
        except (ValueError, UnicodeDecodeError):
            continue  # malformed/truncated line: the quiet-skip rule
        if not isinstance(obj, dict):
            continue
        title = obj.get("title")
        if isinstance(title, str):
            b = make_block(title, ("ndjson", "title"), "title")
            if b:
                blocks.append(b)
        for k in _TEXT_KEYS:
            v = obj.get(k)
            if isinstance(v, str) and v.strip():
                # multi-paragraph record text splits on blank lines,
                # one block per paragraph (the markdown-leg rule)
                for para in v.split("\n\n"):
                    b = make_block(para, ("ndjson", "p"), "text")
                    if b:
                        blocks.append(b)
                        total += b.n_chars
                break  # first text-ish key wins
    for i, b in enumerate(blocks):
        b.ordinal = i
    return blocks
