"""extract() is total: no mutant of a valid document raises (no Spark).

Seeded truncate / bit-flip / delete / insert mutants of one fixture
document per dispatch leg, plus the same mutants of envelope-wrapped
documents (the envelope strip runs before dispatch). A fixed mutant
count keeps the run deterministic and within ~15 s. Per-mutant cost
bounds are deliberately not asserted: wall-time ratios flake on a
shared host."""

from __future__ import annotations

import bz2
import gzip
import lzma
import random
import zlib

from toyocr_spark.extractor import extract

MUTANTS_PER_DOC = 400
_WRAPS = (
    lambda b: gzip.compress(b, mtime=0),
    bz2.compress,
    lambda b: lzma.compress(b, format=lzma.FORMAT_XZ),
    zlib.compress,
)


def _mutant(rng: random.Random, doc: bytes) -> bytes:
    n = len(doc)
    i = rng.randrange(n)
    op = rng.randrange(4)
    if op == 0:
        return doc[:i]
    if op == 1:
        b = bytearray(doc)
        for _ in range(rng.randint(1, 8)):
            j = rng.randrange(n)
            b[j] ^= 1 << rng.randrange(8)
        return bytes(b)
    if op == 2:
        return doc[:i] + doc[i + rng.randint(1, 64) :]
    return doc[:i] + rng.randbytes(rng.randint(1, 16)) + doc[i:]


def _docs(leg_pages: dict[str, bytes]) -> list[tuple[str, bytes]]:
    docs = sorted(leg_pages.items())
    wrapped = [
        (f"{name}+wrap{k}", _WRAPS[k % len(_WRAPS)](doc))
        for k, (name, doc) in enumerate(docs)
    ]
    return docs + wrapped


def test_no_mutant_raises(leg_pages):
    raised = []
    for name, doc in _docs(leg_pages):
        rng = random.Random(name)
        for k in range(MUTANTS_PER_DOC):
            m = _mutant(rng, doc)
            try:
                extract(m)
            except Exception as e:  # noqa: BLE001 — the assertion is "none"
                raised.append((name, k, type(e).__name__, str(e)[:80]))
    assert not raised, raised[:10]
