"""extract() is total: no mutant of a valid document raises (no Spark),
and every block a mutant tokenizes to keeps the block contract.

Seeded truncate / bit-flip / delete / insert mutants (the one mutator,
``tools.kernel_digest.mutate``) of one fixture document per dispatch
leg, plus the same mutants of envelope-wrapped documents (the envelope
strip runs before dispatch). A fixed mutant count keeps the run
deterministic and within ~15 s. Per-mutant cost bounds are deliberately
not asserted: wall-time ratios flake on a shared host."""

from __future__ import annotations

import bz2
import gzip
import lzma
import random
import zlib

from toyocr_spark.extractor import core, extract
from tools.kernel_digest import mutate

MUTANTS_PER_DOC = 400
_WRAPS = (
    lambda b: gzip.compress(b, mtime=0),
    bz2.compress,
    lambda b: lzma.compress(b, format=lzma.FORMAT_XZ),
    zlib.compress,
)


def _docs(leg_pages: dict[str, bytes]) -> list[tuple[str, bytes]]:
    docs = sorted(leg_pages.items())
    wrapped = [
        (f"{name}+wrap{k}", _WRAPS[k % len(_WRAPS)](doc))
        for k, (name, doc) in enumerate(docs)
    ]
    return docs + wrapped


def test_no_mutant_raises(leg_pages, broken_block):
    raised = []
    broken = []
    for name, doc in _docs(leg_pages):
        rng = random.Random(name)
        for k in range(MUTANTS_PER_DOC):
            m = mutate(rng, doc)
            try:
                extract(m)
                unwrapped = core._unwrap(m, 2)
                if unwrapped is not None and len(unwrapped[0]):
                    b = broken_block(core.dispatch_blocks(unwrapped[0]))
                    if b is not None:
                        broken.append((name, k, b))
            except Exception as e:  # noqa: BLE001 — the assertion is "none"
                raised.append((name, k, type(e).__name__, str(e)[:80]))
    assert not raised, raised[:10]
    assert not broken, broken[:10]
