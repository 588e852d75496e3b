#!/usr/bin/env python3
"""One digest of what the extraction kernel makes of a set of pages, to
show that a kernel change leaves every output as it was.

    python3 tools/kernel_digest.py <pages_dir>... [--mutants N --seed S]

Reads the ``html`` column of every parquet file under each
``<pages_dir>`` with pyarrow alone (no Spark), keeps each distinct body
once (ordered by content hash), adds N seeded truncate / bit-flip /
delete / insert mutants of them (``mutate``), and runs ``extract`` on
every input in that order.
Prints one JSON line:

    {"inputs": ..., "raised": ..., "per_leg": {leg: inputs}, "digest": sha256}

The digest covers, per input, every ``ExtractResult`` field, the leg
whose tokenizer produced the blocks (the outermost ``extractor.core``
tokenizer call that ran last: a fall-through row hands the page on)
and every field of those blocks as that tokenizer returned them. Legs
are named as perfbench names them (``tokenize`` is ``html``); ``none``
means no tokenizer ran (an empty or corrupt envelope). An input that
raises is digested as its exception type and counted in ``raised``.
Run the same command in two checkouts: equal ``digest`` and
``per_leg`` mean equal output on every input.
"""

from __future__ import annotations

import argparse
import dataclasses
import glob
import hashlib
import json
import os
import random
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def mutate(rng: random.Random, doc: bytes) -> bytes:
    """One seeded mutant of a non-empty `doc`: a truncation, 1-8 bit
    flips, a deleted run of 1-64 bytes or 1-16 inserted random bytes."""
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


def distinct_bodies(pages_dirs: list[str]) -> list[bytes]:
    """Every distinct non-empty ``html`` body, ordered by sha256: the
    order, and so the mutants drawn from it, does not depend on how a
    build of the table spread its rows over files."""
    import pyarrow.parquet as pq

    seen: set[bytes] = set()
    bodies: list[bytes] = []
    for pages_dir in pages_dirs:
        files = sorted(glob.glob(os.path.join(pages_dir, "**", "*.parquet"), recursive=True))
        if not files:
            raise SystemExit(f"no parquet files under {pages_dir}")
        for path in files:
            for batch in pq.ParquetFile(path).iter_batches(columns=["html"]):
                for body in batch.column(0).to_pylist():
                    if isinstance(body, str):
                        body = body.encode()
                    if body and body not in seen:
                        seen.add(body)
                        bodies.append(body)
    return sorted(bodies, key=lambda b: hashlib.sha256(b).digest())


# every Block field a leg sets (a dataclass-internal field would make
# the digest depend on the Block class rather than on the output)
_BLOCK_FIELDS = ("text", "tag_path", "n_chars", "link_chars", "n_inline", "kind", "box", "ordinal")


def digest(inputs: list[bytes]) -> dict:
    from toyocr_spark.extractor import core

    last: list = [None, None]  # (leg, block fields) of the last outermost call
    depth = [0]

    def recorder(name: str, fn):
        leg = "html" if name == "tokenize" else name[len("tokenize_") :]

        def wrapped(*a, **kw):
            depth[0] += 1
            try:
                blocks = fn(*a, **kw)
            finally:
                depth[0] -= 1
            if depth[0] == 0:  # a tar/zip member's leg is the archive's work
                last[:] = [leg, [tuple(getattr(b, f) for f in _BLOCK_FIELDS) for b in blocks]]
            return blocks

        return wrapped

    originals = {n: f for n, f in vars(core).items() if n == "tokenize" or n.startswith("tokenize_")}
    for name, fn in originals.items():
        setattr(core, name, recorder(name, fn))
    h = hashlib.sha256()
    per_leg: dict[str, int] = {}
    raised = 0
    try:
        for data in inputs:
            last[:] = ["none", None]
            try:
                out = dataclasses.astuple(core.extract(data))
            except Exception as e:  # noqa: BLE001 — counted, not fatal
                raised += 1
                out = ("raised", type(e).__name__)
            per_leg[last[0]] = per_leg.get(last[0], 0) + 1
            h.update(repr((last[0], last[1], out)).encode())
    finally:
        for name, fn in originals.items():
            setattr(core, name, fn)
    return {
        "inputs": len(inputs),
        "raised": raised,
        "per_leg": dict(sorted(per_leg.items())),
        "digest": h.hexdigest(),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("pages_dirs", nargs="+")
    ap.add_argument("--mutants", type=int, default=0)
    ap.add_argument("--seed", type=int, default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, REPO)  # digest the kernel of the checkout this tool is in
    bodies = distinct_bodies(args.pages_dirs)
    rng = random.Random(args.seed)
    mutants = [mutate(rng, bodies[rng.randrange(len(bodies))]) for _ in range(args.mutants)]
    print(json.dumps(digest(bodies + mutants)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
