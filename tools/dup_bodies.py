#!/usr/bin/env python3
"""How often page bodies repeat in a pages table: what the extraction
memo of ``pipeline._extract_batches`` can save before a run.

    python3 tools/dup_bodies.py <pages_dir>      # one JSON object on stdout

Reads the ``html`` column of every parquet file under ``<pages_dir>``
with pyarrow alone (no Spark) and counts byte-identical bodies. With one
task per file, the memo runs the kernel at most once per distinct body
of each file (``distinct_per_file``, the floor of what it saves) and
never fewer times than there are distinct bodies in the whole table
(``distinct_overall``, the ceiling). Bodies are compared by a 128-bit
BLAKE2b digest, so memory grows with distinct bodies, not with bytes.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sys

import pyarrow.parquet as pq


def _digest(body: bytes | str | None) -> bytes | None:
    if body is None:
        return None
    if isinstance(body, str):
        body = body.encode()
    return hashlib.blake2b(body, digest_size=16).digest()


def count(pages_dir: str) -> dict:
    files = sorted(glob.glob(os.path.join(pages_dir, "**", "*.parquet"), recursive=True))
    if not files:
        raise SystemExit(f"no parquet files under {pages_dir}")
    overall: set = set()
    rows = per_file = 0
    for path in files:
        seen: set = set()
        for batch in pq.ParquetFile(path).iter_batches(columns=["html"]):
            for body in batch.column(0).to_pylist():
                seen.add(_digest(body))
                rows += 1
        per_file += len(seen)
        overall |= seen
    return {
        "files": len(files),
        "rows": rows,
        "distinct_per_file": per_file,
        "distinct_overall": len(overall),
    }


if __name__ == "__main__":
    if len(sys.argv) != 2:
        raise SystemExit(__doc__)
    print(json.dumps(count(sys.argv[1])))
