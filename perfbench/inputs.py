"""Seeded inputs: the query suite's tables and the per-workload corpora.

The seed picks the documents drawn and, for the extraction corpora, the
url salt: doc ids are offset by it, which moves every url's host and
chunk, and the office format order (``bench_corpus`` cycles formats by
doc id). Query tables keep doc ids from 0, as the registered queries'
fixtures key on small ids. The program only ever
sees the parquet written here. Corpora are cached on disk keyed by
(workload, seed, size, and a hash of the size values and of the code
that generates them, so a changed generator never serves a stale
corpus); a cache hit costs a marker check.
"""

from __future__ import annotations

import bz2
import glob
import gzip
import hashlib
import json
import lzma
import os
import random
import shutil
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

# The token vocabulary and shape of the ``documents`` table the query
# suite is written against: 10-100 tokens per doc, 5 % near-duplicates
# (an earlier original plus a trailing ``dup``) and 1 % exact copies, so
# the dedup queries find real clusters. Copies sit at fixed positions and
# never copy a copy: the duplicate graph has the same shape for every
# seed, so the dedup queries' convergence rounds do too.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh", "en")
READY = "_READY"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# every file whose code shapes a generated input
GENERATORS = (
    "toyocr_spark/bench_corpus.py",
    "toyocr_spark/fixtures/*.py",
    "perfbench/inputs.py",
    "perfbench/workloads.py",
)


def generator_hash(size: dict) -> str:
    """Short hash of ``size`` and of the generators' source."""
    h = hashlib.sha1(json.dumps(size, sort_keys=True).encode())
    for pattern in GENERATORS:
        for path in sorted(glob.glob(os.path.join(ROOT, pattern))):
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


def url_salt(seed: int) -> int:
    return 10_000 * (seed % 9973)


def documents(n: int, seed: int, salt: int, copies: bool = True) -> pa.Table:
    """The ``documents`` table; ``copies=False`` leaves out the
    duplicates, so every text is drawn on its own."""
    rng = random.Random(seed)
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if copies and i % 20 == 19:  # each original is copied at most once: every cluster is a pair
            texts.append(texts[originals.pop(rng.randrange(len(originals)))] + " dup")
        elif copies and i % 100 == 49:
            texts.append(texts[originals.pop(rng.randrange(len(originals)))])
        else:
            originals.append(i)
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100))))
    return pa.table(
        {
            "doc_id": pa.array([salt + i for i in range(n)], pa.int64()),
            "text": texts,
            "lang": [rng.choice(LANGS) for _ in range(n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def lineitem(n: int, seed: int) -> pa.Table:
    rng = random.Random(seed * 31 + 1)
    day0 = datetime(1995, 1, 2)
    return pa.table(
        {
            "l_orderkey": pa.array([rng.randrange(n // 4) for _ in range(n)], pa.int64()),
            "l_partkey": pa.array([rng.randrange(20_000) for _ in range(n)], pa.int64()),
            "l_suppkey": pa.array([rng.randrange(1_000) for _ in range(n)], pa.int64()),
            "l_linenumber": pa.array([rng.randint(1, 7) for _ in range(n)], pa.int32()),
            "l_quantity": [float(rng.randint(1, 50)) for _ in range(n)],
            "l_extendedprice": [rng.randint(90_068, 10_499_991) / 100 for _ in range(n)],
            "l_discount": [rng.randint(0, 10) / 100 for _ in range(n)],
            "l_tax": [rng.randint(0, 8) / 100 for _ in range(n)],
            "l_returnflag": [rng.choice("ANR") for _ in range(n)],
            "l_linestatus": [rng.choice("FO") for _ in range(n)],
            "l_shipdate": pa.array(
                [day0 + timedelta(days=rng.randrange(2499)) for _ in range(n)], pa.timestamp("us")
            ),
        }
    )


def events(n: int, seed: int) -> pa.Table:
    rng = random.Random(seed * 31 + 2)
    t, ts = datetime(2024, 1, 1), []
    for _ in range(n):
        t += timedelta(microseconds=rng.randrange(1, 2 * 2_592_000_000_000 // n))
        ts.append(t)
    return pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array([rng.randrange(max(1, n // 60)) for _ in range(n)], pa.int64()),
            "event_type": [rng.choice(("click", "error", "purchase", "signup", "view")) for _ in range(n)],
            "value": [rng.randint(0, 56_021) / 100 for _ in range(n)],
            "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n)],
        }
    )


def write_sf_dir(
    path: str, seed: int, n_docs: int, salt: int, n_lineitem: int = 0, n_events: int = 0, copies: bool = True
) -> None:
    """A table directory as the queries read it (``<name>.parquet`` each)."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(documents(n_docs, seed, salt, copies), os.path.join(path, "documents.parquet"))
    if n_lineitem:
        pq.write_table(lineitem(n_lineitem, seed), os.path.join(path, "lineitem.parquet"))
    if n_events:
        pq.write_table(events(n_events, seed), os.path.join(path, "events.parquet"))


def pack(html: bytes, i: int) -> bytes:
    """Wrap a page in one of the transfer envelopes a crawl carries."""
    return (gzip.compress, bz2.compress, lzma.compress)[i % 3](html)


def pack_batches(batches):
    """mapInArrow body: the html column of each page, wrapped by ``pack``
    keyed on the url's crc32 (so the choice does not depend on order)."""
    import zlib

    for b in batches:
        i = b.schema.get_field_index("html")
        urls = b.column(b.schema.get_field_index("url")).to_pylist()
        packed = [pack(h, zlib.crc32(u.encode())) for u, h in zip(urls, b.column(i).to_pylist())]
        yield b.set_column(i, "html", pa.array(packed, pa.binary()))


class InputStore:
    """Directory cache: ``<root>/<key>`` is usable iff it holds READY."""

    def __init__(self, root: str) -> None:
        self.root = root

    def has(self, key: str) -> bool:
        return os.path.exists(os.path.join(self.root, key, READY))

    def get(self, key: str, build) -> tuple[str, bool]:
        """Path for ``key``, calling ``build(tmp_path)`` on a miss.
        Returns (path, built)."""
        path = os.path.join(self.root, key)
        if self.has(key):
            return path, False
        tmp = path + ".build"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        open(os.path.join(tmp, READY), "w").close()
        os.rename(tmp, path)
        return path, True
