"""Correctness gates. They run outside every timed window; each returns
a list of human-readable mismatches (empty = pass)."""

from __future__ import annotations

import math
import zlib

import pyarrow.dataset as ds

# 1 url in SAMPLE_MOD is checked field by field against in-process extract()
SAMPLE_MOD = 64


def sampled(df):
    """The hash-sampled urls of a DataFrame (Spark's crc32 is zlib's)."""
    from pyspark.sql import functions as F

    return df.filter(F.crc32(F.col("url").cast("binary")) % SAMPLE_MOD == 0)


def is_sampled(url: str) -> bool:
    return zlib.crc32(url.encode()) % SAMPLE_MOD == 0


def read_pages(path: str, keep) -> dict[str, bytes]:
    """url -> html for the rows of a parquet pages dir whose url passes
    ``keep``, read in-process (no Spark)."""
    t = ds.dataset(path, format="parquet").to_table(columns=["url", "html"])
    return {u: h for u, h in zip(t.column("url").to_pylist(), t.column("html").to_pylist()) if keep(u)}


def result_tuple(row) -> tuple:
    """Every RESULT_SCHEMA field of one output row, comparable."""
    return (
        row["url"],
        row["extracted_text"],
        tuple((s["start"], s["end"], s["kind"]) for s in row["spans"]),
        row["n_blocks"],
        row["n_kept"],
        row["html_len"],
        row["truncated"],
        row["html_digest"],
    )


def reference_tuples(pages: dict[str, bytes], digests: dict[str, int]) -> dict[str, tuple]:
    """What every output field must be, from in-process extract(): the
    frozen kernel is its own oracle, so this tests the pipeline."""
    from toyocr_spark.extractor import extract

    out = {}
    for url, html in pages.items():
        r = extract(html)
        out[url] = (
            url, r.text, tuple(r.spans), r.n_blocks, r.n_kept,
            0 if html is None else len(html), r.truncated, digests.get(url),
        )
    return out


def identity_mismatches(got: dict[str, tuple], want: dict[str, tuple]) -> list[str]:
    out = []
    for url in sorted(set(got) | set(want)):
        g, w = got.get(url), want.get(url)
        if g is None or w is None:
            out.append(f"{url}: {'missing from output' if g is None else 'not in input'}")
        elif g != w:
            bad = [i for i, (a, b) in enumerate(zip(g, w)) if a != b]
            out.append(f"{url}: fields {bad} differ")
    return out


def oracle_mismatches(name: str, cols: list[str], rows: list[tuple], kinds: dict[str, str], con, sql: str) -> list[str]:
    """One query's Spark result against its DuckDB oracle, compared the
    way tests/test_oracle_parity.py compares them."""
    from tests.test_oracle_parity import _normalize

    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    if sorted(cols) != sorted(dcols):
        return [f"{name}: columns {sorted(cols)} vs {sorted(dcols)}"]
    dkinds = con.execute(sql).df().dtypes
    skew = [c for c in cols if {kinds[c], dkinds[c].kind} == {"i", "f"}]
    if skew:
        return [f"{name}: int-vs-float dtype skew on {skew}"]
    if len(rows) != len(drows):
        return [f"{name}: row count {len(rows)} vs {len(drows)}"]
    _, sn = _normalize(rows, cols)
    _, dn = _normalize(drows, dcols)
    return [
        f"{name}: row {a} vs {b}"
        for a, b in zip(sn, dn)
        if any(
            not (x == y or (isinstance(x, float) and isinstance(y, float) and math.isclose(x, y, rel_tol=0, abs_tol=1e-9)))
            for x, y in zip(a, b)
        )
    ]


def dtype_kinds(schema) -> dict[str, str]:
    ints = ("byte", "short", "integer", "long")
    return {
        f.name: "i" if f.dataType.typeName() in ints else "f" if f.dataType.typeName() in ("float", "double") else "?"
        for f in schema.fields
    }
