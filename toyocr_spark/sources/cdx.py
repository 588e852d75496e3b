"""CDX capture index: the sorted per-capture index that makes a
petabyte crawl point-addressable (the Common Crawl index layout —
sorted SURT-keyed shards plus a tiny block-boundary secondary index;
reference analogue: the dataset catalog ToyOCR's loaders resolve
image ids through, data/build.py's id->record indirection).

Scale shape:
  * index ROWS are a map-only projection over the pages table (URL
    canonicalization + SURT key are pure Column exprs, digest is md5
    of the capture bytes) — no shuffle;
  * the SINK adds exactly ONE Exchange: repartitionByRange(surt_key,
    ts14) + sortWithinPartitions, so each shard is a sorted,
    non-overlapping key range — a total sort of (key, digest, length)
    rows, never of page bodies;
  * `cluster.idx` records each shard's [first_key, last_key] span
    (one line per shard, driver-side — bounded by shard count);
  * lookups read cluster.idx (KBs), keep only shards whose span
    intersects the probe prefix, and scan just those files with the
    prefix filter pushed to parquet — block pruning, the pattern that
    turns "find this host in 100 TB" into a few MB of reads.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from toyocr_spark.functions.urlfns import canonicalize_url, surt_key

INDEX_DIR = "index"
CLUSTER_IDX = "cluster.idx"
_CDX_COLUMNS = ("surt_key", "ts14", "url", "digest", "n_bytes")


def cdx_rows(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    content_col: str = "html",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One index row per capture: (surt_key, ts14, url, digest,
    n_bytes [, keep_cols...]). Map-only — safe to compose under the
    range-partitioned sink without an extra shuffle. `keep_cols`
    passes capture provenance through (e.g. read_warc_members'
    warc_file/warc_offset/warc_length, which make every index row
    range-addressable back into its archive file). A `keep_cols` name
    that repeats an emitted column is a ValueError."""
    clash = sorted(set(keep_cols) & set(_CDX_COLUMNS))
    if clash:
        raise ValueError(f"keep_cols repeat emitted CDX columns: {clash}")
    # canonicalize once into a NAMED column and derive the SURT key
    # from the column reference — surt_key's internal reuse otherwise
    # clones the canonicalize subtree ~6x in the unresolved plan and
    # Catalyst analysis of the product dominates plan-build time
    base = pages.select(
        canonicalize_url(F.col(url_col)).alias("url"),
        F.date_format(F.col(ts_col), "yyyyMMddHHmmss").alias("ts14"),
        F.md5(F.col(content_col).cast("binary")).alias("digest"),
        F.octet_length(F.col(content_col).cast("binary"))
        .cast("long")
        .alias("n_bytes"),
        *[F.col(c) for c in keep_cols],
    )
    return base.select(
        surt_key(F.col("url")).alias("surt_key"), *_CDX_COLUMNS[1:], *keep_cols
    )


def write_cdx(
    pages: DataFrame,
    path: str,
    shards: int = 8,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    content_col: str = "html",
    keep_cols: tuple[str, ...] = (),
) -> dict:
    """Materialize the sorted index: `path/index/` holds range-
    partitioned, internally-sorted parquet shards; `path/cluster.idx`
    holds one JSON line per shard file with its key span and row
    count. Returns a summary dict.

    cluster.idx is derived from the WRITTEN files (input_file_name
    group-by), not from a pre-write sample, so it is exact even though
    range partitioning samples probabilistically."""
    rows = cdx_rows(
        pages,
        url_col=url_col,
        ts_col=ts_col,
        content_col=content_col,
        keep_cols=keep_cols,
    )
    out_dir = os.path.join(path, INDEX_DIR)
    (
        rows.repartitionByRange(shards, "surt_key", "ts14")
        .sortWithinPartitions("surt_key", "ts14")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    lines = _write_cluster_idx(pages.sparkSession, out_dir, path)
    return {
        "shards": len(lines),
        "rows": sum(ln["n_rows"] for ln in lines),
        "index_dir": out_dir,
        "cluster_idx": os.path.join(path, CLUSTER_IDX),
    }


def _write_cluster_idx(spark: SparkSession, out_dir: str, path: str) -> list[dict]:
    """Derive each written shard file's exact (first_key, last_key,
    n_rows) span and persist `path/cluster.idx`, one sorted JSON line
    per shard. Post-write derivation (input_file_name group-by) keeps
    the spans exact even though range partitioning samples
    probabilistically."""
    spans = (
        spark.read.parquet(out_dir)
        .select(F.input_file_name().alias("file"), "surt_key", "ts14")
        .groupBy("file")
        .agg(
            F.min(F.struct("surt_key", "ts14")).alias("first"),
            F.max(F.struct("surt_key", "ts14")).alias("last"),
            F.count("*").alias("n_rows"),
        )
        .collect()
    )
    lines = sorted(
        (
            {
                "file": os.path.basename(r["file"]),
                "first_key": r["first"]["surt_key"],
                "last_key": r["last"]["surt_key"],
                "n_rows": r["n_rows"],
            }
            for r in spans
        ),
        key=lambda d: (d["first_key"], d["file"]),
    )
    with open(os.path.join(path, CLUSTER_IDX), "w") as f:
        for ln in lines:
            f.write(json.dumps(ln, sort_keys=True) + "\n")
    return lines


def _prune(entries: list[dict], surt_prefix: str) -> list[str]:
    """Shard files whose [first_key, last_key] span can contain a key
    with this prefix: first_key <= the largest possible prefixed key
    and last_key >= the prefix itself."""
    hi = surt_prefix + "￿"
    return [
        e["file"]
        for e in entries
        if e["first_key"] <= hi and e["last_key"] >= surt_prefix
    ]


def cdx_lookup(spark: SparkSession, path: str, surt_prefix: str) -> DataFrame:
    """Point/range lookup by SURT prefix (e.g. 'example,host-3)' for a
    host, 'example,' for a registrable domain). Reads cluster.idx on
    the driver, keeps only shard files whose [first,last] span can
    contain the prefix, and scans just those with the filter pushed to
    parquet — everything else is never opened."""
    with open(os.path.join(path, CLUSTER_IDX)) as f:
        entries = [json.loads(ln) for ln in f if ln.strip()]
    keep = [os.path.join(path, INDEX_DIR, f) for f in _prune(entries, surt_prefix)]
    if not keep:
        return spark.read.parquet(os.path.join(path, INDEX_DIR)).limit(0)
    return spark.read.parquet(*keep).filter(
        F.col("surt_key").startswith(surt_prefix)
    )


def merge_cdx(spark: SparkSession, paths: list[str], out_path: str, shards: int = 8) -> dict:
    """Incremental index maintenance: merge N existing CDX indexes
    (e.g. per-crawl-snapshot) into one sorted index. Reading sorted
    shards is a plain parquet scan; the merge costs exactly ONE
    range Exchange over (key, digest, length) rows — page bodies are
    never touched, which is why Common Crawl can republish a merged
    index per crawl. Duplicate captures (same surt_key, ts14, digest)
    collapse to one row."""
    frames = [spark.read.parquet(os.path.join(p, INDEX_DIR)) for p in paths]
    rows = frames[0]
    for f in frames[1:]:
        rows = rows.unionByName(f)
    rows = rows.dropDuplicates(["surt_key", "ts14", "digest"])
    out_dir = os.path.join(out_path, INDEX_DIR)
    (
        rows.repartitionByRange(shards, "surt_key", "ts14")
        .sortWithinPartitions("surt_key", "ts14")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    lines = _write_cluster_idx(spark, out_dir, out_path)
    return {
        "shards": len(lines),
        "rows": sum(ln["n_rows"] for ln in lines),
        "inputs": len(paths),
        "index_dir": out_dir,
    }
