"""CDX capture-index sink: sorted non-overlapping shards, an exact
cluster.idx, block-pruned lookups that match the full scan, and the
one-Exchange plan contract."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from toyocr_spark.sources import read_pages
from toyocr_spark.sources.cdx import (
    CLUSTER_IDX,
    INDEX_DIR,
    _prune,
    cdx_lookup,
    cdx_rows,
    write_cdx,
)


@pytest.fixture(scope="module")
def cdx_dir(spark, pages_dir, tmp_path_factory) -> str:
    out = str(tmp_path_factory.mktemp("cdx"))
    pages = read_pages(spark, pages_dir)
    summary = write_cdx(pages, out, shards=4)
    assert summary["rows"] == pages.count()
    return out


def test_shards_are_sorted_and_non_overlapping(spark, cdx_dir):
    with open(os.path.join(cdx_dir, CLUSTER_IDX)) as f:
        entries = [json.loads(ln) for ln in f if ln.strip()]
    assert 1 <= len(entries) <= 4
    # cluster.idx is sorted by first_key and spans do not overlap
    for a, b in zip(entries, entries[1:]):
        assert a["first_key"] <= a["last_key"]
        assert a["last_key"] <= b["first_key"]
    # every shard file is internally sorted by (surt_key, ts14) and its
    # cluster.idx span is exact
    for e in entries:
        rows = (
            spark.read.parquet(os.path.join(cdx_dir, INDEX_DIR, e["file"]))
            .select("surt_key", "ts14")
            .collect()
        )
        keys = [(r["surt_key"], r["ts14"]) for r in rows]
        assert keys == sorted(keys)
        assert len(keys) == e["n_rows"]
        assert keys[0][0] == e["first_key"] and keys[-1][0] == e["last_key"]


def test_lookup_matches_full_scan_and_prunes(spark, pages_dir, cdx_dir):
    pages = read_pages(spark, pages_dir)
    full = cdx_rows(pages)
    # pick the host of some capture and probe its SURT prefix
    some = full.limit(1).collect()[0]["surt_key"]
    prefix = some.split(")")[0] + ")"

    got = sorted(
        tuple(r) for r in cdx_lookup(spark, cdx_dir, prefix).collect()
    )
    want = sorted(
        tuple(r)
        for r in full.filter(F.col("surt_key").startswith(prefix)).collect()
    )
    assert got == want and len(got) > 0

    # a narrow prefix prunes: strictly fewer shards than the total
    with open(os.path.join(cdx_dir, CLUSTER_IDX)) as f:
        entries = [json.loads(ln) for ln in f if ln.strip()]
    if len(entries) > 1:
        assert len(_prune(entries, prefix)) < len(entries)
    # a miss prefix prunes to zero shards and returns an empty frame
    assert _prune(entries, "zzz,nonexistent)") == []
    assert cdx_lookup(spark, cdx_dir, "zzz,nonexistent)").count() == 0


def test_prune_is_conservative():
    entries = [
        {"file": "a", "first_key": "aa)", "last_key": "cc)"},
        {"file": "b", "first_key": "cc)", "last_key": "ff)"},
        {"file": "c", "first_key": "gg)", "last_key": "zz)"},
    ]
    assert _prune(entries, "bb)") == ["a"]
    assert _prune(entries, "cc)") == ["a", "b"]  # boundary key: both
    assert _prune(entries, "hh)") == ["c"]
    assert _prune(entries, "aa") == ["a"]


def test_row_build_is_map_only_and_sink_adds_one_range_exchange(spark, pages_dir):
    pages = read_pages(spark, pages_dir)
    rows = cdx_rows(pages)
    plan = rows._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # map-only projection
    ranged = rows.repartitionByRange(4, "surt_key", "ts14").sortWithinPartitions(
        "surt_key", "ts14"
    )
    plan2 = ranged._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("Exchange") == 1 and "rangepartitioning" in plan2


def test_keep_cols_colliding_with_emitted_columns_is_rejected(spark, pages_dir):
    pages = read_pages(spark, pages_dir)
    with pytest.raises(ValueError, match=r"\['n_bytes', 'url'\]"):
        cdx_rows(pages, keep_cols=("url", "warc_ts", "n_bytes"))


def test_merge_cdx_incremental(spark, tmp_path_factory):
    """Two per-snapshot indexes merge into one sorted index: union of
    captures, duplicate (key, ts, digest) rows collapsed, spans still
    sorted + non-overlapping, lookups see both snapshots."""
    from toyocr_spark.fixtures import write_pages_parquet
    from toyocr_spark.sources.cdx import merge_cdx

    base = tmp_path_factory.mktemp("cdx_merge")
    pa_dir, pb_dir = str(base / "pages_a"), str(base / "pages_b")
    write_pages_parquet(pa_dir, n=60, seed=101)
    write_pages_parquet(pb_dir, n=60, seed=202)
    ia, ib, im = str(base / "idx_a"), str(base / "idx_b"), str(base / "idx_m")
    a_rows = write_cdx(read_pages(spark, pa_dir), ia, shards=2)["rows"]
    b_rows = write_cdx(read_pages(spark, pb_dir), ib, shards=2)["rows"]
    summary = merge_cdx(spark, [ia, ib], im, shards=3)

    merged = spark.read.parquet(os.path.join(im, INDEX_DIR))
    both = spark.read.parquet(os.path.join(ia, INDEX_DIR)).unionByName(
        spark.read.parquet(os.path.join(ib, INDEX_DIR))
    )
    want = both.dropDuplicates(["surt_key", "ts14", "digest"]).count()
    assert summary["rows"] == merged.count() == want <= a_rows + b_rows

    with open(os.path.join(im, CLUSTER_IDX)) as f:
        entries = [json.loads(ln) for ln in f if ln.strip()]
    for a, b in zip(entries, entries[1:]):
        assert a["last_key"] <= b["first_key"]
    # merging an index with itself is idempotent on capture identity
    im2 = str(base / "idx_m2")
    again = merge_cdx(spark, [im, im], im2, shards=2)
    assert again["rows"] == want


def test_index_job_cli(tmp_path, pages_dir):
    """The spark-submit index driver: build -> merge (duplicate
    captures collapse) -> lookup through cluster.idx pruning."""
    import subprocess
    import sys

    REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=REPO)

    def run(*args):
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "jobs", "index_job.py"), *args],
            capture_output=True, text=True, timeout=420, env=env,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return json.loads(
            [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
        )

    ia = str(tmp_path / "ia")
    im = str(tmp_path / "im")
    built = run("build", "--pages", pages_dir, "--output", ia, "--shards", "2")
    assert built["rows"] > 0
    merged = run("merge", "--inputs", f"{ia},{ia}", "--output", im)
    assert merged["rows"] == built["rows"]  # identical snapshots collapse
    probe = run("lookup", "--index", im, "--prefix", "example,")
    assert probe["n_hits"] == built["rows"]  # every capture is *.example
    assert probe["sample"] and probe["sample"][0]["surt_key"].startswith("example,")
