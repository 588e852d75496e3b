"""Pipeline-level byte-identity + lineage + resume tests — the
north_rule gate (BASELINE.md): the distributed pipeline must reproduce
the frozen oracle's text for every url, survive restarts, and leave
exactly one lineage row per (chunk, partition)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from toyocr_spark.pipeline import (
    identity_report,
    read_lineage,
    read_result,
    resumable_run,
    run_extraction,
)
from toyocr_spark.sources import read_pages


def test_byte_identity_full_sweep(spark, pages_dir):
    pages = read_pages(spark, pages_dir)
    result = run_extraction(pages, num_partitions=8)
    row = identity_report(result, pages).collect()[0]
    assert row["n_urls"] == pages.count()
    assert row["n_identical"] == row["n_urls"], "byte-identity must hold for every url"
    assert row["pass_rate"] == 1.0


def test_result_schema_stable(spark, pages_dir):
    result = run_extraction(read_pages(spark, pages_dir), num_partitions=4)
    assert [f.name for f in result.schema.fields] == [
        "url", "extracted_text", "spans", "n_blocks", "n_kept", "html_len",
        "truncated", "html_digest",
    ]
    one = result.filter(F.col("n_kept") > 0).limit(1).collect()[0]
    sp = one["spans"][0]
    assert set(sp.asDict()) == {"start", "end", "kind"}


def test_spans_match_expected_sidecar(spark, pages_dir):
    """Engine spans == golden expected_spans (the GT-zip protocol graft):
    exact equality on (url, block_id, start, end, kind)."""
    result = run_extraction(read_pages(spark, pages_dir), num_partitions=4)
    ours = result.select(
        "url", F.posexplode_outer("spans").alias("block_id", "s")
    ).select("url", "block_id", "s.start", "s.end", "s.kind").filter(F.col("s").isNotNull())
    golden = spark.read.parquet(f"{pages_dir}/expected_spans.parquet").select(
        "url", F.col("block_id").cast("int").alias("block_id"), "start", "end", "kind"
    )
    ours_c, golden_c = ours.count(), golden.count()
    assert ours_c == golden_c
    assert ours.exceptAll(golden.select(ours.columns)).count() == 0


def test_resumable_run_and_restart(spark, pages_dir, tmp_path):
    pages = read_pages(spark, pages_dir)
    out_a = str(tmp_path / "out_clean")
    clean = resumable_run(spark, pages, out_a, run_id="clean", n_chunks=4, num_partitions=4)
    assert clean["executed"] == [0, 1, 2, 3]

    # crashed run: fails after 2 chunks, restart completes the rest
    out_b = str(tmp_path / "out_crash")
    with pytest.raises(RuntimeError, match="injected failure"):
        resumable_run(spark, pages, out_b, run_id="crash1", n_chunks=4,
                      num_partitions=4, fail_after_chunk=1)
    resumed = resumable_run(spark, pages, out_b, run_id="crash2", n_chunks=4, num_partitions=4)
    assert len(resumed["skipped"]) == 2 and len(resumed["executed"]) == 2

    a = read_result(spark, out_a)
    b = read_result(spark, out_b)
    assert a.count() == pages.count() == b.count()
    # identical final tables regardless of the crash (S12 semantics)
    key = ["url", "extracted_text"]
    assert a.select(key).exceptAll(b.select(key)).count() == 0
    assert b.select(key).exceptAll(a.select(key)).count() == 0

    # lineage: exactly one row per (chunk, partition); chunk digests are
    # order-insensitive so both runs agree per chunk
    lin_a = read_lineage(spark, out_a)
    lin_b = read_lineage(spark, out_b)
    dup = lin_b.groupBy("chunk_id", "partition_id").count().filter(F.col("count") > 1)
    assert dup.count() == 0
    def dig(df):
        return {
            r["chunk_id"]: sorted(r["ds"])
            for r in df.groupBy("chunk_id").agg(F.collect_list("digest").alias("ds")).collect()
        }

    assert dig(lin_a) == dig(lin_b)

    # byte identity also holds on the resumed output
    row = identity_report(b, pages).collect()[0]
    assert row["pass_rate"] == 1.0


def test_commit_markers_atomic(spark, pages_dir, tmp_path):
    out = str(tmp_path / "out_commits")
    resumable_run(spark, read_pages(spark, pages_dir), out, n_chunks=2, num_partitions=2)
    commits = sorted(os.listdir(os.path.join(out, "_commits")))
    assert commits == ["chunk-0.json", "chunk-1.json"]


def test_snapshot_read_hides_uncommitted_chunks(spark, pages_dir, tmp_path):
    """A crash between parquet write and commit marker must leave the
    partial chunk INVISIBLE to readers (snapshot isolation of the
    commit log). Simulated by deleting a marker after a full run —
    equivalent on-disk state to the crash window."""
    import os

    from toyocr_spark.pipeline import read_lineage, read_result, resumable_run
    from toyocr_spark.sources.pages import read_pages

    out = str(tmp_path / "snap")
    pages = read_pages(spark, pages_dir)
    resumable_run(spark, pages, out, n_chunks=4)
    total = read_result(spark, out).count()

    os.remove(os.path.join(out, "_commits", "chunk-2.json"))
    visible = read_result(spark, out)
    assert visible.count() < total
    assert read_result(spark, out, committed_only=False).count() == total
    assert read_lineage(spark, out).select("chunk_id").distinct().count() == 3

    # resume re-executes exactly the uncommitted chunk; totals restore
    r = resumable_run(spark, pages, out, n_chunks=4)
    assert r["executed"] == [2]
    assert read_result(spark, out).count() == total


def test_sub_batch_slicing_is_invisible(monkeypatch):
    """_extract_batches slices oversized Arrow batches on a byte budget
    (int32-offset guard). Driven directly in-process (executor workers
    re-import the module, so a Spark-side monkeypatch would be
    vacuous): a tiny budget must yield MORE batches but byte-identical
    concatenated output."""
    import pyarrow as pa

    from toyocr_spark import pipeline

    htmls = [f"<p>doc {i} body text</p>".encode() * 20 for i in range(64)]
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([f"u{i}" for i in range(64)], pa.string()),
            pa.array(htmls, pa.binary()),
            pa.array(list(range(64)), pa.int64()),
        ],
        names=["url", "html", "html_digest"],
    )
    one = list(pipeline._extract_batches(iter([batch])))
    monkeypatch.setattr(pipeline, "_OUT_BATCH_BYTES", 1024)
    many = list(pipeline._extract_batches(iter([batch])))
    assert len(one) == 1 and len(many) > 4
    t_one = pa.Table.from_batches(one)
    t_many = pa.Table.from_batches(many)
    assert t_one.equals(t_many.combine_chunks())
    assert t_one.num_rows == 64


# --- the extraction memo: one kernel run per distinct body ----------------


def _html(i: int) -> bytes:
    return (
        f"<html><body><h1>Heading number {i}</h1>"
        f"<p>body paragraph {i} long enough for the kernel to keep it</p>"
        "</body></html>"
    ).encode()


def _batch(bodies, digests=None):
    import pyarrow as pa

    if digests is None:  # equal bytes get equal digests, as on the JVM side
        digests = [hash(b) for b in bodies]
    return pa.RecordBatch.from_arrays(
        [
            pa.array([f"u{i}" for i in range(len(bodies))], pa.string()),
            pa.array(bodies, pa.binary()),
            pa.array(digests, pa.int64()),
        ],
        names=["url", "html", "html_digest"],
    )


@pytest.fixture
def kernel_runs(monkeypatch):
    """Counts kernel calls by strategy; resets the worker memo and leaves
    no TaskContext behind."""
    from pyspark import TaskContext

    from toyocr_spark import extractor, pipeline

    runs: list[str] = []
    extract, extract_with = extractor.extract, extractor.extract_with

    def counting_extract(h):
        runs.append("density")
        return extract(h)

    def counting_extract_with(h, strategy):
        runs.append(strategy)
        return extract_with(h, strategy)

    monkeypatch.setattr(extractor, "extract", counting_extract)
    monkeypatch.setattr(extractor, "extract_with", counting_extract_with)
    monkeypatch.setattr(pipeline, "_memo_scope", None)
    monkeypatch.setattr(pipeline, "_memo", pipeline._Memo())
    monkeypatch.setattr(TaskContext, "_taskContext", None)
    return runs


class _FakeTask:
    def __init__(self, stage_id: int) -> None:
        self._stage_id = stage_id

    def stageId(self) -> int:
        return self._stage_id


def _run(bodies, strategy="density", digests=None):
    import pyarrow as pa

    from toyocr_spark import pipeline

    out = pa.Table.from_batches(
        list(pipeline._extract_batches(iter([_batch(bodies, digests)]), strategy))
    )
    return out.to_pylist()


def _expected(bodies, strategy="density"):
    from toyocr_spark.extractor.core import extract_with

    return [extract_with(h, strategy) for h in bodies]


def _same(rows, expected):
    assert len(rows) == len(expected)
    for row, r in zip(rows, expected):
        assert row["extracted_text"] == r.text
        assert [(s["start"], s["end"], s["kind"]) for s in row["spans"]] == list(r.spans)
        assert (row["n_blocks"], row["n_kept"], row["truncated"]) == (
            r.n_blocks, r.n_kept, r.truncated,
        )


def test_memo_runs_the_kernel_once_per_distinct_body(kernel_runs):
    bodies = [_html(0), _html(1), _html(0), _html(2), _html(1), _html(0), None, None]
    rows = _run(bodies)
    assert len(kernel_runs) == 4  # three bodies and the null
    _same(rows, _expected(bodies))
    assert [r["html_len"] for r in rows] == [len(b or b"") for b in bodies]
    # outside a Spark task the memo lives for the one call
    _run(bodies)
    assert len(kernel_runs) == 8


def test_memo_equal_digests_with_distinct_bodies_each_run(kernel_runs):
    bodies = [_html(i) for i in range(6)] + [_html(0)]
    rows = _run(bodies, digests=[0] * len(bodies))
    _same(rows, _expected(bodies))
    assert len(kernel_runs) == 7  # the digest alone is never trusted


def test_memo_scope_follows_stage_and_strategy(kernel_runs):
    from pyspark import TaskContext

    bodies = [_html(0), _html(1), _html(0)]
    TaskContext._setTaskContext(_FakeTask(3))
    _same(_run(bodies), _expected(bodies))
    assert kernel_runs == ["density"] * 2
    _same(_run(bodies), _expected(bodies))  # a later task of the stage
    assert len(kernel_runs) == 2
    _same(_run(bodies, "title-only"), _expected(bodies, "title-only"))
    assert kernel_runs[2:] == ["title-only"] * 2
    _same(_run(bodies), _expected(bodies))  # back to density: memo was reset
    assert len(kernel_runs) == 6
    TaskContext._setTaskContext(_FakeTask(4))
    _same(_run(bodies), _expected(bodies))  # a new stage starts empty
    assert len(kernel_runs) == 8


def test_memo_clears_when_its_byte_cap_is_reached(kernel_runs, monkeypatch):
    from pyspark import TaskContext

    from toyocr_spark import pipeline

    bodies = [_html(i) for i in range(3)]
    assert len({len(b) for b in bodies}) == 1
    monkeypatch.setattr(pipeline, "_MEMO_BYTES", int(len(bodies[0]) * 2.5))
    TaskContext._setTaskContext(_FakeTask(1))
    _run(bodies[:2])
    assert len(kernel_runs) == 2 and pipeline._memo.nbytes == 2 * len(bodies[0])
    _run(bodies[:2])  # both still held
    assert len(kernel_runs) == 2
    _run(bodies[2:])  # a third body does not fit: the memo starts over
    assert len(kernel_runs) == 3 and set(pipeline._memo) == {hash(bodies[2])}
    assert pipeline._memo.nbytes == len(bodies[2])
    _same(_run(bodies), _expected(bodies))  # body 1 clears it, so body 2 reruns
    assert len(kernel_runs) == 6


def test_memo_keeps_spark_output_exact_across_partitions(spark, tmp_path):
    """Byte-identical bodies planted in every partition: the Spark result
    equals in-process extract on every RESULT_SCHEMA field."""
    from toyocr_spark.extractor import extract
    from toyocr_spark.fixtures.genzip import build_zip
    from toyocr_spark.pipeline import RESULT_SCHEMA, extract_pages

    distinct = [_html(i) for i in range(5)] + [
        build_zip([("page.html", _html(9)), ("b.html", _html(8))]), b"", None,
    ]
    rows = [
        (f"https://h{k}.example/{j}", body) for k in range(8) for j, body in enumerate(distinct)
    ]
    path = str(tmp_path / "dup_pages")
    spark.createDataFrame(rows, "url string, html binary").repartition(8).write.parquet(path)
    pages = spark.read.parquet(path)
    assert pages.rdd.getNumPartitions() > 1
    got = {
        r["url"]: r
        for r in extract_pages(pages)
        .join(pages.select("url", F.xxhash64("html").alias("jvm_digest")), "url")
        .collect()
    }
    assert len(got) == len(rows)
    for url, html in rows:
        r, row = extract(html), got[url]
        assert row["extracted_text"] == r.text
        assert [(s.start, s.end, s.kind) for s in row["spans"]] == list(r.spans)
        assert (row["n_blocks"], row["n_kept"], row["truncated"]) == (
            r.n_blocks, r.n_kept, r.truncated,
        )
        assert row["html_len"] == len(html or b"")
        assert row["html_digest"] == row["jvm_digest"]
        assert set(row.asDict()) == {f.name for f in RESULT_SCHEMA.fields} | {"jvm_digest"}


def test_dup_bodies_counts_repeats_per_file_and_overall(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tools.dup_bodies import count

    a, b, c = _html(0), _html(1), _html(2)
    for name, bodies in (("part-0", [a, a, b, None]), ("part-1", [a, c, c, None])):
        table = pa.table({"url": [str(i) for i in range(4)], "html": bodies})
        pq.write_table(table, tmp_path / f"{name}.parquet")
    assert count(str(tmp_path)) == {
        "files": 2, "rows": 8, "distinct_per_file": 6, "distinct_overall": 4,
    }
