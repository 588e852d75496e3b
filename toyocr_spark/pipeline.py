"""The flagship extraction job (SURVEY.md S3.2's Spark equivalent):

    pages -> [salted repartition by url-hash, only when the input
          has fewer than half the requested partitions] -> mapInArrow(extract)
          -> (url, extracted_text, spans) -> parquet sink
          + per-partition lineage rows + chunked commit-log resume

Design notes for the 100 TB shape:
  * ONE heavy Arrow-batched UDF does all non-relational work (parse ->
    score -> select -> serialize) — no per-row Python, no driver loops
    over data (input_hint requirement). Everything else is declarative
    DataFrame code that Catalyst optimizes (column pruning: only
    (url, html) enter the UDF; the wide ``text`` oracle column is never
    shipped through the shuffle).
  * Resume = driver loop over K url-hash chunks, each written
    idempotently and committed by an atomic manifest rename — the
    batch + commit-log semantics SURVEY.md S2.11 chose over Structured
    Streaming (graft of DetectionCheckpointer.resume_or_load,
    /root/reference/train_net.py:54-56). On a real cluster each chunk
    is an Iceberg partition and the manifest is the snapshot commit;
    chunk count scales with input size (e.g. one per crawl segment),
    keeping each chunk a bounded, retryable unit of work.
  * Lineage rows (run_id, chunk, partition_id, row_count, digest,
    wall_ms) are the metrics-sink graft (apis/train.py:356-362). The
    digest is an order-insensitive bit_xor of per-row xxhash64 — O(1)
    state per partition, any scale.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Iterator
from typing import Any

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from toyocr_spark.plans.partitioning import salted_repartition

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("extracted_text", T.StringType(), False),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("start", T.LongType(), False),
                        T.StructField("end", T.LongType(), False),
                        T.StructField("kind", T.StringType(), False),
                    ]
                )
            ),
            False,
        ),
        T.StructField("n_blocks", T.IntegerType(), False),
        T.StructField("n_kept", T.IntegerType(), False),
        T.StructField("html_len", T.LongType(), False),
        T.StructField("truncated", T.BooleanType(), False),
        # xxhash64 of the raw html (computed JVM-side, passed through the
        # kernel untouched): the key for cross-run delta extraction —
        # a page re-extracts only when url or bytes changed
        T.StructField("html_digest", T.LongType(), False),
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("chunk_id", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("input_split", T.StringType(), False),
        T.StructField("row_count", T.LongType(), False),
        T.StructField("digest", T.StringType(), False),
        T.StructField("wall_ms", T.LongType(), False),
    ]
)


# Output sub-batch byte budget: pa.string()/pa.binary() carry int32
# offsets, so any single output array must stay far under 2 GiB. The
# session helper caps maxRecordsPerBatch at 512 rows, but a FOREIGN
# session (default 10k rows/batch) x MAX_HTML_BYTES-sized documents
# could overflow at runtime — so the kernel wrapper slices incoming
# batches on cumulative html bytes itself rather than trusting session
# config (extracted text is always <= html bytes, so bounding the
# input bounds every output array).
_OUT_BATCH_BYTES = 256 << 20

# Body bytes the extraction memo (see _extract_batches) may hold before
# it is cleared.
_MEMO_BYTES = 64 << 20


class _Memo(dict):
    """html_digest -> (body, ExtractResult), plus the body bytes held."""

    nbytes = 0


# The memo of the (stage id, strategy) that last ran on this worker.
_memo_scope: tuple[int, str] | None = None
_memo = _Memo()


def _scope_memo(strategy: str) -> _Memo:
    """The memo shared by every call of one (stage, strategy) on this
    Python worker; a new, private one outside a Spark task."""
    global _memo_scope, _memo

    tc = TaskContext.get()
    if tc is None:
        return _Memo()
    scope = (tc.stageId(), strategy)
    if scope != _memo_scope:
        _memo_scope, _memo = scope, _Memo()
    return _memo


def _extract_batches(
    it: Iterator["pa.RecordBatch"], strategy: str = "density"
) -> Iterator["pa.RecordBatch"]:
    """Arrow-native kernel wrapper: RecordBatch in, RecordBatch out.

    mapInArrow (not mapInPandas) so no pandas object columns are ever
    materialized: the spans list<struct> column is assembled from flat
    offset/child arrays entirely in Arrow C code — measurably lower
    per-doc serialization overhead and memory churn than dict-per-span
    (the batch_padding-free analogue of /root/reference/inference/
    utils.py:6-49: ragged batches, zero copy-padding).

    The kernel runs once per distinct body: a memo keyed by the
    JVM-computed ``html_digest`` keeps each body with its result, and a
    row whose bytes equal the kept body's reuses that result (exact —
    equal digests over different bytes each run the kernel; results are
    frozen, so sharing one is safe). The memo lives for one stage and
    strategy on one Python worker, so the tasks of a stage that a reused
    worker runs share it, and it is dropped when the worker next runs
    another stage or strategy: no other job, pass or resume chunk sees
    it. Outside a Spark task it lives for the one call. It is cleared
    whenever it would hold more than ``_MEMO_BYTES`` of bodies."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if strategy == "density":
        from toyocr_spark.extractor import extract
    else:
        from toyocr_spark.extractor import extract_with

        def extract(h):  # noqa: ANN001 — registry-dispatched variant
            return extract_with(h, strategy)

    memo = _scope_memo(strategy)

    def extract_once(h, digest):  # noqa: ANN001
        hit = memo.get(digest)
        if hit is not None and hit[0] == h:
            return hit[1]
        r = extract(h)
        n = len(h) if h else 0
        if memo.nbytes + n > _MEMO_BYTES:
            memo.clear()
            memo.nbytes = 0
        memo[digest] = (h, r)
        memo.nbytes += n
        return r

    span_struct = pa.struct(
        [pa.field("start", pa.int64(), False), pa.field("end", pa.int64(), False),
         pa.field("kind", pa.string(), False)]
    )

    def _sub_batches(batch: "pa.RecordBatch") -> Iterator["pa.RecordBatch"]:
        if batch.num_rows == 0:
            return
        lens = pc.binary_length(batch.column(1)).to_pylist()
        start = 0
        while start < batch.num_rows:
            total, end = 0, start
            while end < batch.num_rows and (
                end == start or total + (lens[end] or 0) <= _OUT_BATCH_BYTES
            ):
                total += lens[end] or 0
                end += 1
            yield batch.slice(start, end - start)
            start = end

    import itertools

    for batch in itertools.chain.from_iterable(map(_sub_batches, it)):
        urls = batch.column(0)
        htmls = batch.column(1).to_pylist()
        digests = batch.column(2)  # JVM-computed xxhash64, passed through
        results = list(map(extract_once, htmls, digests.to_pylist()))
        # flat span arrays + offsets -> list<struct> with no per-row dicts
        starts: list[int] = []
        ends: list[int] = []
        kinds: list[str] = []
        offsets: list[int] = [0]
        for r in results:
            for s, e, k in r.spans:
                starts.append(s)
                ends.append(e)
                kinds.append(k)
            offsets.append(len(starts))
        spans = pa.ListArray.from_arrays(
            pa.array(offsets, pa.int32()),
            pa.StructArray.from_arrays(
                [pa.array(starts, pa.int64()), pa.array(ends, pa.int64()),
                 pa.array(kinds, pa.string())],
                fields=list(span_struct),
            ),
        )
        yield pa.RecordBatch.from_arrays(
            [
                urls,
                pa.array([r.text for r in results], pa.string()),
                spans,
                pa.array([r.n_blocks for r in results], pa.int32()),
                pa.array([r.n_kept for r in results], pa.int32()),
                pa.array([0 if h is None else len(h) for h in htmls], pa.int64()),
                pa.array([r.truncated for r in results], pa.bool_()),
                digests,
            ],
            names=[f.name for f in RESULT_SCHEMA.fields],
        )


def extract_pages(pages: DataFrame, strategy: str = "density") -> DataFrame:
    """(url, html, ...) -> RESULT_SCHEMA. Only (url, html) are read —
    explicit select so the parquet scan prunes every other column.
    ``strategy`` selects a registered kernel variant by name
    (extractor/registry.py); the default is the frozen oracle kernel."""
    import functools

    fn = (
        _extract_batches
        if strategy == "density"
        else functools.partial(_extract_batches, strategy=strategy)
    )
    prepared = pages.select(
        "url", "html", F.xxhash64("html").alias("html_digest")
    )
    return prepared.mapInArrow(fn, RESULT_SCHEMA)


def delta_pages(
    pages: DataFrame,
    prev_result: DataFrame,
    bloom_m_bits: int | None = None,
) -> DataFrame:
    """Incremental re-extraction input: pages whose (url, html bytes)
    pair is NOT already in a previous run's output — unchanged pages
    are skipped entirely (the monthly-recrawl case: most of a crawl is
    byte-identical to last month). Left-anti join on (url, xxhash64),
    so the wide html column never shuffles for the unchanged majority.

    Outputs written before html_digest existed read back as null (the
    pinned read schema tolerates a missing parquet column); those rows
    are dropped from the seen-set so they safely RE-extract rather than
    poisoning the anti-join key — graceful degradation, never a wrong
    skip."""
    seen = prev_result.select("url", "html_digest").filter(
        F.col("html_digest").isNotNull()
    )
    keyed = pages.withColumn("html_digest", F.xxhash64("html"))
    if bloom_m_bits is not None:
        # bloom pre-filter (the runtime-filter pattern): a map-side
        # probe against a broadcast bloom of the seen keys splits pages
        # into definitely-new (bloom miss -> skip the anti-join
        # entirely; no false negatives, so this is exact) and
        # maybe-seen (bloom hit -> the exact anti-join runs on this
        # minority only). For a mostly-new crawl the expensive
        # anti-join shrinks to the FP + true-dup fraction.
        from toyocr_spark.operators.bloom import bloom_build, with_bloom_verdict

        key = F.concat_ws("|", F.col("url"), F.col("html_digest").cast("string"))
        bloom = bloom_build(seen.select(key.alias("k")), F.col("k"), bloom_m_bits)
        probed = with_bloom_verdict(keyed, key, bloom, bloom_m_bits)
        fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen", "html_digest")
        maybe = (
            probed.filter(F.col("maybe_seen"))
            .drop("maybe_seen")
            .join(seen, ["url", "html_digest"], "left_anti")
            .drop("html_digest")
        )
        return fresh.unionByName(maybe)
    return keyed.join(seen, ["url", "html_digest"], "left_anti").drop("html_digest")


def run_extraction(
    pages: DataFrame,
    num_partitions: int | None = None,
    hot: list[str] | None = None,
    strategy: str = "density",
) -> DataFrame:
    """extract, after a salted repartition only for an under-parallel
    input; the core transformation shared by the one-shot and resumable
    drivers.

    Shuffle elision (guide §2.4): the extraction map's cost is
    proportional to BYTES, not keys, so any byte-balanced input
    partitioning is already work-balanced for it — a parquet scan
    split by maxPartitionBytes/minPartitionNum qualifies no matter how
    host-skewed the rows are. In that case the salted repartition is a
    full shuffle of the html payload bought for nothing, and it is the
    single largest non-kernel cost of the job (~2 GB moved at sf0.1;
    at 100 TB it is 100 TB moved). We therefore repartition ONLY when
    the incoming plan is genuinely under-parallel (fewer physical
    partitions than ~half the requested width — driver-built tiny
    inputs, single unsplittable files), where the shuffle buys real
    width. Salting remains the correct tool for HOST-KEYED downstream
    shapes (per-host aggs/sinks — see partitioning.py); the map itself
    never needed it."""
    if num_partitions is None:
        num_partitions = pages.sparkSession.sparkContext.defaultParallelism * 2
    # physical partition count of the incoming plan: plan-only, no job
    n_in = pages.rdd.getNumPartitions()
    if n_in * 2 < num_partitions:
        pages = salted_repartition(pages, num_partitions, hot=hot)
    return extract_pages(pages, strategy=strategy)


# ---------------------------------------------------------------- lineage


def partition_lineage(result: DataFrame, run_id: str, chunk_id: int, input_split: str) -> DataFrame:
    """Per-partition lineage aggregate over an extraction result read
    back from its committed files.

    Partition identity comes from the WRITTEN file (part-NNNNN index via
    input_file_name), not spark_partition_id of the re-read scan — a
    re-read groups small files by maxPartitionBytes, which would blur
    which write task produced which rows. Falls back to the scan
    partition id when rows carry no file provenance (non-file inputs).

    digest = hex(bit_xor(xxhash64(url, extracted_text))): commutative,
    so identical data -> identical digest regardless of row order or
    task scheduling; O(1) per partition (no sort, no collect).
    """
    fname = F.input_file_name()
    part = F.when(
        fname == "", F.spark_partition_id()
    ).otherwise(F.regexp_extract(fname, r"part-(\d+)", 1).cast("int"))
    return (
        result.withColumn("partition_id", part)
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("row_count"),
            F.hex(F.expr("bit_xor(xxhash64(url, extracted_text))")).alias("digest"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(chunk_id).cast("int").alias("chunk_id"),
            F.col("partition_id"),
            F.lit(input_split).alias("input_split"),
            F.col("row_count"),
            F.col("digest"),
            F.lit(0).cast("long").alias("wall_ms"),
        )
    )


# ------------------------------------------------------- resumable driver


class CommitLog:
    """Filesystem commit log: chunk c is committed iff
    ``<out>/_commits/chunk-c.json`` exists. The marker is written by
    atomic rename, so a crash mid-write never half-commits (the
    PeriodicCheckpointer graft, /root/reference/apis/train.py:73-79).
    On Iceberg this is the snapshot log; the protocol is identical."""

    def __init__(self, out_dir: str) -> None:
        self.dir = os.path.join(out_dir, "_commits")
        os.makedirs(self.dir, exist_ok=True)

    def committed(self) -> set[int]:
        out = set()
        for f in os.listdir(self.dir):
            if f.startswith("chunk-") and f.endswith(".json"):
                out.add(int(f[len("chunk-") : -len(".json")]))
        return out

    def commit(self, chunk_id: int, meta: dict[str, Any]) -> None:
        tmp = os.path.join(self.dir, f".chunk-{chunk_id}.tmp")
        dst = os.path.join(self.dir, f"chunk-{chunk_id}.json")
        with open(tmp, "w") as f:
            json.dump(meta, f, sort_keys=True)
        os.rename(tmp, dst)  # atomic on POSIX


def resumable_run(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    n_chunks: int = 8,
    num_partitions: int | None = None,
    hot: list[str] | None = None,
    strategy: str = "density",
    fail_after_chunk: int | None = None,  # test hook: inject a crash
) -> dict[str, Any]:
    """Extract ``pages`` into ``out_dir`` with chunk-level resume.

    Chunks are ``pmod(xxhash64(url), n_chunks)`` — a pure function of
    the row, so a restarted run selects byte-identical chunk memberships
    (no dependence on input file order or previous partitioning).
    Each chunk: filter -> extract -> overwrite parquet (idempotent) ->
    overwrite lineage -> atomic commit marker. Restart skips committed
    chunks; the final table is the union of chunk directories.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    log = CommitLog(out_dir)
    done = log.committed()
    chunk_col = F.pmod(F.xxhash64(F.col("url")), F.lit(n_chunks))
    executed: list[int] = []
    from pyspark.sql import Observation

    for c in range(n_chunks):
        if c in done:
            continue
        t0 = time.perf_counter()
        chunk = pages.filter(chunk_col == c)
        result = run_extraction(
            chunk, num_partitions=num_partitions, hot=hot, strategy=strategy
        )
        # hook metrics ride the write action itself (the HookBase /
        # JSONWriter graft, /root/reference/apis/train.py:356-362):
        # zero extra jobs, collected by the driver at action completion
        obs = Observation(f"chunk-{c}")
        result = result.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum("html_len").alias("bytes_in"),
            F.sum(F.length("extracted_text")).alias("chars_out"),
            F.sum(F.col("truncated").cast("long")).alias("truncated_rows"),
        )
        chunk_path = os.path.join(out_dir, f"chunk={c}")
        result.write.mode("overwrite").parquet(chunk_path)
        wall_ms = int((time.perf_counter() - t0) * 1000)
        metrics = {k: (0 if v is None else int(v)) for k, v in obs.get.items()}
        lineage = partition_lineage(
            spark.read.schema(RESULT_SCHEMA).parquet(chunk_path), run_id, c, chunk_path
        ).withColumn("wall_ms", F.lit(wall_ms).cast("long"))
        lineage.write.mode("overwrite").parquet(os.path.join(out_dir, "_lineage", f"chunk={c}"))
        log.commit(c, {"run_id": run_id, "chunk": c, "wall_ms": wall_ms, **metrics})
        executed.append(c)
        if fail_after_chunk is not None and len(executed) > fail_after_chunk:
            raise RuntimeError(f"injected failure after chunk {c}")
    return {"run_id": run_id, "executed": executed, "skipped": sorted(done), "n_chunks": n_chunks}


def read_result(
    spark: SparkSession, out_dir: str, committed_only: bool = True
) -> DataFrame:
    """Snapshot read: only chunks with a commit marker are visible.

    A crash mid-chunk leaves parquet files without a marker; the
    rewritten chunk overwrites them on resume, but until then a reader
    must not see the partial data — the snapshot-isolation half of the
    Iceberg protocol the commit log stands in for."""
    done = CommitLog(out_dir).committed() if committed_only else None
    paths = [
        os.path.join(out_dir, d)
        for d in sorted(os.listdir(out_dir))
        if d.startswith("chunk=")
        and (done is None or int(d[len("chunk=") :]) in done)
    ]
    if not paths:
        return spark.createDataFrame([], RESULT_SCHEMA)
    return spark.read.schema(RESULT_SCHEMA).parquet(*paths)


def read_lineage(
    spark: SparkSession, out_dir: str, committed_only: bool = True
) -> DataFrame:
    done = CommitLog(out_dir).committed() if committed_only else None
    base = os.path.join(out_dir, "_lineage")
    if not os.path.isdir(base):
        return spark.createDataFrame([], LINEAGE_SCHEMA)
    paths = [
        os.path.join(base, d)
        for d in sorted(os.listdir(base))
        if done is None or int(d[len("chunk=") :]) in done
    ]
    if not paths:
        return spark.createDataFrame([], LINEAGE_SCHEMA)
    return spark.read.schema(LINEAGE_SCHEMA).parquet(*paths)


# ----------------------------------------------------------- verification


def identity_diff(result: DataFrame, pages: DataFrame, max_rows: int = 50) -> DataFrame:
    """Debug companion to identity_report (the gt/pred visual join J6,
    /root/reference/tools/visual_results.py:15-55): the mismatching
    urls with lengths and head/tail excerpts of both sides — enough to
    localize a divergence without shipping whole documents to the
    driver. All JVM-side; LIMIT bounds driver exposure."""
    j = result.join(pages.select("url", "text"), "url").filter(
        F.col("extracted_text") != F.col("text")
    )
    ex = F.substring
    return j.select(
        "url",
        F.length("extracted_text").alias("ours_len"),
        F.length("text").alias("ref_len"),
        ex("extracted_text", 1, 80).alias("ours_head"),
        ex("text", 1, 80).alias("ref_head"),
        F.substring(F.reverse("extracted_text"), 1, 40).alias("ours_tail_rev"),
        F.substring(F.reverse("text"), 1, 40).alias("ref_tail_rev"),
    ).limit(max_rows)


def identity_report(result: DataFrame, pages: DataFrame) -> DataFrame:
    """The eval query (SURVEY.md S3.3): per-url byte-equality against the
    reference ``text`` column, aggregated to a pass rate — the two-level
    partial+final aggregation of A4 (evaluation/scripts.py:284-335)."""
    joined = result.join(pages.select("url", "text"), "url")
    return joined.agg(
        F.count("*").alias("n_urls"),
        F.sum((F.col("extracted_text") == F.col("text")).cast("long")).alias("n_identical"),
        F.avg((F.col("extracted_text") == F.col("text")).cast("double")).alias("pass_rate"),
    )
