"""The workloads and the layer probes of the traced runs. Each drives the
program only through its public entry points (``pipeline.run_extraction``,
``pipeline.resumable_run``, ``queries.queries()``) and keeps what its
correctness gate needs.

A workload is a closed loop with one client: the next pass starts when
the previous one has finished.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass

import pyarrow.parquet as pq

from perfbench import checks, inputs
from perfbench.harness import jobs_so_far, quantile


@dataclass
class Pass:
    """One pass of a workload: its wall time and the documents it covered."""

    wall: float
    docs: int


def noop(df) -> None:
    """Evaluate a DataFrame fully without collecting or writing it."""
    df.write.format("noop").mode("overwrite").save()


def count_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


# ------------------------------------------------------------ extraction


class Extraction:
    """A pages table through ``run_extraction`` into the noop sink."""

    name = ""
    sizes: dict[str, dict] = {}
    kernel_sample = 200

    def __init__(self, seed: int, size: str, run_dir: str) -> None:
        self.seed = seed
        self.size = self.sizes[size]
        self.size_name = size
        self.run_dir = run_dir
        self.problems: list[str] = []  # mismatches seen during passes

    def build_corpus(self, spark, out: str) -> None:
        raise NotImplementedError

    def input_key(self) -> str:
        return f"{self.name}-s{self.seed}-{self.size_name}-{inputs.generator_hash(self.size)}"

    def build_inputs(self, spark, store: inputs.InputStore) -> bool:
        from toyocr_spark.sources.pages import PAGES_SCHEMA

        self.store = store
        path, built = store.get(self.input_key(), lambda tmp: self.build_corpus(spark, tmp))
        self.corpus = os.path.join(path, "pages")
        self.n_docs = count_rows(self.corpus)
        self.pages = spark.read.schema(PAGES_SCHEMA).parquet(self.corpus)
        return built

    def warm(self, spark) -> None:
        """Two full passes: the first keeps the sampled output rows and the
        output row count for the identity gate; the second lets the JIT
        settle, which the first pass after a cold one still pays for."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from toyocr_spark.pipeline import run_extraction

        obs = Observation("warm")
        out = run_extraction(self.pages).observe(obs, F.count(F.lit(1)).alias("rows"))
        self.sample_rows = checks.sampled(out).collect()
        if obs.get["rows"] != self.n_docs:
            self.problems.append(f"output rows {obs.get['rows']} != input docs {self.n_docs}")
        self.rewarm(spark)

    def rewarm(self, spark) -> None:
        from toyocr_spark.pipeline import run_extraction

        noop(run_extraction(self.pages))

    def one_pass(self, spark, tr) -> Pass:
        from toyocr_spark.pipeline import run_extraction

        t0 = time.perf_counter()
        with tr.span("pipeline.run_extraction"):
            noop(run_extraction(self.pages))
        wall = time.perf_counter() - t0
        return Pass(wall, self.n_docs)

    def check(self, spark) -> list[str]:
        return self.problems + identity_check(spark, self.pages, self.corpus, self.sample_rows)

    def extra_layers(self, spark, tr) -> dict:
        """Per-layer metrics of layers this workload does not run in its
        passes; measured in traced runs, after the traced window."""
        return {}

    def kernel_docs(self) -> list[bytes]:
        """The kernel-timing sample: the ``kernel_sample`` urls with the
        smallest sha1, so the same seed gives the same sample. (crc32 is
        linear, so urls that differ in a few characters sort together: its
        smallest values drew 1 to 28 docs per office leg, and none of two.)"""
        pages = checks.read_pages(self.corpus, lambda u: True)
        urls = sorted(pages, key=lambda u: hashlib.sha1(u.encode()).digest())[: self.kernel_sample]
        return [pages[u] for u in urls]


def identity_check(spark, pages_df, corpus: str, rows) -> list[str]:
    from pyspark.sql import functions as F

    got = {r["url"]: checks.result_tuple(r) for r in rows}
    digests = {
        r["url"]: r["d"]
        for r in checks.sampled(pages_df).select("url", F.xxhash64("html").alias("d")).collect()
    }
    want = checks.reference_tuples(checks.read_pages(corpus, checks.is_sampled), digests)
    if not want:
        return ["identity sample is empty"]
    return checks.identity_mismatches(got, want)


class HtmlCrawl(Extraction):
    """Every page is its own document: no two share a body."""

    name = "html_crawl"
    sizes = {
        "full": {"docs": 4000, "files": 8, "chunks": 3},
        "tiny": {"docs": 80, "files": 4, "chunks": 3},
    }

    def build_corpus(self, spark, out: str) -> None:
        from toyocr_spark.bench_corpus import synth_pages

        s, sf = self.size, os.path.join(out, "sf")
        inputs.write_sf_dir(sf, self.seed, s["docs"], inputs.url_salt(self.seed), copies=False)
        synth_pages(spark, sf, replicas=1, sections=12).repartition(s["files"]).write.parquet(
            os.path.join(out, "pages")
        )

    def extra_layers(self, spark, tr) -> dict:
        """Resume-layer metrics on half of this corpus (traced runs only)."""
        files = sorted(os.path.join(self.corpus, f) for f in os.listdir(self.corpus) if f.endswith(".parquet"))
        half = files[: max(1, len(files) // 2)]
        probe = ResumeProbe(spark, half, os.path.join(self.run_dir, "resume"), self.size["chunks"])
        out = probe.run(spark, tr, cycles=2)
        self.problems += probe.problems
        return out


class MixedFormats(Extraction):
    """The replicas per document are the repo's sf0.1 corpora's (8 PDF,
    4 office; 40k:20k), so PDFs repeat: a document's PDF replicas are
    byte-identical. Its office replicas are each in another format, and
    the packed pages are one per document."""

    name = "mixed_formats"
    kernel_sample = 1200  # ~10 office docs per leg
    sizes = {
        "full": {"docs": 600, "pdf": 8, "office": 4, "packed_mod": 4, "files": 8},
        "tiny": {"docs": 40, "pdf": 2, "office": 1, "packed_mod": 4, "files": 4},
    }

    def build_corpus(self, spark, out: str) -> None:
        from pyspark.sql import functions as F
        from toyocr_spark.bench_corpus import synth_office_pages, synth_pages, synth_pdf_pages

        s = self.size
        sf = os.path.join(out, "sf")
        inputs.write_sf_dir(sf, self.seed, s["docs"], inputs.url_salt(self.seed), copies=False)
        html = synth_pages(spark, sf, replicas=1, sections=12)
        packed = html.filter(F.pmod(F.crc32(F.col("url").cast("binary")), F.lit(s["packed_mod"])) == 0)
        table = (
            synth_pdf_pages(spark, sf, replicas=s["pdf"])
            .unionByName(synth_office_pages(spark, sf, replicas=s["office"]))
            .unionByName(packed.mapInArrow(inputs.pack_batches, packed.schema))
        )
        # round-robin: every split carries every leg
        table.repartition(s["files"]).write.parquet(os.path.join(out, "pages"))

    def extra_layers(self, spark, tr) -> dict:
        """Queries-layer metrics (traced runs only)."""
        probe = QueryProbe(self.store, self.seed, self.size_name)
        out = probe.run(spark, tr)
        self.problems += probe.problems
        return out


# ------------------------------------------------------------- resumable


class ResumeProbe:
    """The resume layer on a slice of a pages corpus: a cold (crash-free)
    ``resumable_run``, then cycles in which ``resumable_run`` crashes via
    ``fail_after_chunk`` after about half its chunks, a second call
    resumes, and ``read_result`` / ``read_lineage`` read the snapshot
    back. Every cycle must skip exactly the committed chunks, re-run none,
    and reproduce the cold run's output digest."""

    def __init__(self, spark, files: list[str], out_dir: str, n_chunks: int) -> None:
        from toyocr_spark.sources.pages import PAGES_SCHEMA

        self.pages = spark.read.schema(PAGES_SCHEMA).parquet(*files)
        self.n_docs = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        self.out_dir = out_dir
        self.n_chunks = n_chunks
        self.problems: list[str] = []

    def run(self, spark, tr, cycles: int) -> dict:
        from toyocr_spark.pipeline import read_lineage, read_result, resumable_run

        cold = os.path.join(self.out_dir, "cold")
        with tr.span("pipeline.resumable_run.cold"):
            resumable_run(spark, self.pages, cold, n_chunks=1)  # the digest is chunking-free
        cold_digest = output_digest(read_result(spark, cold))
        if lineage_rows(read_lineage(spark, cold)) != self.n_docs:
            self.problems.append("cold lineage rows != input docs")
        stats = [self.cycle(spark, tr) for _ in range(cycles)]
        resumed = output_digest(read_result(spark, os.path.join(self.out_dir, "resume")))
        if resumed != cold_digest:
            self.problems.append(f"resumed digest {resumed} != cold digest {cold_digest}")
        chunk_s = [c for st in stats for c in st["chunk_s"]]
        out = {k: statistics.median(st[k] for st in stats) for k in ("jobs_per_chunk", "lineage_s", "resume_s")}
        out["chunk_s_p50"] = statistics.median(chunk_s)
        out["chunk_s_max"] = max(chunk_s)
        out["rework_chunks"] = sum(st["rework_chunks"] for st in stats)
        out["bytes_out_per_doc"] = statistics.median(st["bytes_out"] for st in stats) / self.n_docs
        return out

    def cycle(self, spark, tr) -> dict:
        from toyocr_spark.pipeline import CommitLog, read_lineage, read_result, resumable_run

        n_chunks, out = self.n_chunks, os.path.join(self.out_dir, "resume")
        shutil.rmtree(out, ignore_errors=True)
        with tr.span("pipeline.resumable_run.crash"):
            try:
                resumable_run(spark, self.pages, out, n_chunks=n_chunks, fail_after_chunk=(n_chunks - 1) // 2)
                self.problems.append("fail_after_chunk did not raise")
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
        committed = CommitLog(out).committed()
        j0, t0 = jobs_so_far(spark), time.perf_counter()
        with tr.span("pipeline.resumable_run.resume"):
            r = resumable_run(spark, self.pages, out, n_chunks=n_chunks)
        j1, t1 = jobs_so_far(spark), time.perf_counter()
        with tr.span("pipeline.read_result"):
            n_out = read_result(spark, out).count()
        t2 = time.perf_counter()
        with tr.span("pipeline.read_lineage"):
            n_lineage = lineage_rows(read_lineage(spark, out))
        t3 = time.perf_counter()
        rework = len(set(r["executed"]) & committed)
        if n_out != self.n_docs or n_lineage != self.n_docs:
            self.problems.append(f"resumed rows {n_out} / lineage rows {n_lineage} != {self.n_docs}")
        if r["skipped"] != sorted(committed) or rework:
            self.problems.append(f"resume skipped {r['skipped']} re-ran {rework} of {sorted(committed)}")
        chunk_s = []
        for c in range(n_chunks):
            with open(os.path.join(out, "_commits", f"chunk-{c}.json")) as f:
                chunk_s.append(json.load(f)["wall_ms"] / 1000)
        return {
            "resume_s": t1 - t0,
            "lineage_s": t3 - t2,
            "chunk_s": chunk_s,
            "jobs_per_chunk": (j1 - j0) / max(1, len(r["executed"])),
            "rework_chunks": rework,
            "bytes_out": output_bytes(out),
        }


def output_digest(res) -> tuple:
    """(rows, order-free digest over every result field)."""
    from pyspark.sql import functions as F

    cols = ", ".join(res.columns)
    r = res.agg(F.count(F.lit(1)), F.expr(f"bit_xor(xxhash64({cols}))")).first()
    return (r[0], r[1])


def lineage_rows(lineage) -> int:
    from pyspark.sql import functions as F

    return lineage.agg(F.sum("row_count")).first()[0] or 0


def output_bytes(out: str) -> int:
    total = 0
    for d, _, files in os.walk(out):
        if os.path.basename(d) == "_commits":
            continue
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet"))
    return total


# --------------------------------------------------------------- queries


# Plan build and build-time jobs (q15's and q32's eager rounds), JVM
# joins and shuffles, the synth-extract legs (q25, q129, q164, q166) and
# the sub-second tail.
QUERY_MIX = (
    "q01_scan_agg", "q04_sessions", "q15_minhash_lsh", "q32_dedup_clusters", "q38_simhash64",
    "q56_dup_spans", "q100_cdx_index", "q129_docx_extract", "q135_outlink_mining", "q148_opengraph",
    "q151_microdata", "q164_eml_extract", "q166_mbox_extract", "q175_textrank_keywords", "q25_extract",
)
WARM_THREADS = 4


class QueryProbe:
    """The queries layer over seeded query-suite tables: a warm pass that
    collects every result of QUERY_MIX for the DuckDB oracle gate, then
    one pass that builds each query and executes it into the noop sink."""

    sizes = {
        "full": {"docs": 500, "lineitem": 6_000, "events": 1_000},
        "tiny": {"docs": 60, "lineitem": 500, "events": 200},
    }

    def __init__(self, store: inputs.InputStore, seed: int, size: str) -> None:
        from toyocr_spark.queries import queries

        s = self.sizes[size]
        # query fixtures key on small doc ids, so these tables get no url salt
        self.sf, _ = store.get(
            f"queries-s{seed}-{size}-{inputs.generator_hash(s)}",
            lambda tmp: inputs.write_sf_dir(tmp, seed, s["docs"], 0, s["lineitem"], s["events"]),
        )
        self.fns = queries()
        self.problems: list[str] = []

    def run(self, spark, tr) -> dict:
        with tr.span("queries.warmup"):
            results = self.warm(spark)
        m: dict[str, float] = {}
        walls = []
        for name in QUERY_MIX:
            with tr.span(f"queries.{name}"):
                try:
                    j0, tb = jobs_so_far(spark), time.perf_counter()
                    with tr.span("build"):
                        df = self.fns[name](spark, self.sf)
                    j1, te = jobs_so_far(spark), time.perf_counter()
                    with tr.span("execute"):
                        noop(df)
                    t_end = time.perf_counter()
                except Exception as e:
                    self.problems.append(f"{name}: raised {type(e).__name__}: {e}")
                    continue
            m[f"{name}.build_s"], m[f"{name}.build_jobs"], m[f"{name}.exec_s"] = te - tb, j1 - j0, t_end - te
            walls.append(t_end - tb)
        for stat in ("build_s", "build_jobs", "exec_s"):
            m[f"{stat}_sum"] = sum(v for k, v in m.items() if k.endswith("." + stat))
        m["query_s_p50"] = quantile(walls, 0.5) if walls else 0.0
        m["query_s_p90"] = quantile(walls, 0.9) if walls else 0.0
        with tr.span("queries.oracle"):
            self.problems += self.oracle_check(results)
        return m

    def warm(self, spark) -> dict:
        """Every result, collected. The queries warm up concurrently: a
        cold pass is mostly JIT, codegen and Python-worker start."""
        from concurrent.futures import ThreadPoolExecutor

        def collect(name):
            df = self.fns[name](spark, self.sf)
            return df.columns, [tuple(r) for r in df.collect()], checks.dtype_kinds(df.schema)

        results = {}
        with ThreadPoolExecutor(WARM_THREADS) as pool:
            futures = {name: pool.submit(collect, name) for name in QUERY_MIX}
            for name, fut in futures.items():
                try:
                    results[name] = fut.result()
                except Exception as e:  # reported by the gate, the run goes on
                    self.problems.append(f"{name}: raised {type(e).__name__}: {e}")
        return results

    def oracle_check(self, results: dict) -> list[str]:
        import duckdb
        from toyocr_spark.queries import QUERIES

        con = duckdb.connect()
        try:
            for t in ("documents", "lineitem", "events"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{self.sf}/{t}.parquet')")
            out = []
            for name, (cols, rows, kinds) in results.items():
                out += checks.oracle_mismatches(name, cols, rows, kinds, con, QUERIES[name].sql)
            return out
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (HtmlCrawl, MixedFormats)}
