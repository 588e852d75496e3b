#!/usr/bin/env python3
"""Extraction benchmark: one workload per call, end to end or traced.

    python3 perfbench/run.py --workload html_crawl --seed 1 --seconds 15 --trace 0

Run from the repository root. Workloads (see BENCHMARK.json for why each
exists): html_crawl, mixed_formats.

A run builds the seeded inputs unless they are cached (in a Spark session
of its own, outside set-up), starts one Spark driver on local[4], opens
the inputs, makes two warm passes, then repeats passes for --seconds
(and at least MIN_PASSES) and checks the outputs against their references
outside the timed window.

--trace 0 prints the end-to-end metrics. --trace 1 measures half the
window untraced and half with the Spark event log and spans on, times
the kernel layers in-process on a document sample, runs the workload's
layer probe (resume on html_crawl, queries on mixed_formats), and prints
the per-layer metrics. Metric names and units come from BENCHMARK.json;
perfbench/METRICS.md says what each one measures.

The last stdout line is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
The line before it is a fuller report (quartiles, sample counts,
mismatches, failed_frac, host stamp). Exit code 1 on any mismatch, 2
when the program under test is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
MIN_PASSES = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def measure(wl, spark, seconds: float, tr, rss=None) -> dict:
    """Passes until ``seconds`` have elapsed and at least MIN_PASSES have
    run: a median of three ignores one pass slowed by the host. With an
    ``rss`` sampler, the peak RSS of each pass is kept too."""
    from perfbench.harness import failed_jobs, jobs_so_far

    passes, failed_passes, rss_mb = [], 0, []
    if rss:
        rss.take()  # the window's first interval starts here
    j0, t0 = jobs_so_far(spark), time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t0 < seconds:
        with tr.span("pass"):
            try:
                passes.append(wl.one_pass(spark, tr))
                if rss:
                    rss_mb.append(rss.take())
            except Exception:
                failed_passes += 1
                wl.problems.append("pass raised: " + traceback.format_exc(limit=3))
                if failed_passes > 3:
                    break
    j1 = jobs_so_far(spark)
    return {
        "passes": passes,
        "rss_mb": rss_mb,
        "failed_passes": failed_passes,
        "jobs": (j0, j1),
        "failed_jobs": failed_jobs(spark, j0, j1),
    }


def build_missing_inputs(wl, store) -> float:
    """Build the workload's inputs if the cache lacks them, in a Spark
    session of its own that is shut down before set-up is timed, so
    set-up time and peak memory read the same on a cache hit and a miss.
    Returns the seconds the build took (0 on a hit)."""
    from perfbench import harness

    if store.has(wl.input_key()):
        return 0.0
    t0 = time.perf_counter()
    spark = harness.start_spark(WORK)
    try:
        wl.build_inputs(spark, store)
    finally:
        harness.shutdown_spark(spark)
    return time.perf_counter() - t0


def end_to_end(win: dict, setup_s: float) -> dict:
    from perfbench.harness import summary

    passes = win["passes"]
    return {
        "docs_per_s": summary([p.docs / p.wall for p in passes]),
        "wall_s": summary([p.wall for p in passes]),
        "setup_s": {"median": setup_s, "n": 1},
        "peak_rss_mb": summary(win["rss_mb"]),
    }


def per_layer(
    wl, spark, tr, traced: dict, untraced: dict, setup: dict, log_dir: str, names: list[str]
) -> tuple[dict, dict]:
    """Every per-layer metric of BENCHMARK.json for this workload (0 where
    the layer does not run on it), and the raw event-log counters."""
    from perfbench import layers

    passes = traced["passes"]
    n_pass = len(passes)
    m = dict.fromkeys(names, 0.0)
    docs = wl.kernel_docs()
    k = layers.time_kernel(docs)
    for key in ("extract", "dispatch", "tokenize", "gate", "envelope", "layout", "select"):
        m[f"{key}_ms_per_doc"] = k[f"{key}_ms_per_doc"]
    m["kept_ratio"], m["empty_frac"] = k["kept_ratio"], k["empty_frac"]
    for leg, ms in k["legs"].items():
        if f"leg.{leg}.ms_per_doc" in m:
            m[f"leg.{leg}.ms_per_doc"] = ms
    m["arrow_ms_per_doc"] = layers.time_arrow(docs)

    with tr.span("extra_layers"):
        m.update(wl.extra_layers(spark, tr))

    # the traced app's log is complete once its context has stopped
    spark.stop()
    ev = layers.event_log_metrics(log_dir, *traced["jobs"])
    for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "spill_bytes", "shuffle_write_bytes", "bytes_read"):
        m[key] = ev[key] / n_pass
    m["failed_tasks"], m["task_skew"] = ev["failed_tasks"], ev["task_skew"]
    kernel_s = k["extract_ms_per_doc"] / 1000 * passes[0].docs
    m["non_kernel_share"] = 1 - kernel_s / m["executor_run_s"] if m["executor_run_s"] else 0.0

    m.update(setup)
    traced_wall = statistics.median(p.wall for p in passes)
    m["trace_overhead_s"] = traced_wall - statistics.median(p.wall for p in untraced["passes"])
    unknown = set(m) - set(names)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return m, ev


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full", help="tiny is for the self-check")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "toyocr_spark", "__init__.py")):
        log(f"toyocr_spark not found under {ROOT}; run from a full checkout")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        log(f"unknown workload {args.workload!r}")
        return 2
    # import the program and this package from the checkout, never from
    # the script's own directory
    sys.path[0] = ROOT
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.makedirs(run_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # the JVM spark-submit starts to build the driver's command line, too,
    # writes nothing outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    try:
        return run(args, spec, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, spec: dict, run_dir: str) -> int:
    from perfbench import harness, inputs
    from perfbench.workloads import WORKLOADS

    host_start = harness.host_stamp()
    store = inputs.InputStore(os.path.join(WORK, "inputs"))
    wl = WORKLOADS[args.workload](args.seed, args.size, run_dir)
    off = harness.Tracer(args.workload, args.seed, enabled=False)
    tr = harness.Tracer(args.workload, args.seed, enabled=bool(args.trace))
    window = args.seconds / 2 if args.trace else args.seconds

    with tr.span("bench_corpus.build"):
        built_s = build_missing_inputs(wl, store)
    if built_s:
        log(f"inputs built in {built_s:.2f}s (not part of set-up)")
    with tr.span("session.start"):
        spark = harness.start_spark(WORK)
    t1 = time.perf_counter()
    rss = harness.RssSampler(harness.jvm_pid()).start()
    try:
        with tr.span("bench_corpus.open"):
            wl.build_inputs(spark, store)
        t2 = time.perf_counter()
        with tr.span("warmup"):
            wl.warm(spark)
        t3 = time.perf_counter()
        setup_s = t3 - T_START - built_s
        log(f"setup {setup_s:.2f}s: session start {t1 - T_START - built_s:.2f}, inputs {t2 - t1:.2f}, warm-up {t3 - t2:.2f}")
        # the layer metrics count a miss's build; setup_s does not
        setup = {"session.start_s": t1 - T_START - built_s, "bench_corpus.build_s": built_s + t2 - t1, "warmup_s": t3 - t2}

        win = measure(wl, spark, window, off, rss)
        log(f"{len(win['passes'])} passes: " + " ".join(f"{p.wall:.3f}" for p in win["passes"]))
        try:
            with tr.span("checks"):
                mismatches = wl.check(spark)
        except Exception:
            mismatches = ["check raised: " + traceback.format_exc(limit=3)]
        n_seen = len(wl.problems)
        ev = None
        if args.trace:
            spark.stop()
            log_dir = os.path.join(run_dir, "eventlog")
            spark = harness.start_spark(run_dir, event_log=True)
            wl.build_inputs(spark, store)
            wl.rewarm(spark)
            with tr.span("traced_window"):
                traced = measure(wl, spark, window, tr)
            with tr.span("layers"):
                metrics, ev = per_layer(
                    wl, spark, tr, traced, win, setup, log_dir, [m["name"] for m in spec["per_layer"]]
                )
            mismatches += wl.problems[n_seen:]
            windows = (win, traced)
        else:
            windows = (win,)
    finally:
        harness.shutdown_spark(spark)
        run_peak_rss_mb = rss.stop()
    host_end = harness.host_stamp()

    if not args.trace:
        e2e = end_to_end(win, setup_s)
        metrics = {k: v["median"] for k, v in e2e.items()}
        listed = spec["end_to_end"]
    else:
        listed = spec["per_layer"]
        tr.write(os.path.join(WORK, "spans", f"{args.workload}-s{args.seed}.jsonl"))

    # operations: passes, the Spark jobs they ran and, traced, their tasks
    attempted = sum(len(w["passes"]) + w["failed_passes"] + w["jobs"][1] - w["jobs"][0] for w in windows)
    failed = sum(w["failed_passes"] + w["failed_jobs"] for w in windows)
    if ev:
        attempted += ev["tasks"]
        failed += ev["failed_tasks"]
    missing = [m["name"] for m in listed if m["name"] not in metrics]
    if missing:
        mismatches.append(f"metrics not measured: {missing}")
    result = {
        "correct": not mismatches,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics.get(m["name"], 0.0), "unit": m["unit"]} for m in listed},
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "size": args.size,
        "inputs_built_s": built_s,
        "run_peak_rss_mb": run_peak_rss_mb,
        "mismatches": len(mismatches),
        "failed_frac": failed / max(1, attempted),
        "problems": mismatches[:20],
        "host_start": host_start,
        "host_end": host_end,
    }
    if not args.trace:
        report["metrics"] = {
            m["name"]: {**e2e[m["name"]], "unit": m["unit"]} for m in listed
        }
    for line in mismatches[:20]:
        log(f"MISMATCH {line}")
    print(json.dumps(report), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
