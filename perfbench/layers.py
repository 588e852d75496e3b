"""Per-layer measurements for the traced run.

The kernel layers are timed single-core, in this process, on a
deterministic document sample: ``extract`` and
``pipeline._extract_batches`` are called from here, and the stages
``extract`` runs (the envelope codecs, ``dispatch_blocks``, every leg
tokenizer, ``reading_order``, ``select_blocks``) are timed by swapping
the names ``extractor.core`` calls them by for timers while it runs.
The engine layers come from the Spark event log. Nothing inside
``toyocr_spark`` is edited or instrumented.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from perfbench.harness import quantile


def leg_name(fn_name: str) -> str:
    return "html" if fn_name == "tokenize" else fn_name[len("tokenize_") :]


class Clock:
    """Replaces functions that ``core`` looks up in its own namespace at
    call time with accumulating timers, keyed by layer. Only outermost
    calls count: a call made while another of this clock's calls runs is
    that one's work (a tar member re-entering dispatch is the tar leg's).
    ``last`` is the layer of the last outermost call."""

    def __init__(self, core, layer_of: dict[str, str]) -> None:
        self.core = core
        self.real = {n: getattr(core, n) for n in layer_of}
        self.layer_of = layer_of
        self.busy = False
        self.reset()

    def reset(self) -> None:
        self.seconds = dict.fromkeys(self.layer_of.values(), 0.0)
        self.last = None

    def _wrap(self, name, fn):
        layer = self.layer_of[name]
        pc = time.perf_counter

        def timed(*a, **kw):
            if self.busy:
                return fn(*a, **kw)
            self.busy = True
            t0 = pc()
            try:
                return fn(*a, **kw)
            finally:
                self.seconds[layer] += pc() - t0
                self.busy = False
                self.last = layer

        return timed

    def __enter__(self) -> "Clock":
        for n, f in self.real.items():
            setattr(self.core, n, self._wrap(n, f))
        return self

    def __exit__(self, *exc) -> None:
        for n, f in self.real.items():
            setattr(self.core, n, f)


# The stages ``core._run`` calls through its module globals. The codecs
# are reached through ``_envelope_codec``, which returns the (wrapped)
# global, so ``_run``'s ``codec is _unzlib`` test still holds.
STAGES = {
    "_envelope_codec": "envelope",
    "_ungzip": "envelope",
    "_unbz2": "envelope",
    "_unxz": "envelope",
    "_unzlib": "envelope",
    "dispatch_blocks": "dispatch",
    "reading_order": "layout",
    "select_blocks": "select",
}
LAYERS = ("envelope", "dispatch", "tokenize", "layout", "select")


def time_extract(docs: list[bytes], reps: int) -> list[list[float]]:
    """Per-doc ``extract`` seconds, ``reps`` rounds, nothing wrapped."""
    from toyocr_spark.extractor import extract

    pc = time.perf_counter
    rounds = []
    for _ in range(reps):
        walls = []
        for html in docs:
            t0 = pc()
            extract(html)
            walls.append(pc() - t0)
        rounds.append(walls)
    return rounds


def time_kernel(docs: list[bytes], reps: int = 3) -> dict:
    """Per-layer kernel ms/doc over ``docs`` (median of ``reps`` rounds).

    ``extract`` is timed on its own, then run again with its stages
    (envelope strip, dispatch, reading order, selection) and every leg
    tokenizer wrapped by a ``Clock``; gate = dispatch - tokenize."""
    from toyocr_spark.extractor import core

    n = max(1, len(docs))
    rounds = time_extract(docs, reps)
    per_doc = [statistics.median(r[i] for r in rounds) for i in range(len(docs))]
    results = [core.extract(h) for h in docs]
    tokenizers = {f: leg_name(f) for f in vars(core) if f == "tokenize" or f.startswith("tokenize_")}
    legs: list[str] = ["none"] * len(docs)
    per_rep: list[dict[str, float]] = []
    with Clock(core, STAGES) as stages, Clock(core, tokenizers) as legs_clock:
        for _ in range(reps):
            stages.reset()
            legs_clock.reset()
            for i, html in enumerate(docs):
                legs_clock.last = None
                core.extract(html)
                legs[i] = legs_clock.last or "none"  # a gate that tokenized empty falls through: last call wins
            per_rep.append({**stages.seconds, "tokenize": sum(legs_clock.seconds.values())})
    med = {k: statistics.median(t[k] for t in per_rep) * 1000 / n for k in LAYERS}
    out = {f"{k}_ms_per_doc": med[k] for k in LAYERS}
    out["extract_ms_per_doc"] = sum(per_doc) * 1000 / n
    out["gate_ms_per_doc"] = max(0.0, med["dispatch"] - med["tokenize"])
    n_blocks = sum(r.n_blocks for r in results)
    out["kept_ratio"] = sum(r.n_kept for r in results) / n_blocks if n_blocks else 0.0
    out["empty_frac"] = sum(r.text == "" for r in results) / n
    by_leg: dict[str, list[float]] = {}
    for leg, s in zip(legs, per_doc):
        by_leg.setdefault(leg, []).append(s)
    out["legs"] = {leg: statistics.fmean(v) * 1000 for leg, v in by_leg.items()}
    return out


def time_arrow(docs: list[bytes], reps: int = 5) -> float:
    """ms/doc that ``_extract_batches`` adds around ``extract``: the
    wrapper over in-memory Arrow batches of the session's batch size,
    minus plain ``extract`` over the same docs, rounds interleaved."""
    import pyarrow as pa

    from toyocr_spark.pipeline import _extract_batches
    from toyocr_spark.session import ARROW_BATCH_ROWS

    batches = [
        pa.RecordBatch.from_arrays(
            [
                pa.array([f"u{j}" for j in range(i, i + len(chunk))], pa.string()),
                pa.array(chunk, pa.binary()),
                pa.array([0] * len(chunk), pa.int64()),
            ],
            names=["url", "html", "html_digest"],
        )
        for i in range(0, len(docs), ARROW_BATCH_ROWS)
        for chunk in [docs[i : i + ARROW_BATCH_ROWS]]
    ]
    wrapped, plain = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        for _b in _extract_batches(iter(batches)):
            pass
        wrapped.append(time.perf_counter() - t0)
        plain.append(sum(time_extract(docs, 1)[0]))
    return (statistics.median(wrapped) - statistics.median(plain)) * 1000 / max(1, len(docs))


def event_log_metrics(log_dir: str, job_lo: int, job_hi: int) -> dict:
    """Engine counters for jobs [job_lo, job_hi) from the event log of the
    one traced application in ``log_dir``."""
    stage_ids: set[int] = set()
    jobs = failed_jobs = stages = tasks = failed_tasks = 0
    run_ms: list[float] = []
    cpu_ns = gc_ms = spill = shuffle_w = read_b = 0
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")]
    events = []
    for path in files:
        with open(path) as f:
            events += [json.loads(line) for line in f if line.strip()]
    for ev in events:
        if ev["Event"] == "SparkListenerJobStart" and job_lo <= ev["Job ID"] < job_hi:
            jobs += 1
            stage_ids.update(ev["Stage IDs"])
        elif ev["Event"] == "SparkListenerJobEnd" and job_lo <= ev["Job ID"] < job_hi:
            failed_jobs += ev["Job Result"]["Result"] != "JobSucceeded"
    for ev in events:
        if ev["Event"] == "SparkListenerStageCompleted" and ev["Stage Info"]["Stage ID"] in stage_ids:
            stages += 1
        elif ev["Event"] == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_ids:
            tasks += 1
            if ev["Task End Reason"]["Reason"] != "Success":
                failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            run_ms.append(m.get("Executor Run Time", 0))
            cpu_ns += m.get("Executor CPU Time", 0)
            gc_ms += m.get("JVM GC Time", 0)
            spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            shuffle_w += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            read_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    p50 = quantile(run_ms, 0.5) if run_ms else 0.0
    return {
        "jobs": jobs,
        "failed_jobs": failed_jobs,
        "stages": stages,
        "tasks": tasks,
        "failed_tasks": failed_tasks,
        "executor_run_s": sum(run_ms) / 1000,
        "executor_cpu_s": cpu_ns / 1e9,
        "gc_s": gc_ms / 1000,
        "spill_bytes": spill,
        "shuffle_write_bytes": shuffle_w,
        "bytes_read": read_b,
        "task_skew": quantile(run_ms, 0.9) / p50 if p50 else 0.0,
    }
