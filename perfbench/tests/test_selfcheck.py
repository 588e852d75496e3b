"""Self-check of the benchmark: every workload at a tiny size prints every
metric BENCHMARK.json names, with its unit, and the correctness gates
catch a corrupted result.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_prints_every_metric(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result, report = json.loads(lines[-1]), json.loads(lines[-2])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and report["mismatches"] == 0
    assert result["failed"] == 0 and report["failed_frac"] == 0
    assert result["attempted"] >= 1
    listed = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in listed}
    for m in listed:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in listed)


def _pages():
    from toyocr_spark.fixtures.genpages import gen_pages

    return {p.url: p.html for p in gen_pages(6, seed=3)}


def test_corrupted_extraction_result_is_a_mismatch():
    from perfbench import checks

    pages = _pages()
    want = checks.reference_tuples(pages, dict.fromkeys(pages, 7))
    assert checks.identity_mismatches(dict(want), want) == []
    for field in range(1, 8):
        got = dict(want)
        url = sorted(got)[0]
        row = list(got[url])
        row[field] = "corrupt" if not isinstance(row[field], bool) else not row[field]
        got[url] = tuple(row)
        assert len(checks.identity_mismatches(got, want)) == 1, field
    got = dict(want)
    del got[sorted(got)[0]]
    assert len(checks.identity_mismatches(got, want)) == 1


def test_corrupted_query_result_is_a_mismatch():
    import duckdb

    from perfbench import checks

    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT range AS k, range * 0.5 AS v FROM range(5)")
    sql = "SELECT k, v FROM t"
    rows = [(k, k * 0.5) for k in range(5)]
    kinds = {"k": "i", "v": "f"}
    assert checks.oracle_mismatches("q", ["k", "v"], rows, kinds, con, sql) == []
    bad = rows[:4] + [(4, 2.25)]
    assert checks.oracle_mismatches("q", ["k", "v"], bad, kinds, con, sql)
    assert checks.oracle_mismatches("q", ["k", "v"], rows[:4], kinds, con, sql)
    assert checks.oracle_mismatches("q", ["k", "v"], rows, {"k": "f", "v": "f"}, con, sql)


def test_stage_clocks_time_the_kernel_without_changing_it():
    from toyocr_spark.extractor import core

    from perfbench import inputs, layers

    docs = list(_pages().values())
    docs += [inputs.pack(docs[0], i) for i in range(3)]  # gzip, bz2, xz
    real = {n: getattr(core, n) for n in layers.STAGES}
    want = [core.extract(h) for h in docs]
    with layers.Clock(core, layers.STAGES) as stages:
        assert [core.extract(h) for h in docs] == want
    assert all(stages.seconds[k] > 0 for k in ("envelope", "dispatch", "layout", "select"))
    assert all(getattr(core, n) is f for n, f in real.items())
    k = layers.time_kernel(docs, reps=1)
    assert set(k["legs"]) == {"html"}
    assert k["dispatch_ms_per_doc"] >= k["tokenize_ms_per_doc"] > 0
