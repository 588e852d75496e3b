#!/usr/bin/env python3
"""Single-core A/B of the extraction kernel between two checkouts.

    python3 tools/kernel_ab.py <parent_root> <change_root> [--workload W] [--rounds N] [--limit N]

Times ``extract`` over the cached perfbench bodies of one workload at
seed 11 (every distinct ``html`` body under
``<root>/.perfbench_work/inputs/<W>-s11-*/pages``; a perfbench run of
that seed builds them). Each round runs one fresh process per checkout,
one after the other, alternating which goes first, each pinned to the
highest-numbered core this process may use and importing the kernel of
its own checkout. A process makes one warm pass, then three timed
passes, and reports the median pass in process-CPU ms/doc.

Prints one line per round, then one JSON line:

    {"parent_ms": median, "change_ms": median, "ratio": median of the
     per-round change/parent ratios, "wins": rounds the change was faster,
     "rounds": N, "docs": n}

A ratio below 1 means the change is faster.
"""

from __future__ import annotations

import argparse
import functools
import glob
import json
import os
import statistics
import subprocess
import sys

TOOLS = os.path.dirname(os.path.abspath(__file__))
SEED = 11  # the perfbench corpus seed whose bodies are timed
REPS = 3  # timed passes per process


def pages_dirs(root: str, workload: str) -> list[str]:
    dirs = sorted(glob.glob(os.path.join(root, ".perfbench_work", "inputs", f"{workload}-s{SEED}-*", "pages")))
    if not dirs:
        raise SystemExit(f"no cached {workload} seed-{SEED} inputs under {root}; run perfbench once")
    return dirs


def worker(root: str, dirs: list[str], limit: int) -> None:
    """Runs inside the child: time ``extract`` of the checkout at `root`."""
    import time

    sys.path.insert(0, root)
    sys.path.insert(1, TOOLS)
    from kernel_digest import distinct_bodies
    from toyocr_spark.extractor import extract

    bodies = distinct_bodies(dirs)[: limit or None]
    for b in bodies:  # warm: imports, regex and tag caches
        extract(b)
    pt = time.process_time
    passes = []
    for _ in range(REPS):
        t0 = pt()
        for b in bodies:
            extract(b)
        passes.append(pt() - t0)
    print(json.dumps({"ms": statistics.median(passes) * 1000 / len(bodies), "docs": len(bodies)}))


def run_side(root: str, dirs: list[str], limit: int, cpu: int) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--worker", root, *dirs, "--limit", str(limit)]
    pin = functools.partial(os.sched_setaffinity, 0, {cpu})
    out = subprocess.run(cmd, check=True, capture_output=True, text=True, preexec_fn=pin, cwd=root)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("roots", nargs="+", help="<parent_root> <change_root>")
    ap.add_argument("--workload", default="html_crawl")
    ap.add_argument("--rounds", type=int, default=8)
    ap.add_argument("--limit", type=int, default=0, help="first N distinct bodies only (0: all)")
    ap.add_argument("--worker", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.worker:
        worker(args.roots[0], args.roots[1:], args.limit)
        return 0
    if len(args.roots) != 2:
        ap.error("give exactly two checkouts: <parent_root> <change_root>")
    roots = [os.path.abspath(r) for r in args.roots]
    dirs = [pages_dirs(r, args.workload) for r in roots]
    cpu = max(os.sched_getaffinity(0))
    ms: list[list[float]] = [[], []]
    docs = 0
    for rnd in range(args.rounds):
        order = (0, 1) if rnd % 2 == 0 else (1, 0)
        for side in order:
            res = run_side(roots[side], dirs[side], args.limit, cpu)
            ms[side].append(res["ms"])
            docs = res["docs"]
        print(f"round {rnd + 1}: parent {ms[0][-1]:.4f} change {ms[1][-1]:.4f} ms/doc", flush=True)
    ratios = [c / p for p, c in zip(*ms)]
    print(json.dumps({
        "parent_ms": round(statistics.median(ms[0]), 4),
        "change_ms": round(statistics.median(ms[1]), 4),
        "ratio": round(statistics.median(ratios), 4),
        "wins": sum(r < 1 for r in ratios),
        "rounds": args.rounds,
        "docs": docs,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
