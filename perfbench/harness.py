"""Session lifetime, host stamp, memory sampling, spans and statistics.

Everything here is plumbing shared by the workloads; none of it knows
what a workload does.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager

# The host this benchmark is sized for has 4 cores; one driver, four
# task slots, and a heap small enough to share the machine.
MASTER = "local[4]"
DRIVER_MEMORY = "2g"


def spark_conf(work: str, event_log: bool) -> dict[str, str]:
    """Session settings on top of ``get_spark``'s defaults. Every
    scratch file Spark writes stays under ``work``."""
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        # no hsperfdata in /tmp: the JVM writes nothing outside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_spark(work: str, event_log: bool = False):
    from toyocr_spark.session import get_spark

    spark = get_spark(master=MASTER, app_name="perfbench", extra=spark_conf(work, event_log))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return gw.proc.pid if gw is not None and getattr(gw, "proc", None) else None


def shutdown_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM is gone.
    The JVM stops its Python worker daemon on the way down."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jobs_so_far(spark) -> int:
    """Number of jobs the context has started (job ids are sequential)."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids) + 1 if ids else 0


def failed_jobs(spark, lo: int, hi: int) -> int:
    st = spark.sparkContext.statusTracker()
    n = 0
    for j in range(lo, hi):
        info = st.getJobInfo(j)
        if info is not None and str(info.status) == "FAILED":
            n += 1
    return n


# ------------------------------------------------------------------ host


def calibration_rate(seconds: float = 0.2) -> float:
    """Pure-Python loop iterations per second (millions): a throttled or
    contended window reads low here."""
    n, t0 = 0, time.perf_counter()
    while True:
        for _ in range(10_000):
            n += 1
        dt = time.perf_counter() - t0
        if dt >= seconds:
            return n / dt / 1e6


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def host_stamp() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "steal_s": steal_seconds(),
        "calib_mops": round(calibration_rate(), 2),
    }


class RssSampler:
    """Peak resident set of a process tree (the driver JVM and the Python
    workers it forks), sampled from /proc on a background thread. The
    tree is re-walked only every ``rewalk`` samples, so a sample costs a
    few small reads and the driver's own Python thread is barely slowed."""

    PAGE = os.sysconf("SC_PAGE_SIZE")

    def __init__(self, root_pid: int, period: float = 0.2, rewalk: int = 5) -> None:
        self.root = root_pid
        self.period = period
        self.rewalk = rewalk
        self.peak = self.interval_peak = 0
        self._pids = [root_pid]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _walk(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(d))
        tree, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(children.get(pid, ()))
        return tree

    def _rss(self) -> int:
        total = 0
        for pid in self._pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self.PAGE
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        n = 0
        while not self._stop.is_set():
            if n % self.rewalk == 0:
                self._pids = self._walk()
            rss = self._rss()
            self.peak = max(self.peak, rss)
            self.interval_peak = max(self.interval_peak, rss)
            n += 1
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def take(self) -> float:
        """Peak in MiB since the last ``take`` (or the start), with one
        more sample taken now; the next interval starts empty."""
        peak = max(self.interval_peak, self._rss())
        self.interval_peak = 0
        return peak / (1 << 20)

    def stop(self) -> float:
        """Stop sampling; return the peak in MiB."""
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak / (1 << 20)


# ----------------------------------------------------------------- spans


class Tracer:
    """Spans (name, start, end, parent, workload, seed) kept in memory
    and written once at the end. Disabled, it records nothing."""

    def __init__(self, workload: str, seed: int, enabled: bool) -> None:
        self.workload, self.seed, self.enabled = workload, seed, enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({})
        self._stack.append(sid)
        start = time.perf_counter() - self._t0
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid] = {
                "id": sid,
                "name": name,
                "start": round(start, 6),
                "end": round(time.perf_counter() - self._t0, 6),
                "parent": parent,
                "workload": self.workload,
                "seed": self.seed,
            }

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ------------------------------------------------------------ statistics


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def summary(xs: list[float]) -> dict:
    return {
        "median": statistics.median(xs),
        "q1": quantile(xs, 0.25),
        "q3": quantile(xs, 0.75),
        "n": len(xs),
    }
