#!/usr/bin/env python3
"""Fixed cost of a Python task, apart from any kernel work.

Times a pass-through ``mapInArrow`` (batches in, same batches out) over
``spark.range(4000)`` at 1, 4, 8 and 16 partitions in a ``get_spark``
session on ``local[4]``, next to the same plan without the Python node
(the JVM-only control). Each plan is written to the ``noop`` sink; the
figure is the median wall time over the repetitions after two warm-up
runs. Their difference is what the Python worker boundary costs when
the kernel does nothing.

    python3 tools/py_task_overhead.py      # one JSON object on stdout
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MASTER = "local[4]"
ROWS = 4000
PARTITIONS = (1, 4, 8, 16)
WARMUP = 2
REPS = 9


def _median_s(run) -> float:
    for _ in range(WARMUP):
        run()
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        run()
        times.append(time.perf_counter() - t0)
    return round(statistics.median(times), 4)


def main() -> dict:
    sys.path.insert(0, REPO)
    from toyocr_spark.session import get_spark

    spark = get_spark(
        master=MASTER,
        app_name="py_task_overhead",
        extra={"spark.driver.memory": "2g", "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    rows = {}
    for n in PARTITIONS:
        df = spark.range(0, ROWS, 1, n)
        python = df.mapInArrow(lambda batches: batches, df.schema)
        rows[str(n)] = {
            "python_s": _median_s(lambda: python.write.format("noop").mode("overwrite").save()),
            "jvm_s": _median_s(lambda: df.write.format("noop").mode("overwrite").save()),
        }
    report = {
        "host": {"nproc": os.cpu_count(), "machine": platform.machine(), "python": platform.python_version()},
        "master": MASTER,
        "rows": ROWS,
        "warmup": WARMUP,
        "reps": REPS,
        "daemon_module": spark.sparkContext.getConf().get("spark.python.daemon.module", "pyspark.daemon"),
        "median_wall_s_by_partitions": rows,
    }
    spark.stop()
    return report


if __name__ == "__main__":
    print(json.dumps(main(), sort_keys=True))
