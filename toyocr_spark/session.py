"""SparkSession factory with the engine's default tuning.

Settings chosen for the 100 TB design point and scaled to local mode:
AQE on (runtime re-plan + skew-join splitting), Arrow on (the
mapInPandas hot path), shuffle partitions ~ cores locally (on a real
cluster: 2-3x total cores, or let AQE coalesce), UTC session TZ so
timestamps compare bit-stably against external oracles.

Python workers start from ``toyocr_spark.pydaemon`` instead of the
stock ``pyspark.daemon``. Before CPython 3.13, every Python task
re-parses the directory of ``pyspark.zip`` once per imported
``pyspark`` subpackage (14-16 times, 0.2-0.4 s) inside
``importlib.invalidate_caches()``; that fixed cost exceeded the
extraction kernel's own time per partition. The daemon re-reads an
archive only when its stat signature changed (see its docstring), and
runs the stock daemon unchanged on Python >= 3.13. The package root
goes on the executors' ``PYTHONPATH`` so the daemon (and the kernel)
import from any driver working directory. Sessions not built here,
such as the ``spark-submit --py-files`` jobs, keep the stock daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# one Arrow batch ~ a few hundred pages: big enough to amortize Python
# dispatch, small enough that a batch of worst-case pages fits in memory
# (the IMS_PER_BATCH analogue, /root/reference/data/build.py:197-242)
ARROW_BATCH_ROWS = 512

# the directory holding the toyocr_spark package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    master: str | None = None,
    app_name: str = "toyocr_spark",
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    if shuffle_partitions is None:
        # local[N] -> N; local[*] / cluster -> leave at a sane default
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = int(inner) if inner.isdigit() else 32
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "268435456")  # 256 MiB splits
        # Floor on scan parallelism, derived from the session's core
        # count (never a hard-coded cluster constant): a scan that
        # produces at least 2 splits per core lets scan->map pipelines
        # (extraction) run at full width WITHOUT a repartition shuffle
        # of the payload bytes — guide §2.4 "remove shuffles outright".
        # On a big cluster the input is far larger than cores*2 splits
        # of 256 MiB, so this floor is inert there.
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions * 2))
        # PySpark 4 captures a Python stack trace + sets a JVM-side
        # origin on EVERY DataFrame API call for richer error messages;
        # that is one extra py4j roundtrip per expression and dominates
        # the build time of expression-heavy plans. Errors still raise
        # with full JVM context — only the Python call-site annotation
        # is dropped (the documented performance switch for this).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.python.daemon.module", "toyocr_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
