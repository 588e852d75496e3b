"""Session layer: the Python worker daemon that skips re-reading
unchanged zip archives, and the per-session parquet plan cache."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from toyocr_spark import pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PYDAEMON_FILE = os.path.join("toyocr_spark", "pydaemon.py")


def _write_zip(path: str, modules: dict[str, str]) -> None:
    # "w" truncates the existing file: a rewrite keeps the inode
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """An empty zip on sys.path; its modules and importer are dropped after."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("zmod_a", "zmod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


@pytest.fixture
def reads(monkeypatch):
    """Install the daemon's patch for one test; record every archive
    whose directory zipimport reads."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches)
    monkeypatch.setattr(pydaemon, "_read_at", {})
    seen: list[str] = []
    stock = zipimport._read_directory

    def counting(path):
        seen.append(path)
        return stock(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_unchanged_archive_is_not_reread(archive, reads):
    _write_zip(archive, {"zmod_a": "X = 1\n"})
    assert importlib.import_module("zmod_a").X == 1
    importlib.invalidate_caches()  # the first call stamps every archive
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


def test_archive_rewritten_in_place_is_reread(archive, reads):
    _write_zip(archive, {"zmod_a": "X = 1\n"})
    assert importlib.import_module("zmod_a").X == 1
    importlib.invalidate_caches()
    inode = os.stat(archive).st_ino
    _write_zip(archive, {"zmod_a": "X = 1\n", "zmod_b": "Y = 2\n"})
    assert os.stat(archive).st_ino == inode
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zmod_b").Y == 2


def test_python_tasks_run_the_patched_method(spark):
    # defined inside the test so it pickles by value, not by module name
    def probe(_):
        import importlib
        import sys
        import zipimport

        seen = []
        stock = zipimport._read_directory
        zipimport._read_directory = lambda path: seen.append(path) or stock(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        method = zipimport.zipimporter.invalidate_caches
        return method.__code__.co_filename, len(seen), tuple(sys.version_info[:2])

    got = spark.sparkContext.parallelize(range(4), 4).map(probe).collect()
    for filename, n_reads, version in got:
        if version >= (3, 13):  # lazy invalidation is stock there
            assert not filename.endswith(PYDAEMON_FILE)
        else:
            assert filename.endswith(PYDAEMON_FILE)
            assert n_reads == 0  # pyspark.zip is not re-read per task


_OUTSIDE_DRIVER = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql.functions import udf
from toyocr_spark.extractor import extract
from toyocr_spark.session import get_spark

spark = get_spark(master="local[2]", extra={{"spark.ui.showConsoleProgress": "false"}})

@udf("string")
def main_text(html):
    from toyocr_spark.extractor import extract
    return extract(html.encode()).text

html = "<html><body><article><p>" + "A paragraph the kernel keeps. " * 8 + "</p></article></body></html>"
got = spark.createDataFrame([(html,)], "html string").select(main_text("html")).first()[0]
print("SAME" if got == extract(html.encode()).text and got else "DIFFERENT", repr(got))
spark.stop()
"""


def test_driver_started_outside_the_repo_runs_a_python_udf():
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # only the executor env can find the package
    out = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_DRIVER.format(repo=REPO)],
        cwd="/tmp",
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "SAME" in out.stdout, out.stdout[-2000:]


def test_table_plan_cache_reads_a_table_rewritten_in_the_session(spark, tmp_path):
    from toyocr_spark.queries import _t

    sf_dir = str(tmp_path)
    path = f"{sf_dir}/documents.parquet"
    spark.createDataFrame([(1,), (2,)], "doc_id long").write.parquet(path)
    first = _t(spark, sf_dir, "documents")
    assert _t(spark, sf_dir, "documents") is first  # reused while unchanged
    assert sorted(r.doc_id for r in first.collect()) == [1, 2]
    spark.createDataFrame([(3,), (4,), (5,)], "doc_id long").write.mode("overwrite").parquet(path)
    assert sorted(r.doc_id for r in _t(spark, sf_dir, "documents").collect()) == [3, 4, 5]
