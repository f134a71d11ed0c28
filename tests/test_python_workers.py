"""What Spark's Python workers see of the package.

- ``_zipcache``: ``importlib.invalidate_caches()`` (which PySpark's worker
  calls before every task) re-reads a zip archive's directory only when
  the archive changed, and a changed archive is still picked up.
- ``get_spark`` ships the package root to the workers, so a driver
  started from any working directory runs package kernels, and those
  workers carry the zip-cache fix into their later tasks.
- The extraction kernel freezes a worker's heap (``gc.freeze``) once, on
  its first task, and leaves the collector enabled.
"""

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from web_content_extraction_benchmark_spark import _zipcache

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EAGER = not hasattr(zipimport.zipimporter, "_get_files")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:  # rewritten in place: same inode
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_unchanged_archive_is_not_reread_and_changed_one_is(
        tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"wceb_zc_first": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("wceb_zc_first", "wceb_zc_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("wceb_zc_first").VALUE == 1
    importlib.invalidate_caches()  # the first pass may read; later ones not

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or read_directory(p))
    for _ in range(3):
        importlib.invalidate_caches()
    assert str(archive) not in reads

    _write_zip(archive, {"wceb_zc_first": "VALUE = 1\n",
                         "wceb_zc_second": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("wceb_zc_second").VALUE == 2
    assert str(archive) in reads


def test_install_is_idempotent_and_skips_lazy_interpreters(monkeypatch):
    method = zipimport.zipimporter.invalidate_caches
    assert getattr(method, "stat_guarded", False) is EAGER
    assert _zipcache.install() is EAGER
    assert zipimport.zipimporter.invalidate_caches is method

    def lazy_invalidate(self):
        pass

    lazy = type("LazyZipimporter", (), {
        "_get_files": lambda self: {}, "invalidate_caches": lazy_invalidate})
    monkeypatch.setattr(zipimport, "zipimporter", lazy)
    assert _zipcache.install() is False
    assert lazy.invalidate_caches is lazy_invalidate


WORKERS_DRIVER = '''\
import json, sys
sys.path.insert(0, {root!r})
from web_content_extraction_benchmark_spark.plans.pipeline import (
    extract_answers,
)
from web_content_extraction_benchmark_spark.session import get_spark

spark = get_spark("wceb-worker-env", master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
pages = spark.createDataFrame(
    [(f"http://h.example/{{i}}", f"<html><body><p>page {{i}}</p></body></html>"
      .encode()) for i in range(8)],
    "url string, html binary").repartition(2)
answers = sorted((r.url, r.plaintext, r.error)
                 for r in extract_answers(pages, ["plain"]).collect())


def probe(batches):
    import gc, os, sys, zipimport
    import pyarrow as pa
    method = zipimport.zipimporter.invalidate_caches
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({{
        "module": [method.__module__],
        "lazy": [hasattr(zipimport.zipimporter, "_get_files")],
        "loaded": ["web_content_extraction_benchmark_spark" in sys.modules],
        "cwd": [os.getcwd()],
        "pid": [os.getpid()],
        "frozen": [gc.get_freeze_count()],
        "gc_enabled": [gc.isenabled()],
    }})


def probe_workers(n):
    return [row.asDict() for row in spark.range(n, numPartitions=n).mapInArrow(
        probe, "module string, lazy boolean, loaded boolean, cwd string, "
               "pid long, frozen long, gc_enabled boolean").collect()]


worker = probe_workers(1)[0]
extract_answers(pages, ["main_content"]).collect()  # a second job
later = probe_workers(2)  # two tasks at once: both workers
print("RESULT " + json.dumps({{"answers": answers, "worker": worker,
                               "later": later}}))
spark.stop()
'''


@pytest.fixture(scope="module")
def worker_run(tmp_path_factory):
    """One local[2] driver started from an empty directory, with no
    PYTHONPATH: extraction, then a probe kernel on a reused worker."""
    cwd = tmp_path_factory.mktemp("elsewhere")
    script = cwd / "driver.py"
    script.write_text(WORKERS_DRIVER.format(root=REPO_ROOT))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)], env=env, capture_output=True,
        text=True, timeout=420, cwd=str(cwd),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(x for x in proc.stdout.splitlines() if x.startswith("RESULT "))
    return cwd, json.loads(line[len("RESULT "):])


def test_workers_import_the_package_from_any_cwd(worker_run):
    cwd, result = worker_run
    assert result["worker"]["cwd"] == str(cwd)
    assert result["answers"] == [
        [f"http://h.example/{i}", f"page {i}", False] for i in range(8)]


def test_reused_worker_runs_the_stat_guarded_invalidation(worker_run):
    _, result = worker_run
    worker = result["worker"]
    assert worker["loaded"], "the probe did not run on a reused worker"
    expected = "zipimport" if worker["lazy"] else _zipcache.__name__
    assert worker["module"] == expected


def test_extraction_kernel_freezes_the_worker_heap_once(worker_run):
    """The first extraction task in a worker moves its import heap to the
    collector's permanent generation and leaves the collector on; a
    second job's kernel does not freeze again."""
    _, result = worker_run
    worker = result["worker"]
    assert worker["loaded"], "the probe did not run on a reused worker"
    assert worker["frozen"] > 0
    assert worker["gc_enabled"]
    later = {w["pid"]: w for w in result["later"]}
    assert worker["pid"] in later, "the first probe's worker was not reused"
    assert later[worker["pid"]]["frozen"] == worker["frozen"]
    assert all(w["gc_enabled"] for w in later.values())
