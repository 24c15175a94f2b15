"""The Python worker daemon (plans/pydaemon.py): a zip on ``sys.path`` is
re-read by ``importlib.invalidate_caches()`` only when it changed, and
the session's workers run under it."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

from docling_translate_spark.plans import pydaemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"dts_zip_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("dts_zip_a", "dts_zip_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    # install for this test only: monkeypatch restores the stock method
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    pydaemon.install()
    assert zipimport.zipimporter.invalidate_caches is pydaemon.invalidate_if_changed

    stock_read = zipimport._read_directory
    reads = []

    def counting_read(path):
        if path == str(archive):
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    assert importlib.import_module("dts_zip_a").X == 1
    importer = sys.path_importer_cache[str(archive)]

    def rereads():
        reads.clear()
        importlib.invalidate_caches()
        importer.find_spec("dts_zip_absent")  # CPython 3.12+ re-reads here
        return len(reads)

    assert rereads() == 1  # an importer's first call reads
    assert rereads() == 0
    assert rereads() == 0

    # a rewritten archive (new size) is read again and its new module imports
    _write_zip(archive, {"dts_zip_a": "X = 1\n", "dts_zip_b": "Y = 2\n"})
    assert rereads() == 1
    assert importlib.import_module("dts_zip_b").Y == 2
    assert rereads() == 0


def test_session_workers_run_the_daemon(spark):
    def method_module(batches):
        import zipimport

        import pyarrow as pa

        for _ in batches:
            module = zipimport.zipimporter.invalidate_caches.__module__
            yield pa.RecordBatch.from_pylist([{"module": module}])

    rows = spark.range(1, numPartitions=1).mapInArrow(method_module, "module string").collect()
    assert [r["module"] for r in rows] == ["docling_translate_spark.plans.pydaemon"]


_FOREIGN_CWD_JOB = """
import sys
sys.path.insert(0, {root!r})
from docling_translate_spark.plans.session import build_session

def passthrough(batches):
    yield from batches

spark = build_session(app_name="dts-foreign-cwd", master="local[1]")
print(len(spark.range(3).mapInArrow(passthrough, "id long").collect()))
spark.stop()
"""


def test_workers_start_from_any_working_directory(tmp_path):
    """A session built outside the checkout, with no PYTHONPATH, still
    starts Python workers, although their daemon lives in the package."""
    root = str(Path(__file__).resolve().parents[1])
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    done = subprocess.run(
        [sys.executable, "-c", _FOREIGN_CWD_JOB.format(root=root)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert done.stdout.split()[-1] == "3"
