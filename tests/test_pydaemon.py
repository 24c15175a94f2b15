"""The Python worker daemon (plans/pydaemon.py): PySpark is imported from
the installed package when Spark's zips hold the same code, a zip on
``sys.path`` is re-read by ``importlib.invalidate_caches()`` only when it
changed, and the session's workers run under it."""

import glob
import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from docling_translate_spark.plans import pydaemon

ROOT = str(Path(__file__).resolve().parents[1])


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


def test_session_workers_keep_the_daemons_gc_policy(spark):
    """The daemon's GC thresholds reach its forked workers, and their
    collector stays on."""

    def gc_state(batches):
        import gc

        import pyarrow as pa

        for _ in batches:
            threshold = list(gc.get_threshold())
            yield pa.RecordBatch.from_pylist([{"threshold": threshold, "enabled": gc.isenabled()}])

    schema = "threshold array<bigint>, enabled boolean"
    [row] = spark.range(1, numPartitions=1).mapInArrow(gc_state, schema).collect()
    assert tuple(row["threshold"]) == pydaemon.GC_THRESHOLD != (700, 10, 10)
    assert row["enabled"] is True


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
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    done = subprocess.run(
        [sys.executable, "-c", _FOREIGN_CWD_JOB.format(root=ROOT)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert done.stdout.split()[-1] == "3"


# two packages laid out as Spark ships them: a source zip each, named as
# Spark names it, holding every module the install holds plus a test
_PACKAGES = {
    "pyspark": {
        "pyspark/__init__.py": "from pyspark.version import __version__\n",
        "pyspark/version.py": '__version__ = "9.9.9"\n',
        "pyspark/sql/__init__.py": "\n",
        "pyspark/sql/types.py": "X = 1\n",
    },
    "py4j": {
        "py4j/__init__.py": "\n",
        "py4j/version.py": '__version__ = "0.0.1"\n',
        "py4j/java_gateway.py": "Y = 2\n",
    },
}
_ZIP_NAMES = {"pyspark": "pyspark.zip", "py4j": "py4j-0.0.1-src.zip"}
_SHARED = [name for files in _PACKAGES.values() for name in files]


def _spark_layout(tmp_path, zip_edit=None, install=True):
    """``[pyspark.zip, py4j zip, other, site]`` in a worker's path order;
    ``zip_edit(files)`` alters a zip's contents before it is written."""
    lib, other, site = tmp_path / "lib", tmp_path / "other", tmp_path / "site"
    for d in (lib, other, site):
        d.mkdir()
    zips = []
    for package, files in _PACKAGES.items():
        if install:
            for name, source in files.items():
                (site / name).parent.mkdir(parents=True, exist_ok=True)
                (site / name).write_text(source)
        in_zip = {**files, f"{package}/tests/test_zip_only.py": "Z = 3\n"}
        if zip_edit:
            zip_edit(in_zip)
        archive = lib / _ZIP_NAMES[package]
        with zipfile.ZipFile(archive, "w") as z:
            for name, source in in_zip.items():
                z.writestr(name, source)
        zips.append(str(archive))
    return zips + [str(other), str(site)]


def test_identical_zips_move_behind_the_install(tmp_path):
    path = _spark_layout(tmp_path)
    assert pydaemon.installed_first(path) == path[2:] + path[:2]


@pytest.mark.parametrize("name", _SHARED)
def test_one_changed_byte_keeps_sparks_path(tmp_path, name):
    def flip_last_byte(files):
        if name in files:
            files[name] = files[name][:-1] + chr(ord(files[name][-1]) ^ 1)

    path = _spark_layout(tmp_path, zip_edit=flip_last_byte)
    assert pydaemon.installed_first(path) == path


def test_zip_without_version_keeps_sparks_path(tmp_path):
    path = _spark_layout(tmp_path, zip_edit=lambda files: files.pop("py4j/version.py", None))
    assert pydaemon.installed_first(path) == path


def test_missing_install_keeps_sparks_path(tmp_path):
    path = _spark_layout(tmp_path, install=False)
    assert pydaemon.installed_first(path) == path


def test_daemon_module_imports_no_pyspark(tmp_path):
    """The daemon chooses where PySpark comes from before anything imports
    it, so neither the module nor the package root it runs through may."""
    probe = (
        f"import sys; sys.path.insert(0, {ROOT!r}); "
        "import docling_translate_spark.plans.pydaemon; "
        "print(sorted(m for m in sys.modules if m.startswith(('pyspark', 'py4j'))))"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    done = subprocess.run(
        [sys.executable, "-c", probe], cwd=tmp_path, env=env, capture_output=True, text=True
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert done.stdout.strip() == "[]"


def test_session_workers_import_installed_pyspark(spark):
    """On a host whose Spark zips hold the installed code, the workers
    import ``pyspark`` and ``py4j`` from the install, not from a zip."""
    lib = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib")
    zips = glob.glob(os.path.join(lib, "pyspark.zip")) + glob.glob(
        os.path.join(lib, "py4j-*-src.zip")
    )
    if len(zips) != 2:
        pytest.skip(f"no pyspark.zip and py4j source zip under {lib!r}")
    path = zips + [p for p in sys.path if p not in zips]
    if pydaemon.installed_first(path) == path:
        pytest.skip("this host's Spark zips differ from the installed pyspark/py4j")

    def module_files(batches):
        import py4j
        import pyarrow as pa
        import pyspark

        for _ in batches:
            yield pa.RecordBatch.from_pylist([{"pyspark": pyspark.__file__, "py4j": py4j.__file__}])

    schema = "pyspark string, py4j string"
    [row] = spark.range(1, numPartitions=1).mapInArrow(module_files, schema).collect()
    for package in ("pyspark", "py4j"):
        assert os.path.isfile(row[package]) and ".zip" not in row[package], row[package]
