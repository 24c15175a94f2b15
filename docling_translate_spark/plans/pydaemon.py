"""PySpark's worker daemon, started from compiled PySpark, without a
per-task re-read of every zip on ``sys.path``, and with one GC threshold
for every worker.

``build_session`` sets ``spark.python.daemon.module`` to this module, so every
Python task of the engine runs in a worker forked from it: extraction,
curation's ``mapInArrow`` stages, checkpoint units, gate queries and tests.
It removes two fixed costs and sets the workers' garbage-collection
policy.

**Start-up: PySpark compiled from source in every session.** Spark puts
``$SPARK_HOME/python/lib/pyspark.zip`` and ``py4j-*-src.zip`` at the front
of the workers' ``PYTHONPATH``. The zip ships 1,170 ``.py`` files and no
``.pyc``, and zipimport writes no bytecode cache, so each session's daemon
compiled the PySpark it imports from source before its first task could
run. Measured on a 4-vCPU host (Python 3.11.7, PySpark 4.1.2), a fresh
interpreter took 1.19-1.46 s (median 1.26 s of 5) to
``import pyspark.daemon`` from the zip, and 0.18-0.26 s (median 0.23 s)
from the installed ``pyspark`` in site-packages, which has its
``__pycache__``. The two copies are the same code: every one of the 347
modules they share, and all 9 py4j modules, is byte-identical. A rebuilt
``local[2]`` session's first 2-row ``mapInArrow`` job fell from
1.69-2.01 s to 0.79-1.07 s (6 sessions each).

The fix: :func:`installed_first` moves Spark's zips behind the rest of
``sys.path`` when, for each zip, the package the rest of the path would
import holds the same code: every ``.py`` that the zip and the installed
package share has the CRC32 the zip's central directory records, and
``version.py`` is one of them. Otherwise ``sys.path`` stays exactly as
Spark built it. The zips stay on the path, last, so a module only they
hold (PySpark's tests) still resolves as before. The check reads only the
zips' directories and the shared installed files, with the standard
library, in about 32 ms per daemon start; the package lookup before it
(about 47 ms, mostly the spark-core jar's directory) is cached in
``sys.path_importer_cache`` and serves the imports that follow. The
daemon imports nothing else
ahead of its first fork: pre-importing pyarrow or pandas would not shorten
the wait for that fork and would grow the daemon.

**Per task: every zip re-read.** Before each task, PySpark's
``setup_spark_files`` calls ``importlib.invalidate_caches()``. A worker's
``sys.path`` holds ``pyspark.zip`` (1,328 entries), ``py4j-*.zip`` and the
spark-core jar (5,359 entries), which leaves 16 ``zipimporter`` objects in
``sys.path_importer_cache``, 12 of them over ``pyspark.zip``. On CPython
3.11, ``zipimporter.invalidate_caches()`` re-reads its archive's central
directory eagerly, once per importer. On the same host (``local[2]``) that
call took 125-236 ms in the worker before every task, against under
0.05 ms in a plain interpreter. A 2-row ``mapInArrow`` job took 302 ms
against 50 ms with no Python, and a 60k-turn pass-through 372 ms (medians
of 9): the same fixed cost at both scales. Under this daemon the call
takes 0.1-0.3 ms and the two jobs 146 and 217 ms.

The fix: :func:`invalidate_if_changed` replaces
``zipimport.zipimporter.invalidate_caches``. An importer re-reads its
archive only when the archive's ``(st_mtime_ns, st_size)`` differs from
the stamp taken before its last re-read; its first call always re-reads.
Forked workers inherit the replacement. Everything else PySpark does is
unchanged:

* ``addPyFile`` directories go through ``FileFinder``, which is still
  invalidated;
* a new ``.zip``/``.egg`` include gets a fresh importer, whose first call
  re-reads;
* an archive rewritten with a new size or mtime is re-read. Only an
  in-place rewrite that keeps both the size and ``st_mtime_ns`` is missed.

There is no Python-version branch. CPython 3.12+ re-reads lazily, so
there the check only skips work the stock method would defer.

**Garbage collection: one policy for every worker.** The kernels allocate
container objects per turn and per span (content lists, segment tuples,
sentence lists). Reference counting frees them, and CPython's cyclic
collector also traverses the young generation every 700 net container
allocations (the default threshold), live objects included. The daemon
sets :data:`GC_THRESHOLD` (10,000 for the youngest generation)
before it forks, so every worker inherits it, and the collector stays
on. PySpark's daemon still runs a full ``gc.collect()`` after each task
of a reused worker, so cyclic garbage does not outlive its task.
Measured on a 4-vCPU host (Python 3.11.7), kernel alone on one thread
(median of 9, identical output): the default-mode kernel over 60,000
turns took 0.340 s against 0.367 s, and the sentence-mode kernel over
40,000 turns 0.393 s against 0.422 s. End to end, against the same code
without the threshold, in two runs of 10 alternating perfbench pairs on
``local[2]``: ``turns_per_s`` rose 1.2 % and 1.0 % on
``extract_sentences`` (8 of 10 pairs each) and 0.75 % and 2.1 % on
``extract_fused`` (7 and 9 of 10). That is 16 of 20 pairs on each
workload, below the nine in ten a claimed gain needs, so the threshold's
own end-to-end gain is not claimed. Output and worker peak RSS
(93-102 MB) did not change. The cluster entry ``tools/run_job.py``
keeps PySpark's stock daemon (below), so its workers run at CPython's
default threshold.

Run as ``python -m docling_translate_spark.plans.pydaemon``, the module
installs the replacement, reorders ``sys.path``, sets the GC threshold
and runs ``pyspark.daemon`` as ``__main__`` with the same arguments. It
imports only the standard library, and so does the package root it runs
through, so nothing has imported PySpark when the path is chosen. The
package must be importable by the Python workers, as it already is for
every kernel (``build_session`` puts its root on their path). The cluster
entry ``tools/run_job.py`` does not build its session here and keeps the
stock daemon, because a cluster daemon cannot import the package before
its ``--py-files`` arrive.
"""

from __future__ import annotations

import fnmatch
import gc
import importlib
import os
import runpy
import sys
import zipfile
import zipimport
import zlib
from importlib.machinery import PathFinder

_stock_invalidate = zipimport.zipimporter.invalidate_caches

# the workers' cyclic-GC thresholds (see the module docstring); CPython's
# default is (700, 10, 10)
GC_THRESHOLD = (10_000, 10, 10)

# Spark's source zips on the workers' path (PythonUtils.sparkPythonPath),
# with the package each one holds
_SPARK_ZIPS = (("pyspark", "pyspark.zip"), ("py4j", "py4j-*-src.zip"))


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.

    The stamp is taken before the re-read, so an archive that changes
    during the read is read again on the next call. A missing archive has
    no stamp and always goes to the stock method, which clears the cache.
    """
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _stock_invalidate(self)
        self._read_stamp = stamp


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` in this process (idempotent)."""
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed


def _matches_install(archive: str, package: str, path: list[str]) -> bool:
    """Whether ``package``, as ``path`` would import it, holds the code of
    its copy in ``archive``: every ``.py`` under ``package/`` that both
    hold has the CRC32 the archive records, ``version.py`` among them.

    Only a regular package in a directory counts as installed. A missing
    package, a namespace package or an unreadable archive does not match.
    """
    spec = PathFinder.find_spec(package, path)
    if spec is None or spec.origin is None or os.path.basename(spec.origin) != "__init__.py":
        return False
    root = os.path.dirname(os.path.dirname(spec.origin))
    shared = set()
    try:
        with zipfile.ZipFile(archive) as z:
            for info in z.infolist():
                name = info.filename
                if not (name.startswith(package + "/") and name.endswith(".py")):
                    continue
                try:
                    with open(os.path.join(root, name), "rb") as f:
                        data = f.read()
                except FileNotFoundError:
                    continue  # in the archive only
                if zlib.crc32(data) != info.CRC:
                    return False
                shared.add(name)
    except (OSError, zipfile.BadZipFile):
        return False
    return f"{package}/version.py" in shared


def installed_first(path: list[str]) -> list[str]:
    """``path`` with Spark's source zips moved behind every other entry,
    when each of them matches its installed package; else ``path`` itself.
    """
    zips = {
        entry: package
        for entry in path
        for package, pattern in _SPARK_ZIPS
        if fnmatch.fnmatch(os.path.basename(entry), pattern)
    }
    rest = [entry for entry in path if entry not in zips]
    if not zips or not all(_matches_install(z, p, rest) for z, p in zips.items()):
        return path
    return rest + [entry for entry in path if entry in zips]


if __name__ == "__main__":
    # work from the module under its package name, so a worker can tell
    # which method it runs, then hand the process to PySpark's daemon
    daemon = importlib.import_module(__spec__.name)
    daemon.install()
    gc.set_threshold(*daemon.GC_THRESHOLD)
    sys.path[:] = daemon.installed_first(sys.path)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
