"""PySpark's worker daemon, minus a per-task re-read of every zip on ``sys.path``.

``build_session`` sets ``spark.python.daemon.module`` to this module, so every
Python task of the engine runs in a worker forked from it: extraction,
curation's ``mapInPandas`` stages, checkpoint units, gate queries and tests.

The cost it removes: before each task, PySpark's ``setup_spark_files``
calls ``importlib.invalidate_caches()``. A worker's ``sys.path`` holds
``pyspark.zip`` (1,328 entries), ``py4j-*.zip`` and the spark-core jar
(5,359 entries), which leaves 16 ``zipimporter`` objects in
``sys.path_importer_cache``, 12 of them over ``pyspark.zip``. On CPython
3.11, ``zipimporter.invalidate_caches()`` re-reads its archive's central
directory eagerly, once per importer. Measured on a 4-vCPU host
(``local[2]``, Python 3.11.7, PySpark 4.1.2), that call took 125-236 ms in
the worker before every task, against under 0.05 ms in a plain
interpreter. A 2-row ``mapInArrow`` job took 302 ms against 50 ms with no
Python, and a 60k-turn pass-through 372 ms (medians of 9): the same fixed
cost at both scales. Under this daemon the call takes 0.1-0.3 ms and the
two jobs 146 and 217 ms.

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

Run as ``python -m docling_translate_spark.plans.pydaemon``, the module
installs the replacement and runs ``pyspark.daemon`` as ``__main__`` with
the same arguments. It imports only the standard library; running it
adds the package, its ``schema`` module and ``runpy`` to the daemon,
once per session, since ``pyspark.daemon`` already loads ``pyspark.sql``.
The package must be importable by the Python workers, as it already is
for every kernel (``build_session`` puts its root on their path). The
cluster entry ``tools/run_job.py`` does not build its session here and
keeps the stock daemon, because a cluster daemon cannot import the
package before its ``--py-files`` arrive.
"""

from __future__ import annotations

import importlib
import os
import runpy
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


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


if __name__ == "__main__":
    # install from the module under its package name, so a worker can tell
    # which method it runs, then hand the process to PySpark's daemon
    importlib.import_module(__spec__.name).install()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
