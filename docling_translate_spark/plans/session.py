"""SparkSession factory with the physical tuning the north rule requires.

The reference tunes thread counts by hand (``main.py:61-65``, OMP/MKL env
at ``src/core.py:25-41``); here the equivalents are AQE + skew-join +
shuffle-partition + Arrow-batch settings, applied once at session build so
every operator inherits them.

Every Python task used to pay about 230 ms before any kernel code ran.
PySpark's ``setup_spark_files`` calls ``importlib.invalidate_caches()``
before each task, and on CPython 3.11 that re-reads the central directory
of every zip on the worker's ``sys.path``: ``pyspark.zip`` (1,328 entries,
behind 12 of the worker's 16 ``zipimporter`` objects), ``py4j-*.zip`` and
the spark-core jar (5,359 entries). Measured on a 4-vCPU host
(``local[2]``, Python 3.11.7, PySpark 4.1.2, median of 9 runs): a 2-row
``mapInArrow`` job took 302 ms against 50 ms with no Python, and a
60k-turn ``mapInArrow`` pass-through 372 ms, so the cost is fixed, not
per row. In the worker the call took 125-236 ms, against under 0.05 ms
in a plain interpreter. The session therefore runs its Python workers
under :mod:`docling_translate_spark.plans.pydaemon`, PySpark's daemon
with a zip re-read only when the archive changed: the two jobs then took
146 and 217 ms, and the call 0.1-0.3 ms. The daemon is imported before
any task runs, so the package root goes on the workers' ``PYTHONPATH``
and sessions work from any working directory.

Each new session also waited for its daemon to compile PySpark from
source. Spark puts ``pyspark.zip``, which ships no ``.pyc``, at the front
of the workers' path, and ``import pyspark.daemon`` took a median 1.26 s
from it against 0.23 s from the installed package. The daemon now imports
PySpark and py4j from the install when a CRC32 check shows that the zips
hold the same code, and otherwise keeps Spark's path (see
:mod:`~docling_translate_spark.plans.pydaemon`). A rebuilt ``local[2]``
session's first 2-row ``mapInArrow`` job fell from 1.69-2.01 s to
0.79-1.07 s. Most of what is left of a rebuilt session's set-up is
PySpark's own ``SparkContext.stop()`` of the session before it: it took
0.97-1.0 s, of which shutting down the accumulator server took
0.84-0.96 s. That is PySpark's code, which the package does not control.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# Python worker daemon: PySpark's own, minus the per-task re-read of every
# zip on the worker's sys.path (see the module docstring and pydaemon.py).
PYTHON_DAEMON_MODULE = "docling_translate_spark.plans.pydaemon"
# the daemon is imported before any task, so the workers need the package
# on their path whatever the driver's working directory
_PACKAGE_ROOT = str(Path(__file__).resolve().parents[2])


def build_session(
    app_name: str = "docling-translate-spark",
    master: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or fetch) a tuned session.

    * AQE on, with coalescing and skew-join splitting — the in-engine
      answer to long-transcript key skew.
    * Arrow enabled with a bounded batch size: the Arrow batch is this
      engine's analog of the reference's 16-sentence inference chunk
      (``src/translation/engines/nllb.py:103-126``), sized much larger
      because the map is vectorized.
    * shuffle partitions are 4× cores locally (at least 32); on a real
      cluster set ``spark.sql.shuffle.partitions`` in ``extra_conf``,
      sized so partitions fit executor memory.
    * Python workers fork from :data:`PYTHON_DAEMON_MODULE`, with the
      package root on their ``PYTHONPATH``. Cluster jobs submitted with
      ``--py-files`` go through ``tools/run_job.py``, which keeps
      PySpark's stock daemon.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    try:
        n = int(master.split("[")[1].rstrip("]*")) if "[" in master else 32
    except ValueError:
        n = 32

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(4 * n, 32)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.daemon.module", PYTHON_DAEMON_MODULE)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
