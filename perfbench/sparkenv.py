"""What one benchmark process needs around Spark: sessions confined to the
checkout, orderly shutdown of the JVM and its Python workers, process-tree
RSS sampling, event-log folding, and the host record."""

from __future__ import annotations

import json
import os
import platform
import signal
import statistics
import subprocess
import tempfile
import threading
import time
from dataclasses import dataclass

# Two task slots: half the cores of the 4-core host this was tuned on. Each
# slot is a JVM thread plus a Python worker, so local[N] keeps about 2N
# threads runnable, and the repo's rule keeps N at most half the cores.
MASTER = "local[2]"
# Seconds between two samples of the process tree's RSS.
RSS_PERIOD_S = 0.2


def configure(root: str, work: str) -> None:
    """Point every temporary and spill location at ``work`` and make the
    package importable by Python workers. Call before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # UsePerfData off: the JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )


def build(work: str, master: str = MASTER, event_log: str | None = None):
    """A session from the package's own factory, with deployment settings
    only: scratch locations and (traced runs) the event log. The driver
    heap is the factory's own default."""
    from docling_translate_spark.plans.session import build_session

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = build_session(app_name="perfbench", master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (the JVM and its Python workers) every ``RSS_PERIOD_S`` seconds, and
    keeps the per-command breakdown of the peak sample."""

    def __init__(self):
        self.peak = 0
        self.peak_breakdown: dict[str, list[int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        rss = {p: _rss_bytes(p) for p in [me, *descendants(me)]}
        total = sum(rss.values())
        if total > self.peak:
            self.peak = total
            self.peak_breakdown = {}
            for p, b in rss.items():
                try:
                    with open(f"/proc/{p}/comm") as f:
                        name = f.read().strip()
                except OSError:
                    name = "?"
                self.peak_breakdown.setdefault(name, []).append(b >> 20)

    def _loop(self) -> None:
        while not self._stop.wait(RSS_PERIOD_S):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def shutdown(spark) -> None:
    """Stop the session, the JVM behind it and every process it spawned,
    and wait until all of them have ended."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # the JVM exits when its stdin from this process closes
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    alive = procs
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


@dataclass
class GroupStats:
    """Spark task metrics folded over the jobs of some job groups."""

    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    scan_stages: int = 0
    task_skew: float = 0.0


def fold_event_log(paths: list[str], groups) -> GroupStats:
    """Fold the event logs of (stopped) applications over the jobs whose
    job group satisfies ``groups(name)``.

    ``task_skew`` is max/median task duration in the matched stage with
    the longest wall time; ``scan_stages`` counts matched stages that
    read input records (parquet scans).
    """
    # job and stage ids are per application: key them by the log's index
    job_stages: dict[tuple, list[tuple]] = {}
    matched_jobs: set[tuple] = set()
    stage_tasks: dict[tuple, list[dict]] = {}
    stage_span: dict[tuple, tuple[int, int]] = {}
    for app, path in enumerate(paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is not None and groups(group):
                        job = (app, ev["Job ID"])
                        matched_jobs.add(job)
                        job_stages[job] = [(app, s) for s in ev["Stage IDs"]]
                elif kind == "SparkListenerTaskEnd":
                    stage_tasks.setdefault((app, ev["Stage ID"]), []).append(ev)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Submission Time" in info and "Completion Time" in info:
                        stage_span[(app, info["Stage ID"])] = (
                            info["Submission Time"],
                            info["Completion Time"],
                        )
    stages = {s for j in matched_jobs for s in job_stages[j]}
    out = GroupStats(jobs=len(matched_jobs))
    longest, longest_ms = None, -1
    for s in stages:
        tasks = stage_tasks.get(s, [])
        if not tasks:
            continue  # skipped stage (its shuffle output was reused)
        records_in = 0
        for ev in tasks:
            m = ev.get("Task Metrics") or {}
            out.tasks += 1
            out.executor_run_s += m.get("Executor Run Time", 0) / 1e3
            out.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            out.gc_s += m.get("JVM GC Time", 0) / 1e3
            out.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            out.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            out.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            records_in += (m.get("Input Metrics") or {}).get("Records Read", 0)
        out.scan_stages += records_in > 0
        start, end = stage_span.get(s, (0, 0))
        if end - start > longest_ms:
            longest, longest_ms = s, end - start
    if longest is not None:
        durs = [
            max(ev["Task Info"]["Finish Time"] - ev["Task Info"]["Launch Time"], 1)
            for ev in stage_tasks[longest]
        ]
        out.task_skew = max(durs) / statistics.median(durs)
    return out


def cpu_ticks() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two ``cpu_ticks`` readings that the
    hypervisor gave to other guests."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta[:8]), 1)


def host_record(spark) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "master": MASTER,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "note": (
            "BENCH_r01-r05 and BENCH/ were measured by bench.py on a 32-core "
            "host with other workloads and metrics; they are not comparable "
            "with these figures."
        ),
    }
