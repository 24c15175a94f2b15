"""Stopping a session built by ``build_session`` does not wait out the
accumulator handler's 1 s poll, and still shuts the server down fully.

The sessions run in a subprocess, so that the suite's shared session is
untouched and the child's stderr can be checked."""

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = str(Path(__file__).resolve().parents[1])

_STOP_JOB = """
import json, sys, threading, time
sys.path.insert(0, {root!r})
from docling_translate_spark.plans.session import build_session


def serve_threads():
    return [t for t in threading.enumerate() if "serve_forever" in t.name]


def accumulated(spark):
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    acc = sc.accumulator(0)
    sc.parallelize(range(100), 4).foreach(lambda x: acc.add(x))
    return acc.value


out = {{}}
spark = build_session(app_name="dts-stop", master="local[2]")
out["sum"] = accumulated(spark)
again = build_session(app_name="dts-stop", master="local[2]")
server = spark.sparkContext._accumulatorServer
out["same_server"] = again.sparkContext._accumulatorServer is server
out["server_class"] = type(server).__name__
out["serve_threads_before"] = len(serve_threads())
t0 = time.perf_counter()
spark.stop()
out["stop_s"] = time.perf_counter() - t0
out["fileno"] = server.socket.fileno()
out["serve_threads_after"] = len(serve_threads())

rebuilt = build_session(app_name="dts-stop", master="local[2]")
out["rebuilt_sum"] = accumulated(rebuilt)
t0 = time.perf_counter()
rebuilt.stop()
out["rebuilt_stop_s"] = time.perf_counter() - t0

# a session whose jobs never start a Python worker, so the JVM never opens
# an accumulator connection
jvm_only = build_session(app_name="dts-stop", master="local[2]")
out["jvm_only_count"] = jvm_only.range(10).count()
server = jvm_only.sparkContext._accumulatorServer
thread = server._serve_thread
out["jvm_only_thread_found"] = thread is not None
t0 = time.perf_counter()
jvm_only.stop()
out["jvm_only_stop_s"] = time.perf_counter() - t0
out["jvm_only_thread_alive"] = thread is not None and thread.is_alive()
out["jvm_only_fileno"] = server.socket.fileno()
out["jvm_only_serve_threads_after"] = len(serve_threads())
print(json.dumps(out))
"""


@pytest.fixture(scope="module")
def stop_run():
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    done = subprocess.run(
        [sys.executable, "-c", _STOP_JOB.format(root=ROOT)],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    return json.loads(done.stdout.splitlines()[-1]), done.stderr


def test_stop_skips_accumulator_poll_and_shuts_server_down(stop_run):
    out, stderr = stop_run
    assert out["sum"] == out["rebuilt_sum"] == sum(range(100))
    # getOrCreate hands back the same server, wrapped once
    assert out["same_server"] and out["server_class"] == "PromptAccumulatorTCPServer"
    # the stock stop waits about 1 s for the handler's select() to time out
    assert out["stop_s"] < 0.3, out
    assert out["rebuilt_stop_s"] < 0.3, out
    # PySpark's postcondition: listening socket closed, serve thread gone
    assert out["serve_threads_before"] == 1
    assert out["fileno"] == -1 and out["serve_threads_after"] == 0
    assert "Exception occurred during processing of request" not in stderr


def test_stop_without_python_tasks_skips_listener_poll(stop_run):
    """With no accumulator connection to close, the stock stop waits on
    ``serve_forever``'s 0.5 s poll of the listening socket; a wake-up
    connection ends it, and the serve thread is joined before ``stop()``
    returns."""
    out, stderr = stop_run
    assert out["jvm_only_count"] == 10
    assert out["jvm_only_stop_s"] < 0.2, out
    assert out["jvm_only_thread_found"] and not out["jvm_only_thread_alive"]
    assert out["jvm_only_fileno"] == -1 and out["jvm_only_serve_threads_after"] == 0
    assert "Exception occurred during processing of request" not in stderr
