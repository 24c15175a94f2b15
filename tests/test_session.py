"""Stopping a session built by ``build_session`` does not wait out the
accumulator handler's 1 s poll, and still shuts the server down fully.

The sessions run in a subprocess, so that the suite's shared session is
untouched and the child's stderr can be checked."""

import json
import os
import subprocess
import sys
from pathlib import Path

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
print(json.dumps(out))
"""


def test_stop_skips_accumulator_poll_and_shuts_server_down():
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
    out = json.loads(done.stdout.splitlines()[-1])
    assert out["sum"] == out["rebuilt_sum"] == sum(range(100))
    # getOrCreate hands back the same server, wrapped once
    assert out["same_server"] and out["server_class"] == "PromptAccumulatorTCPServer"
    # the stock stop waits about 1 s for the handler's select() to time out
    assert out["stop_s"] < 0.3, out
    assert out["rebuilt_stop_s"] < 0.3, out
    # PySpark's postcondition: listening socket closed, serve thread gone
    assert out["serve_threads_before"] == 1
    assert out["fileno"] == -1 and out["serve_threads_after"] == 0
    assert "Exception occurred during processing of request" not in done.stderr
