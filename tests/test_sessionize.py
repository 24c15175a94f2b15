"""Stateful sessionization: unit-test the state transition logic with a
stub GroupState, plus a live streaming smoke (query starts, consumes a
batch, maintains state without emitting until timeout)."""

import datetime
import tempfile
import time

import pandas as pd
import pytest

from docling_translate_spark.schema import TRANSCRIPT_SCHEMA
from docling_translate_spark.streaming.sessionize import (
    SESSION_SCHEMA,
    _session_fn,
    sessionize,
)
from docling_translate_spark.synth import gen_rows


class StubState:
    def __init__(self, value=None, timed_out=False):
        self._v = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self.removed = True
        self._v = None

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def _batch(ts_list, texts):
    return pd.DataFrame({"text": texts, "ts": pd.to_datetime(ts_list)})


def test_state_accumulates_across_batches():
    fn = _session_fn(gap_ms=60000)
    st = StubState()
    out = list(
        fn(("c1",), iter([_batch(["2024-01-01 00:00:00"], ["hello"])]), st)
    )
    assert all(len(df) == 0 for df in out)  # nothing emitted while open
    assert st.get[0] == 1 and st.get[1] == 5
    assert st.timeout_ms == 60000

    out = list(
        fn(("c1",), iter([_batch(["2024-01-01 00:00:10"], ["world!!"])]), st)
    )
    assert all(len(df) == 0 for df in out)
    n_turns, n_chars, first_us, last_us = st.get
    assert (n_turns, n_chars) == (2, 12)
    assert first_us < last_us


def test_timeout_emits_and_clears():
    fn = _session_fn(gap_ms=60000)
    ts = pd.Timestamp("2024-01-01 00:00:00").value // 1000
    st = StubState(value=(3, 42, ts, ts + 5_000_000), timed_out=True)
    out = [df for df in fn(("c9",), iter([]), st) if len(df)]
    assert len(out) == 1
    row = out[0].iloc[0]
    assert row["conv_id"] == "c9"
    assert row["n_turns"] == 3 and row["n_chars"] == 42
    assert row["last_ts"] - row["first_ts"] == pd.Timedelta(seconds=5)
    assert st.removed


def test_batch_twin_equality(spark):
    """Twin discipline (same as stream_ingest_dedup): the stateful
    operator's CLOSED sessions must equal the batch session_window
    aggregation over the replayed fixture. Every conversation's turns
    sit well inside the 30-minute event gap, so the batch operator
    yields one session per conv; the stream then idles past the
    processing-time gap, the trigger's no-data batches evaluate the
    state timeouts, and the streaming side closes the same sessions.
    (No processAllAvailable: with processing-time timeouts the trigger
    keeps scheduling batches, so that call never returns — poll the
    sink with a deadline instead.)"""
    import time

    from pyspark.sql import functions as F

    rows = gen_rows(6, 4)
    tmp = tempfile.mkdtemp(prefix="dts-sess-twin-")
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    df.coalesce(2).write.mode("overwrite").parquet(tmp + "/in")

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(tmp + "/in")
    )
    q = (
        sessionize(stream, gap_seconds=2)
        .writeStream.format("memory")
        .queryName("sessions_twin")
        .outputMode("update")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        closed = []
        while time.time() < deadline:
            closed = spark.sql("select * from sessions_twin").collect()
            if len(closed) >= 6:
                break
            time.sleep(1)
    finally:
        q.stop()

    batch = (
        df.groupBy(
            "conv_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.length(F.coalesce("text", F.lit(""))))
            .cast("long")
            .alias("n_chars"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select("conv_id", "n_turns", "n_chars", "first_ts", "last_ts")
        .collect()
    )
    key = lambda r: (
        r["conv_id"], r["n_turns"], r["n_chars"], r["first_ts"], r["last_ts"]
    )
    assert sorted(map(key, closed)) == sorted(map(key, batch))
    assert len(batch) == 6  # one session per conversation by construction


def test_streaming_smoke(spark):
    """The stateful query must consume every input row and emit nothing
    while all sessions are still open. ``sessionize`` never finishes
    under ``availableNow`` (the processing-time timeout keeps scheduling
    batches), so the test waits on query progress and stops the query."""
    tmp = tempfile.mkdtemp(prefix="dts-sess-")
    rows_in = gen_rows(6, 4)
    df = spark.createDataFrame(rows_in, TRANSCRIPT_SCHEMA)
    df.coalesce(2).write.mode("overwrite").parquet(tmp + "/in")
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(tmp + "/in")
    )
    q = (
        sessionize(stream, gap_seconds=3600)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("update")
        .start()
    )
    consumed = {}  # batchId -> numInputRows; recentProgress is a window
    try:
        deadline = time.monotonic() + 60
        while sum(consumed.values()) < len(rows_in):
            if time.monotonic() > deadline:
                break
            time.sleep(0.25)
            consumed.update(
                (p["batchId"], p["numInputRows"]) for p in q.recentProgress
            )
        # no session can time out within the 1-hour gap, so the stateful
        # operator must have emitted nothing
        rows = spark.sql("select * from sessions").collect()
        exc = q.exception()
    finally:
        q.stop()
    assert sum(consumed.values()) == len(rows_in) == 32
    assert rows == []
    assert exc is None
