"""Custom stateful streaming operator: conversation sessionization.

The reference processes one whole document per invocation; a streaming
transcript feed instead sees turns arrive incrementally and needs a
stateful operator to decide when a conversation is "complete". This is
the ``applyInPandasWithState`` pattern: per-``conv_id`` state accumulates
turn counts/chars until an event-time gap (session timeout) passes, then
emits one summary row and clears the state.

Semantics:
* state per conv_id: (n_turns, n_chars, first_ts, last_ts)
* a session closes when no turn arrives for ``gap_seconds`` of processing
  time (GroupStateTimeout.ProcessingTimeTimeout) — the streaming analog
  of "the file ended"
* output: one row per closed session
"""

from __future__ import annotations

import datetime as _dt
from typing import Iterable, Iterator, Tuple

import pandas as pd

from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SESSION_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("n_turns", LongType(), False),
        StructField("n_chars", LongType(), False),
        StructField("first_ts", TimestampType(), True),
        StructField("last_ts", TimestampType(), True),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n_turns", LongType(), False),
        StructField("n_chars", LongType(), False),
        StructField("first_ts", LongType(), True),   # epoch micros
        StructField("last_ts", LongType(), True),
    ]
)


def _session_fn(gap_ms: int):
    def fn(
        key: Tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        (conv_id,) = key
        if state.hasTimedOut:
            n_turns, n_chars, first_us, last_us = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": [conv_id],
                    "n_turns": [n_turns],
                    "n_chars": [n_chars],
                    "first_ts": [pd.Timestamp(first_us, unit="us")],
                    "last_ts": [pd.Timestamp(last_us, unit="us")],
                }
            )
            return
        n_turns, n_chars, first_us, last_us = (
            state.get if state.exists else (0, 0, None, None)
        )
        for pdf in pdfs:
            n_turns += len(pdf)
            n_chars += int(pdf["text"].fillna("").str.len().sum())
            ts = pd.to_datetime(pdf["ts"])
            if len(ts):
                lo = int(ts.min().value // 1000)
                hi = int(ts.max().value // 1000)
                first_us = lo if first_us is None else min(first_us, lo)
                last_us = hi if last_us is None else max(last_us, hi)
        state.update((n_turns, n_chars, first_us, last_us))
        state.setTimeoutDuration(gap_ms)
        yield pd.DataFrame(
            {"conv_id": [], "n_turns": [], "n_chars": [], "first_ts": [], "last_ts": []}
        )

    return fn


def sessionize(stream, gap_seconds: int = 300):
    """Close a conversation after ``gap_seconds`` of inactivity and emit
    its summary row (stateful; update output mode). The processing-time
    timeout keeps scheduling batches, so a query over it does not finish
    under ``Trigger.AvailableNow``; stop it instead."""
    return (
        stream.select("conv_id", "text", "ts")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _session_fn(gap_seconds * 1000),
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
