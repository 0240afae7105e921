"""Custom stateful streaming operator: gap-based sessionization.

The reference has no streaming surface (SURVEY §2.9); this is the graft's
`applyInPandasWithState` exemplar — per-user session state maintained across
micro-batches: a session closes when a gap > `gap_seconds` separates
consecutive events; closed sessions are emitted downstream, the open session
rides in state.

Batch twin: the `sessionize` window query (oracle-checked) computes the same
session ids over bounded data — the streaming operator must agree with it on
closed sessions (asserted in tests).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from ..session import drop_spark_zip_finders

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", IntegerType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", IntegerType()),
    ]
)


def make_sessionizer(gap_seconds: int = 3600):
    """Returns the applyInPandasWithState function closing sessions on gaps."""
    gap_ns = gap_seconds * 1_000_000_000

    def fn(key, pdf_iter, state: GroupState):
        drop_spark_zip_finders()
        user_id = key[0]
        if state.exists:
            start_ns, last_ns, n = state.get
        else:
            start_ns, last_ns, n = None, None, 0
        closed = []
        for pdf in pdf_iter:
            # datetime64[ns] → int64 nanoseconds
            ts_ns = pdf["ts"].astype("int64").sort_values().tolist()
            for t in ts_ns:
                if start_ns is None:
                    start_ns, last_ns, n = t, t, 1
                elif t - last_ns > gap_ns:
                    closed.append((user_id, start_ns, last_ns, n))
                    start_ns, last_ns, n = t, t, 1
                else:
                    last_ns = t
                    n += 1
        state.update((start_ns, last_ns, n))
        if closed:
            out = pd.DataFrame(
                closed, columns=["user_id", "session_start", "session_end", "n_events"]
            )
            out["session_start"] = pd.to_datetime(out["session_start"], unit="ns")
            out["session_end"] = pd.to_datetime(out["session_end"], unit="ns")
            yield out

    return fn


def sessionize_stream(events: DataFrame, gap_seconds: int = 3600) -> DataFrame:
    """events(user_id, ts, ...) stream → closed sessions (open ones in state)."""
    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            make_sessionizer(gap_seconds),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
