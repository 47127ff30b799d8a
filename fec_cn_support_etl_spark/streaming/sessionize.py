"""Custom stateful streaming operator: session windows via
applyInPandasWithState (the Structured Streaming arbitrary-state API).

Sessionization groups a user's events into sessions separated by
``gap`` of inactivity — not expressible with built-in windowed aggs
(session bounds depend on the data), so this is the canonical use for
applyInPandasWithState: per-key state (open session) kept by the
engine's state store, updated one Arrow batch at a time, closed either
by a gap or by event-time timeout when the watermark passes.

Batch twin: ``sessionize_batch`` computes identical sessions with a
window + cumulative-gap trick (lag -> gap flag -> running session id),
used as the oracle in tests and available as a layer-1 operator.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .pipeline import drain_to_memory, read_file_stream

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def _emit(state_tuple) -> pd.DataFrame:
    start_us, last_us, n, total = state_tuple
    return pd.DataFrame(
        {
            "session_start": [pd.Timestamp(start_us, unit="us")],
            "session_end": [pd.Timestamp(last_us, unit="us")],
            "n_events": [n],
            "total_value": [total],
        }
    )


def make_session_fn(gap_us: int):
    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts")
        out = []
        if state.hasTimedOut:
            if state.exists:
                out.append(_emit(state.get).assign(user_id=user_id))
                state.remove()
        else:
            cur = list(state.get) if state.exists else None
            for ts, value in zip(rows["ts"], rows["value"]):
                us = int(pd.Timestamp(ts).value // 1_000)
                if cur is None:
                    cur = [us, us, 0, 0.0]
                elif us - cur[1] > gap_us:
                    out.append(_emit(cur).assign(user_id=user_id))
                    cur = [us, us, 0, 0.0]
                elif cur[0] - us > gap_us:
                    # cross-batch VERY-late event, beyond the gap before
                    # the open session's start: it cannot merge with
                    # sessions already emitted, so emit it as its own
                    # session (documented approximation vs the batch
                    # twin, which might have merged it with an earlier
                    # neighbor). In-gap late events below are exact.
                    out.append(_emit((us, us, 1, float(value))).assign(user_id=user_id))
                    continue
                # extend BOTH bounds: a late in-gap event must move
                # session_start back, matching the batch twin
                cur[0] = min(cur[0], us)
                cur[1] = max(cur[1], us)
                cur[2] += 1
                cur[3] += float(value)
            if cur is not None:
                state.update(tuple(cur))
                state.setTimeoutTimestamp((cur[1] + gap_us) // 1000)  # timeout API takes ms
        for o in out:
            yield o[["user_id", "session_start", "session_end", "n_events", "total_value"]]

    return fn


def sessionize_stream(
    spark,
    events_path: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    sink_table: str = "sessions",
    max_files_per_trigger: int | None = None,
):
    """Streaming sessionization; returns closed sessions (memory sink,
    availableNow). Open sessions at end-of-stream stay in state — the
    batch twin's trailing session per user is the difference, asserted
    in tests. ``max_files_per_trigger=1`` forces one input file per
    micro-batch (cross-batch out-of-order testing)."""
    gap_us = _interval_ms(gap) * 1000
    stream = read_file_stream(spark, events_path, max_files_per_trigger).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    sessions = (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            make_session_fn(gap_us),
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return drain_to_memory(sessions, sink_table, "append")


def sessionize_batch(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Batch twin: lag-gap-cumsum session assignment, one window chain.

    Returns ALL sessions (including each user's final one, which the
    streaming version holds open in state)."""
    gap_us = _interval_ms(gap) * 1000
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))  # NTZ -> TZ (UTC session)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    with_gap = events.withColumn("__us", F.unix_micros("ts")).withColumn(
        "__new", (F.col("__us") - F.lag("__us").over(w) > gap_us).cast("int")
    )
    with_sid = with_gap.withColumn("__sid", F.coalesce(F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)), F.lit(0)))
    return (
        with_sid.groupBy("user_id", "__sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .drop("__sid")
    )


def _interval_ms(s: str) -> int:
    n, unit = s.split()
    mult = {"second": 1000, "seconds": 1000, "minute": 60_000, "minutes": 60_000, "hour": 3_600_000, "hours": 3_600_000}[unit]
    return int(n) * mult
