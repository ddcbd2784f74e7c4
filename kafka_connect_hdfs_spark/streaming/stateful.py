"""Custom stateful streaming operators via applyInPandasWithState.

The reference's only per-key state is the TopicPartitionWriter state machine
(SURVEY.md §3.2); Structured Streaming generalizes that: arbitrary per-key
state with timeouts. This module provides the canonical example — streaming
sessionization with a gap timeout — matching the batch ``q_sessionize``
semantics (plans/analytics2.py), so batch backfill and live streaming share
one definition of "session".

Scale: state lives in the state store (RocksDB/HDFS-backed on a cluster),
partitioned by the grouping key; each micro-batch touches only keys with new
data. The Pandas variant moves Arrow batches, not rows.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SESSION_STATE_SCHEMA = StructType(
    [
        StructField("session_start", LongType()),   # epoch micros
        StructField("last_ts", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("closed_by", StringType()),     # gap | timeout
    ]
)

GAP_SECONDS = 1800


def _sessionize_group(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Emit closed sessions for one user; keep the open session in state."""
    user_id = key[0]
    out_rows = []

    if state.hasTimedOut:
        if state.exists:
            s_start, last_ts, n, total = state.get
            out_rows.append((user_id, s_start, last_ts, n, total, "timeout"))
            state.remove()
        yield pd.DataFrame(
            out_rows,
            columns=[
                "user_id", "_start_us", "_end_us", "n_events", "total_value", "closed_by"
            ],
        ) if out_rows else pd.DataFrame(
            columns=["user_id", "_start_us", "_end_us", "n_events", "total_value", "closed_by"]
        )
        return

    if state.exists:
        s_start, last_ts, n, total = state.get
    else:
        s_start = last_ts = None
        n, total = 0, 0.0

    for pdf in pdfs:
        pdf = pdf.sort_values("ts")
        for ts, value in zip(pdf["ts"], pdf["value"]):
            ts_us = int(ts.value // 1000)  # pandas ns -> us
            if last_ts is not None and ts_us - last_ts > GAP_SECONDS * 1_000_000:
                out_rows.append((user_id, s_start, last_ts, n, total, "gap"))
                s_start, n, total = ts_us, 0, 0.0
            if s_start is None:
                s_start = ts_us
            last_ts = ts_us
            n += 1
            total += float(value)

    state.update((s_start, last_ts, n, total))
    state.setTimeoutDuration(GAP_SECONDS * 1000)
    yield pd.DataFrame(
        out_rows,
        columns=["user_id", "_start_us", "_end_us", "n_events", "total_value", "closed_by"],
    ) if out_rows else pd.DataFrame(
        columns=["user_id", "_start_us", "_end_us", "n_events", "total_value", "closed_by"]
    )


_RAW_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("_start_us", LongType()),
        StructField("_end_us", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("closed_by", StringType()),
    ]
)


def streaming_sessionize(events: DataFrame) -> DataFrame:
    """events(user_id, ts, value) stream → closed-session stream.

    Works on a streaming DataFrame (update mode). The 30-min gap matches the
    batch q_sessionize; sessions also close via processing-time timeout when
    a user goes quiet.
    """
    from pyspark.sql import functions as F

    grouped = events.select("user_id", "ts", "value").groupBy("user_id")
    raw = grouped.applyInPandasWithState(
        _sessionize_group,
        outputStructType=_RAW_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
    return raw.select(
        "user_id",
        F.timestamp_micros(F.col("_start_us")).alias("session_start"),
        F.timestamp_micros(F.col("_end_us")).alias("session_end"),
        "n_events",
        "total_value",
        "closed_by",
    )


def stop_after_drain(q, timeout: float = 300.0) -> None:
    """Stop an availableNow ProcessingTimeTimeout query once its source is
    drained. The microbatch engine keeps scheduling ~1 s empty batches
    until state timers fire (which for 30-min session timers is never
    inside a test/gate run), so ``awaitTermination`` would burn the full
    ``timeout`` on no-op batches. Two COMPLETED zero-row batches in a
    row after data has been seen mean the source is drained — stop
    there. One is not enough: a rate-limited or slow-listing source can
    yield a transient empty batch mid-drain, and stopping on it would
    drop the tail. Scans recentProgress past the last-seen batchId (not
    just lastProgress) so a data batch overwritten by a following empty
    batch between polls is never missed (ADVICE r13).

    Safe ONLY for processing-time-timeout pipelines where no timer can
    fire inside the run; watermark/append queries emit final windows from
    their trailing batch and must keep plain awaitTermination.
    """
    import time as _time

    deadline = _time.time() + timeout
    data_seen = False
    empties = 0  # zero-row batches in a row since the last data batch
    last_batch = -1
    while _time.time() < deadline and empties < 2:
        if q.awaitTermination(2):
            break
        for rp in q.recentProgress:
            if rp is None or rp["batchId"] <= last_batch:
                continue
            last_batch = rp["batchId"]
            if rp["numInputRows"] > 0:
                data_seen, empties = True, 0
            elif data_seen:
                empties += 1
    if q.isActive:
        q.stop()
