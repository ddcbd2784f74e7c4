"""Custom stateful streaming operator (applyInPandasWithState sessionizer)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_connect_hdfs_spark.streaming.stateful import streaming_sessionize


def test_streaming_sessionize_closes_gap_sessions(spark, sf_dir, tmp_path):
    from kafka_connect_hdfs_spark.session import load_table

    events = load_table(spark, sf_dir, "events")
    src = f"{tmp_path}/src"
    events.select("user_id", "ts", "value").coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sessions = streaming_sessionize(stream)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("update")
        .option("checkpointLocation", f"{tmp_path}/chk")
        .trigger(availableNow=True)
        .start()
    )
    # the ProcessingTimeTimeout pipeline never self-terminates under
    # availableNow (30-min timers never fire in-test) — a plain
    # awaitTermination(120) burned its full two minutes on ~1 s empty
    # batches; stop at the first completed zero-row batch after data
    from kafka_connect_hdfs_spark.streaming.stateful import stop_after_drain

    stop_after_drain(q, timeout=120)
    got = spark.sql("SELECT * FROM sessions_out")

    # compare closed (gap) sessions against the batch sessionizer:
    # every closed session must equal a batch session of the same user/start
    from kafka_connect_hdfs_spark.plans.analytics2 import q_sessionize

    batch = q_sessionize(spark, "/root/testdata/sf0.001")
    b = {
        (r.user_id, r.session_start): (r.n_events, r.session_end)
        for r in batch.collect()
    }
    closed = got.filter(F.col("closed_by") == "gap").collect()
    assert closed, "expected at least one gap-closed session"
    for r in closed:
        key = (r.user_id, r.session_start)
        assert key in b, f"streaming session {key} missing from batch result"
        n_events, session_end = b[key]
        assert r.n_events == n_events
        assert r.session_end == session_end


def test_streaming_builtin_session_window_matches_batch(spark, sf_dir, tmp_path):
    """Spark's built-in session_window in STREAMING mode (watermark + append
    output): events arrive in four chronologically-ordered files, so nothing
    is ever late, and the 30-min watermark lets every session that closes
    before the final watermark be emitted. Every emitted session must equal
    the batch session_window grouping bit-for-bit."""
    from pyspark.sql import Window

    from kafka_connect_hdfs_spark.session import load_table

    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    src = f"{tmp_path}/sw_src"
    # four time-ordered chunks appended sequentially -> ascending mtimes ->
    # the file stream replays them chronologically
    chunked = events.withColumn(
        "chunk", F.ntile(4).over(Window.orderBy("ts"))
    )
    for i in range(1, 5):
        (chunked.filter(F.col("chunk") == i).drop("chunk")
         .coalesce(1).write.mode("append").parquet(src))
    schema = spark.read.parquet(src).schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sw_out")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/sw_chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in spark.sql("SELECT * FROM sw_out").collect()
    }

    batch = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in (
            events.groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(F.count("*").alias("n_events"))
            .select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "n_events",
            )
        ).collect()
    }
    # append emits sessions the watermark passed; events were replayed in
    # order, so the emitted set must be a nonempty exact subset of batch
    assert got, "no sessions emitted"
    for key, val in got.items():
        assert batch[key] == val, (key, val, batch[key])


class _FakeQuery:
    """A query whose recentProgress grows by one poll's worth of batches
    (each a numInputRows) per ``awaitTermination`` call."""

    def __init__(self, polls):
        self.polls, self.progress, self.isActive = list(polls), [], True
        self.stopped_after = None

    def awaitTermination(self, _timeout):
        if self.polls:
            for rows in self.polls.pop(0):
                self.progress.append({"batchId": len(self.progress), "numInputRows": rows})
        return False

    @property
    def recentProgress(self):
        return list(self.progress)

    def stop(self):
        self.isActive, self.stopped_after = False, len(self.progress)


def test_stop_after_drain_outlasts_one_empty_batch_mid_drain():
    """A lone empty batch between data batches (a rate-limited source) is
    not the end: the query is stopped after two empty batches in a row."""
    from kafka_connect_hdfs_spark.streaming.stateful import stop_after_drain

    q = _FakeQuery([[5, 0], [7], [0], [0], [0]])
    stop_after_drain(q, timeout=30)
    assert q.stopped_after == 5  # data, empty, data, empty, empty
    q = _FakeQuery([[0, 0, 4, 0, 0, 0]])  # empties before any data do not count
    stop_after_drain(q, timeout=30)
    assert q.stopped_after == 6
