"""The live ingest path: streaming source → foreachBatch(ingest) → landed files.

Reference mapping (SURVEY.md §3.2-3.3):
  - HdfsSinkTask.put() per-batch loop            → foreachBatch body
  - WAL begin/end + rename commit (W1-W5)        → checkpoint offsets/commits;
                                                   idempotent only with
                                                   contract names
  - recover()/offset restore (S2)                → restart from checkpointLocation
  - backpressure pause/resume (R3)               → maxOffsetsPerTrigger
  - scheduled rotation (F3)                      → trigger processingTime +
                                                   next_scheduled_rotation math

The Kafka source is wired exactly as the reference consumes
(`subscribe`, startingOffsets) but gated: this container has no broker, so
tests drive the identical pipeline through a file/rate source — foreachBatch
receives the same envelope columns either way.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_hdfs_spark.config import HdfsSinkConfig
from kafka_connect_hdfs_spark.pipeline import land


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """S1 — the Kafka intake (HdfsSinkTask.put, HdfsSinkTask.java:107-113).

    Emits the Connect envelope: topic, partition, offset, timestamp, key,
    value. ``maxOffsetsPerTrigger`` is the R3 backpressure analog.

    SOURCE-SWAP CONTRACT (the one line that differs between the broker-
    less test container and production): every downstream operator —
    ``start_ingest``, ``land_topics``, the partitioners, rotation, the
    filename contract — consumes ONLY the envelope columns above, so

        source = file_replay_source(spark, path, schema)   # tests/CI
        source = kafka_source(spark, "broker:9092", "t1")  # production

    are interchangeable; nothing else changes. This container has no
    broker, so the Kafka path is exercised at the config level and the
    envelope contract is gated through ``events_as_kafka_records``; a
    real-broker smoke run needs exactly this one-line swap plus the
    ``spark-sql-kafka`` package on the classpath.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader.load()


def file_replay_source(
    spark: SparkSession, path: str, schema, max_files_per_trigger: int = 1
) -> DataFrame:
    """Test-friendly source with the same envelope contract: replays parquet
    files as a stream (stands in for the broker-less container; the
    reference's own tests use an in-memory source the same way —
    utils/MemoryStorage.java).
    """
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(path)
    )


def start_ingest(
    spark: SparkSession,
    source: DataFrame,
    cfg: HdfsSinkConfig,
    topic: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    trigger_seconds: float | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    use_contract_names: bool = False,
):
    """Run the ingest pipeline on a streaming source.

    foreachBatch calls the same batch ``land`` the correctness harness
    verifies — one code path for both (SURVEY.md §7.1 design stance).
    Delivery: Spark writes checkpoint offsets before the batch and commits
    after (W1/W2 analog), and on restart the unfinished batch runs again.
    The default path appends, so it is at-least-once: a crash between the
    write and Spark's commit lands that batch twice. With
    ``use_contract_names=True`` the batch is staged and published under
    offset-encoded names, so the re-run converges on the same files.

    Partial chunks are NOT discarded on the streaming path (each micro-batch
    is final once its offsets commit — replay would duplicate); the
    reference's discard-on-close (F6) only applies to its non-atomic temp
    files, which Spark doesn't have.
    """
    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        if transform is not None:
            batch_df = transform(batch_df)
        if use_contract_names:
            # offset-encoded filenames on disk; replay-idempotent renames
            # make batch re-runs converge (W2 semantics)
            from kafka_connect_hdfs_spark.contract_names import (
                land_with_contract_names,
            )

            land_with_contract_names(
                spark, batch_df, cfg, topic, ts_col=ts_col, discard_partial=False
            )
        else:
            land(
                spark,
                batch_df,
                cfg,
                topic,
                ts_col=ts_col,
                discard_partial=False,
            )

    writer = source.writeStream.foreachBatch(batch_fn).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def progress_metrics(query) -> dict:
    """Operability snapshot of a running StreamingQuery: rows/sec, batch
    duration, and state size from ``lastProgress`` — the numbers an
    operator watches for backpressure tuning (maxOffsetsPerTrigger /
    maxFilesPerTrigger) and state growth (watermark tightness).

    Returns zeros when no batch has completed yet.
    """
    p = query.lastProgress
    if not p:
        return {"input_rows_per_sec": 0.0, "process_rows_per_sec": 0.0,
                "batch_duration_ms": 0, "state_rows": 0, "batch_id": -1}
    ops = p.get("stateOperators") or []
    return {
        "input_rows_per_sec": float(p.get("inputRowsPerSecond") or 0.0),
        "process_rows_per_sec": float(p.get("processedRowsPerSecond") or 0.0),
        "batch_duration_ms": int((p.get("durationMs") or {}).get("triggerExecution", 0)),
        "state_rows": sum(int(o.get("numRowsTotal", 0)) for o in ops),
        "batch_id": int(p.get("batchId", -1)),
    }
