"""File rotation & the offset-encoded filename contract (SURVEY.md §2.4, §2.5 W6).

Reference semantics:
  - F1 size rotation: commit a file every ``flush.size`` records
    (TopicPartitionWriter.shouldRotateAndMaybeUpdateTimers,
    TopicPartitionWriter.java:507-524). 7 records with flush.size=3 produce
    files [0-2], [3-5]; the trailing partial file is *discarded*
    (DataWriterAvroTest.java:62-77) — re-ingested on the next run.
  - F2 data-time rotation: new file when the extracted timestamp advances
    ``rotate.interval.ms`` past the file-open timestamp
    (TopicPartitionWriter.java:516-519).
  - F3 scheduled wallclock rotation: absolute fire times — next multiple of
    ``rotate.schedule.interval.ms`` re-anchored at local midnight
    (DateTimeUtils wrapper DateTimeUtils.java:19-21, semantics
    DateTimeUtilsTest.java:23-41).
  - W6 filename contract: ``<topic>+<kafkaPartition>+<start>+<end>.<ext>``,
    offsets zero-padded to ``filename.offset.zero.pad.width``
    (FileUtils.committedFileName FileUtils.java:77-100, pad
    TopicPartitionWriter.java:220-222).

Spark-first shape: the record-at-a-time state machine becomes set-oriented
window arithmetic. Offsets within a (kafkaPartition, encodedPartition) group
are ranked with ``row_number``; chunk id = rank div flush_size. That yields
*identical* file boundaries to the reference whenever offsets are contiguous
per group (the reference's own invariant), and deterministic well-defined
boundaries otherwise.

Scale note: the window is partitioned by (kafka partition, encoded partition)
— the same key the write itself needs — so the sort is one shuffle shared with
the write, and each group sorts independently (no global sort). At 100 TB with
thousands of Kafka partitions this parallelizes on the natural key. If a single
(partition dir) is hot, AQE skew handling splits it for the shuffle; the final
per-file ordering only needs within-group ordering, never a global one.
"""

from __future__ import annotations

from datetime import datetime, timedelta
from zoneinfo import ZoneInfo

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def committed_file_name(
    topic: Column | str,
    kafka_partition: Column,
    start_offset: Column,
    end_offset: Column,
    ext: str,
    pad_width: int = 10,
) -> Column:
    """``<topic>+<partition>+<start>+<end><ext>`` — FileUtils.java:77-100.

    Example: ``test_hdfs+0+0000000000+0000000002.avro``
    (docs/hdfs_connector.rst:109-110).
    """
    topic_col = F.lit(topic) if isinstance(topic, str) else topic
    pad = lambda c: F.lpad(c.cast("string"), pad_width, "0")  # noqa: E731
    return F.concat(
        F.concat_ws(
            "+", topic_col, kafka_partition.cast("string"), pad(start_offset), pad(end_offset)
        ),
        F.lit(ext),
    )


def size_based_chunks(
    df: DataFrame,
    encoded_partition: Column,
    flush_size: int,
    offset_col: str = "offset",
    kafka_partition_col: str = "partition",
    discard_partial: bool = True,
) -> DataFrame:
    """F1 — assign each record to its committed file chunk.

    Adds ``encodedPartition``, ``chunk`` (0-based file index within the
    (kafkaPartition, encodedPartition) group) and ``chunk_size``; when
    ``discard_partial`` (the reference's close semantics, F6) trailing
    records that don't fill a chunk are dropped.
    """
    # materialize the dir key first so every window keys on the SAME
    # attribute — re-evaluated expressions would plan as distinct keys and
    # force a second shuffle
    base = df.withColumn("encodedPartition", encoded_partition)
    key = [F.col(kafka_partition_col), F.col("encodedPartition")]
    w = Window.partitionBy(*key).orderBy(F.col(offset_col))
    rank = F.row_number().over(w) - 1
    if not discard_partial:
        # every record is kept: one projection, no helper column
        return base.withColumn("chunk", (rank / flush_size).cast("bigint"))
    out = base.withColumn("_rn", rank).withColumn(
        "chunk", (F.col("_rn") / flush_size).cast("bigint")
    )
    # a record is in a full chunk iff its rank < floor(group_total /
    # flush) * flush; the count window shares the row_number window's
    # partitioning key, so this adds NO second shuffle (plan check:
    # tests/test_plan_quality.py::test_ingest_single_shuffle)
    total_w = Window.partitionBy(*key)
    out = out.withColumn("_total", F.count("*").over(total_w)).filter(
        F.col("_rn") < F.floor(F.col("_total") / flush_size) * flush_size
    )
    return out.drop("_rn", "_total")


def chunk_file_name(
    topic: str,
    ext: str,
    offset_col: str = "offset",
    kafka_partition_col: str = "partition",
    pad_width: int = 10,
) -> Column:
    """W6 on the records: the committed name of the chunk each row of a
    ``size_based_chunks`` frame belongs to (start = min(offset), end =
    max(offset) of its chunk). The min/max window keys on (kafkaPartition,
    encodedPartition, chunk), which the chunk window's (kafkaPartition,
    encodedPartition) hash partitioning already satisfies — no Exchange.
    It is ``chunk_file_manifest``'s name, computed per record instead of per
    aggregated chunk, so a file's name on disk equals its manifest row's.
    """
    w = Window.partitionBy(kafka_partition_col, "encodedPartition", "chunk")
    return committed_file_name(
        topic,
        F.col(kafka_partition_col),
        F.min(offset_col).over(w),
        F.max(offset_col).over(w),
        ext,
        pad_width,
    )


def chunk_file_manifest(
    chunked: DataFrame,
    topic: str,
    ext: str,
    offset_col: str = "offset",
    kafka_partition_col: str = "partition",
    pad_width: int = 10,
) -> DataFrame:
    """W6 — one row per committed file: partition dir, filename, offset range.

    This is the set-oriented equivalent of TopicPartitionWriter.commitFile's
    startOffsets/offsets bookkeeping (TopicPartitionWriter.java:636-650,
    711-747): per chunk, start = min(offset), end = max(offset).
    """
    agg = (
        chunked.groupBy(kafka_partition_col, "encodedPartition", "chunk")
        .agg(
            F.min(offset_col).alias("start_offset"),
            F.max(offset_col).alias("end_offset"),
            F.count("*").alias("record_count"),
        )
    )
    return agg.withColumn(
        "file_name",
        committed_file_name(
            topic,
            F.col(kafka_partition_col),
            F.col("start_offset"),
            F.col("end_offset"),
            ext,
            pad_width,
        ),
    )


def time_interval_chunks(
    df: DataFrame,
    rotate_interval_ms: int,
    ts_col: str = "ts",
    kafka_partition_col: str = "partition",
) -> DataFrame:
    """F2 — event-time rotation, batch form.

    The reference opens a file at the first record's extracted timestamp and
    rotates when a record arrives >= interval later
    (TopicPartitionWriter.updateRotationTimers, :284-311, test "3 records per
    rotate interval" avro/TopicPartitionWriterTest.java:262-347). In batch
    form with monotone timestamps this equals fixed tumbling windows anchored
    at the first timestamp per Kafka partition; we expose the standard
    tumbling-window variant (``window(ts, interval)``) which is the
    Structured-Streaming-native phrasing of the same policy.
    """
    secs = rotate_interval_ms / 1000.0
    return df.withColumn(
        "rotation_window", F.window(F.col(ts_col), f"{secs} seconds")
    ).withColumn("file_open_ts", F.col("rotation_window.start")).drop("rotation_window")


def schema_rotation_chunks(
    df: DataFrame,
    version_col: str,
    flush_size: int,
    compatibility: str = "BACKWARD",
    offset_col: str = "offset",
    kafka_partition_col: str = "partition",
    encoded_partition: Column | None = None,
) -> DataFrame:
    """F4 — rotate-on-schema-change combined with size rotation, batch form.

    The reference commits the open file before writing a record whose schema
    "should change" the writer schema (TopicPartitionWriter.java:354-365),
    then counts records per file as usual (F1). Set-oriented equivalent:

      * the **current schema** at each offset is a running aggregate of the
        version column — BACKWARD/FULL: running max (newer wins); FORWARD:
        running min (older wins, SchemaUtils semantics §2.7); NONE: the
        record's own version (every change rotates);
      * a **run** starts wherever the current schema changes (lag != value);
      * files chunk within (kafkaPartition, encodedPartition, run) by
        row_number div flush_size.

    One window over the same (partition, dir) key the write shuffles on —
    no extra shuffle vs. plain size rotation.
    """
    enc = encoded_partition if encoded_partition is not None else F.lit("")
    w = Window.partitionBy(F.col(kafka_partition_col), enc).orderBy(F.col(offset_col))
    running = w.rowsBetween(Window.unboundedPreceding, 0)
    v = F.col(version_col)
    if compatibility in ("BACKWARD", "FULL"):
        current = F.max(v).over(running)
    elif compatibility == "FORWARD":
        current = F.min(v).over(running)
    elif compatibility == "NONE":
        current = v
    else:
        raise ValueError(f"unknown compatibility {compatibility}")
    out = (
        df.withColumn("encodedPartition", enc)
        .withColumn("current_version", current)
        .withColumn(
            "_schema_changed",
            F.when(
                F.lag("current_version").over(w).isNull()
                | (F.lag("current_version").over(w) != F.col("current_version")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("run_id", F.sum("_schema_changed").over(running))
    )
    run_w = Window.partitionBy(
        F.col(kafka_partition_col), F.col("encodedPartition"), F.col("run_id")
    ).orderBy(F.col(offset_col))
    return (
        out.withColumn("_rn", F.row_number().over(run_w) - 1)
        .withColumn("chunk", (F.col("_rn") / flush_size).cast("bigint"))
        .drop("_rn", "_schema_changed")
    )


def next_offset_per_partition(
    manifest: DataFrame, kafka_partition_col: str = "partition"
) -> DataFrame:
    """S2/W6 — offset restore: the next offset to consume per topic-partition
    is max committed end offset + 1 (FileUtils.fileStatusWithMaxOffset,
    FileUtils.java:106-140; TopicPartitionWriter.readOffset :526-537).

    Input is a committed-file manifest (chunk_file_manifest output or a
    listing of parsed committed filenames).
    """
    return (
        manifest.groupBy(kafka_partition_col)
        .agg((F.max("end_offset") + 1).alias("next_offset"))
        .orderBy(kafka_partition_col)
    )


def next_scheduled_rotation(now: datetime, interval_ms: int, timezone: str) -> datetime:
    """F3 — midnight-anchored next fire time.

    Semantics of DateTimeUtils.getNextTimeAdjustedByDay (DateTimeUtilsTest.java:23-41):
    fire times are local midnight + k*interval; the next fire is the smallest
    such time strictly after ``now``. Pure driver-side math (the streaming
    wrapper uses it to decide when foreachBatch commits partial files).
    """
    tz = ZoneInfo(timezone)
    local = now.astimezone(tz)
    midnight = local.replace(hour=0, minute=0, second=0, microsecond=0)
    since_ms = (local - midnight) // timedelta(milliseconds=1)
    k = since_ms // interval_ms + 1
    fire = midnight + timedelta(milliseconds=k * interval_ms)
    return fire.astimezone(now.tzinfo) if now.tzinfo else fire.replace(tzinfo=None)
