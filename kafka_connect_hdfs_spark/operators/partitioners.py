"""Directory partitioners P1-P7 (SURVEY.md §2.3).

Reference contract: ``Partitioner.encodePartition(SinkRecord) -> String`` and
``generatePartitionedPath(topic, encoded) -> String``
(src/main/java/io/confluent/connect/hdfs/partitioner/Partitioner.java:27-41).

Spark-first shape: each partitioner is a pure function of a DataFrame —
it *adds* the partition columns (the thing ``df.write.partitionBy`` needs,
which is what makes Catalyst partition-pruning work downstream) and can also
produce the reference's ``encodedPartition`` string column (``a=b/c=d``)
for the filename/offset contract and for golden tests.

Everything is built-in-column work (JVM-side, whole-stage codegen); no UDFs.

Timestamp extractors (P6, TopicPartitionWriter.java:174-185):
  - Wallclock: processing time — batch operators take ``now`` as a parameter
    (never call the clock: mirrors the reference's MockTime-injectable tests,
    avro/TopicPartitionWriterTest.java:82).
  - Record: the Kafka record timestamp column.
  - RecordField: a named field of the value (``timestamp.field``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_connect_hdfs_spark.config import HdfsSinkConfig

# ---------------------------------------------------------------------------
# P6 — timestamp extractors


def extract_timestamp(cfg: HdfsSinkConfig, now: str | None = None) -> Column:
    """Column holding the partitioning timestamp per cfg.timestamp_extractor.

    ``now`` is an ISO timestamp string injected for Wallclock (tests must be
    deterministic — the reference injects MockTime the same way).
    """
    ext = cfg.timestamp_extractor
    if ext == "Wallclock":
        return F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
    if ext == "Record":
        # Kafka source exposes the record timestamp as `timestamp`
        return F.col("timestamp")
    if ext == "RecordField":
        return F.col(cfg.timestamp_field).cast("timestamp")
    raise ValueError(f"unknown timestamp.extractor {ext}")


# ---------------------------------------------------------------------------
# Partitioner strategy objects


@dataclass
class PartitionSpec:
    """Result of applying a partitioner: the augmented frame, the Hive-style
    partition column names (for ``partitionBy``), and the ``encodedPartition``
    string column (reference Partitioner.encodePartition)."""

    df: DataFrame
    partition_columns: list[str]
    encoded: Column


class DefaultPartitioner:
    """P1 — ``partition=<kafkaPartition>``.

    Reference: partitioner/DefaultPartitioner.java:23-26; expected paths
    avro/TopicPartitionWriterTest.java:142-147.
    """

    def __init__(self, partition_col: str = "partition") -> None:
        self.partition_col = partition_col

    def apply(self, df: DataFrame) -> PartitionSpec:
        out = df.withColumn("partition", F.col(self.partition_col).cast("int"))
        encoded = F.concat(F.lit("partition="), F.col("partition").cast("string"))
        return PartitionSpec(out, ["partition"], encoded)


class FieldPartitioner:
    """P2 — ``<field>=<value>`` from record fields; multi-field supported
    (``country=X/state=Y``).

    Reference: partitioner/FieldPartitioner.java:23-26; multi-field semantics
    HiveIntegrationAvroTest.java:286-378.
    """

    def __init__(self, fields: list[str]) -> None:
        if not fields:
            raise ValueError("FieldPartitioner requires at least one field")
        self.fields = fields

    def apply(self, df: DataFrame) -> PartitionSpec:
        encoded = F.concat_ws(
            "/", *[F.concat(F.lit(f"{f}="), F.col(f).cast("string")) for f in self.fields]
        )
        return PartitionSpec(df, list(self.fields), encoded)


class TimeBasedPartitioner:
    """P3 — floor the extracted timestamp to ``partition.duration.ms`` in
    ``timezone``, then format path components.

    Reference algorithm (partitioner/TimeUtils.java:26-37): convert to local
    time, floor to the duration, convert back — i.e. *flooring happens in
    local wall time*, which matters for DST edges
    (partitioner/TimeBasedPartitionerTest.java:50-60).

    Spark mapping: ``convert_timezone`` into the partition tz, ``date_trunc``
    or epoch-floor there, then ``date_format`` the local time for the path.
    All JVM-side columns — no UDF.

    Emits standard Hive columns year/month/day[/hour[/minute]] so downstream
    partition pruning works, plus the reference's exact encoded string.
    """

    #: path component -> (column name, java date_format pattern)
    _COMPONENTS = [
        ("year", "yyyy"),
        ("month", "MM"),
        ("day", "dd"),
        ("hour", "HH"),
        ("minute", "mm"),
    ]

    def __init__(
        self,
        duration_ms: int,
        timezone: str = "UTC",
        components: tuple[str, ...] = ("year", "month", "day", "hour"),
        ts_col: Column | str = "ts",
    ) -> None:
        self.duration_ms = duration_ms
        self.timezone = timezone
        self.components = components
        self.ts_col = F.col(ts_col) if isinstance(ts_col, str) else ts_col

    #: Joda tokens accepted in the reference's `path.format`
    #: (docs/configuration_options.rst, e.g. `'year'=YYYY/'month'=MM/...`)
    _JODA = {"YYYY": "year", "yyyy": "year", "MM": "month", "dd": "day",
             "HH": "hour", "mm": "minute"}

    @classmethod
    def from_path_format(
        cls,
        path_format: str,
        duration_ms: int,
        timezone: str = "UTC",
        ts_col: Column | str = "ts",
    ) -> "TimeBasedPartitioner":
        """Build from the reference's Joda-style ``path.format`` string, e.g.
        ``'year'=YYYY/'month'=MM/'day'=dd/'hour'=HH`` — each segment's format
        token selects the matching path component (TimeBasedPartitioner
        configuration, partitioner/TimeBasedPartitioner.java:23-26)."""
        comps: list[str] = []
        for segment in path_format.split("/"):
            token = segment.split("=")[-1].strip("'\" ")
            comp = cls._JODA.get(token)
            if comp is None:
                raise ValueError(f"unsupported path.format token: {token!r}")
            comps.append(comp)
        return cls(duration_ms, timezone, tuple(comps), ts_col)

    def _floored_local(self) -> Column:
        """Local wall-clock time floored to duration_ms (TimeUtils.java:26-37)."""
        local = F.convert_timezone(F.lit("UTC"), F.lit(self.timezone), self.ts_col)
        # epoch-of-local-wall-time trick: treat local wall time as if UTC,
        # floor on that epoch => flooring in local time, incl. DST days
        local_epoch = F.unix_timestamp(local)  # session tz = UTC, so this is "local wall epoch"
        dur_s = self.duration_ms // 1000
        floored = (local_epoch - (local_epoch % F.lit(dur_s))).cast("timestamp")
        return floored

    def apply(self, df: DataFrame) -> PartitionSpec:
        floored = self._floored_local()
        formats = {
            name: F.date_format(floored, fmt)
            for name, fmt in self._COMPONENTS
            if name in self.components
        }
        # one projection for every component: each withColumn re-analyzes
        out = df.withColumns(formats)
        parts = [F.concat(F.lit(f"{name}="), F.col(name)) for name in formats]
        encoded = F.concat_ws("/", *parts)
        return PartitionSpec(out, list(formats), encoded)


class DailyPartitioner(TimeBasedPartitioner):
    """P4 — ``year=YYYY/month=MM/day=dd`` (24 h preset).

    Reference: partitioner/DailyPartitionerTest.java:43-47.
    """

    def __init__(self, timezone: str = "UTC", ts_col: Column | str = "ts") -> None:
        super().__init__(24 * 3600 * 1000, timezone, ("year", "month", "day"), ts_col)


class HourlyPartitioner(TimeBasedPartitioner):
    """P5 — ``.../hour=HH`` (1 h preset).

    Reference: partitioner/HourlyPartitionerTest.java:43-48.
    """

    def __init__(self, timezone: str = "UTC", ts_col: Column | str = "ts") -> None:
        super().__init__(3600 * 1000, timezone, ("year", "month", "day", "hour"), ts_col)


# P7 — custom partitioner plug-in: any object with .apply(df) -> PartitionSpec.
# (Reference loads classes reflectively, DataWriter.java:537-558; in Python a
# strategy object is the idiomatic equivalent — no reflection needed.)
PartitionerLike = object


def build_partitioner(cfg: HdfsSinkConfig, ts_col: str = "ts"):
    """Factory mirroring DataWriter.newPartitioner (DataWriter.java:537-558)."""
    if cfg.partitioner == "default":
        return DefaultPartitioner()
    if cfg.partitioner == "field":
        return FieldPartitioner(cfg.partition_fields)
    if cfg.partitioner == "time":
        return TimeBasedPartitioner(
            cfg.partition_duration_ms, cfg.timezone or "UTC", ts_col=ts_col
        )
    if cfg.partitioner == "daily":
        return DailyPartitioner(cfg.timezone or "UTC", ts_col=ts_col)
    if cfg.partitioner == "hourly":
        return HourlyPartitioner(cfg.timezone or "UTC", ts_col=ts_col)
    raise ValueError(f"unknown partitioner {cfg.partitioner}")
