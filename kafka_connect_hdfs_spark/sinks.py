"""Format writers O1-O4 and schema file readers O5 (SURVEY.md §2.6).

Reference:
  - O1 Avro: avro/AvroRecordWriterProvider.java:50-103 (codec from
    ``avro.codec``; schema bound at first record per file).
  - O2 Parquet: parquet/ParquetRecordWriterProvider.java:53-105 (SNAPPY,
    256 MB row group, 64 KB page, dictionary on).
  - O3 JSON: json/JsonRecordWriterProvider.java:68-114 (one object per line).
  - O4 String/text: string/StringRecordWriterProvider.java:59-97
    (value.toString per line, ``.txt``).
  - O5 schema readers: avro/AvroFileReader.java:42-53,
    parquet/ParquetFileReader.java:39-55 — recover the latest schema from the
    newest committed file.
  - O6 plug-in registry: reflective Format loading
    (DataWriter.java:228-277) becomes a plain dict of strategies.

Spark-first: each sink is ``df.write.format(...)`` with the reference's
profile defaults. The write is partitioned by the partitioner's columns so
Catalyst prunes on read. Avro uses the JVM ``avro`` datasource (spark-avro)
only where a runtime probe finds it; Spark 4 does not ship it in its
``jars/``, so a stock install writes through the pure-Python container codec
(``PurePythonAvroSink``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_hdfs_spark.config import HdfsSinkConfig


@dataclass
class FormatSink:
    format: str           # spark datasource name
    extension: str        # reference file extension
    options: dict

    def write(self, df: DataFrame, path: str, partition_by: list[str], mode: str = "append") -> None:
        writer = df.write.mode(mode).options(**self.options)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.format(self.format).save(path)

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        # write-side options ride along: harmless for footer formats, and
        # csv needs header/timestampFormat symmetric on both sides
        return spark.read.format(self.format).options(**self.options).load(path)

    def schema_of(self, spark: SparkSession, path: str):
        """O5 — the landed schema (Catalyst reads footer/container header)."""
        return self.read(spark, path).schema


class TextSink(FormatSink):
    """O4 — value.toString, one per line (StringRecordWriterProvider.java:59-97).

    Multi-column frames are serialized to one JSON line per record (the
    closest faithful "toString" for structured values); a lone string
    ``value`` column passes through verbatim.
    """

    def write(self, df: DataFrame, path: str, partition_by: list[str], mode: str = "append") -> None:
        payload_cols = [c for c in df.columns if c not in partition_by]
        if payload_cols == ["value"] and dict(df.dtypes)["value"] == "string":
            line = F.col("value")
        else:
            line = F.to_json(F.struct(*payload_cols)).alias("value")
        out = df.select(*partition_by, line.alias("value"))
        w = out.write.mode(mode).options(**self.options)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.format("text").save(path)


#: cached result of the one-time JVM avro datasource probe (None = not probed)
_JVM_AVRO_AVAILABLE: bool | None = None


def jvm_avro_available(spark: SparkSession) -> bool:
    """Probe once for the JVM ``avro`` datasource (spark-avro). On clusters
    that bundle it the codegen JVM writer/reader is strictly better than the
    pure-Python codec; this container lacks it, so the probe fails fast."""
    global _JVM_AVRO_AVAILABLE
    if _JVM_AVRO_AVAILABLE is None:
        try:
            # datasource present → listing fails with PATH_NOT_FOUND;
            # datasource absent → FAILED_FIND_DATA_SOURCE before listing
            spark.read.format("avro").schema("value string").load(
                "/nonexistent-kchs-avro-probe"
            )
            _JVM_AVRO_AVAILABLE = True
        except Exception as e:
            msg = str(e)
            _JVM_AVRO_AVAILABLE = (
                "PATH_NOT_FOUND" in msg or "Path does not exist" in msg
            )
    return _JVM_AVRO_AVAILABLE


def _committed_sort_key(path: str):
    """Order candidates the way the reference bootstraps the current schema:
    by committed END OFFSET parsed from the contract filename
    (FileUtils.fileStatusWithMaxOffset, TopicPartitionWriter.java:334-350),
    falling back to mtime for non-contract names."""
    import os
    import re

    m = re.match(r"^.+\+\d+\+\d+\+(\d+)\.[a-z]+$", os.path.basename(path))
    if m:
        return (1, int(m.group(1)), 0.0, path)
    return (0, 0, os.path.getmtime(path), path)


def _local_dir(path: str) -> str:
    """The local directory behind ``path`` for the pure-Python Avro codec,
    which writes through the local filesystem: a bare path or a
    ``file://`` URL. Any other scheme (hdfs://, s3a://, ...) is refused
    rather than silently written to local disk."""
    from urllib.parse import urlparse

    url = urlparse(path)
    if url.scheme == "":
        return path
    if url.scheme == "file" and url.netloc in ("", "localhost"):
        return url.path
    raise ValueError(
        f"the pure-Python avro writer only writes local paths; got {path!r}. "
        "Install spark-avro to write other filesystems."
    )


def _avro_files(local: str) -> list[str]:
    """The ``.avro`` files under ``local``, skipping ``_``- and
    ``.``-prefixed directories as Spark's file index does (e.g. the
    contract-naming staging root of an unfinished batch)."""
    import glob as _glob
    import os

    return sorted(
        fp
        for fp in _glob.glob(os.path.join(local, "**", "*.avro"), recursive=True)
        if not any(
            seg.startswith("_") for seg in os.path.relpath(fp, local).split(os.sep)
        )
    )


def _as_utc(dt):
    """Fixer for decoded values of Spark type ``dt``, or None. The codec
    decodes ``timestamp-micros`` to naive UTC datetimes, but
    ``createDataFrame`` reads a naive datetime as local time: tag them UTC
    so a write/read round trip holds in any worker timezone."""
    import datetime

    from pyspark.sql import types as T

    if isinstance(dt, T.TimestampType):
        return lambda v: v if v is None else v.replace(tzinfo=datetime.timezone.utc)
    if isinstance(dt, T.ArrayType):
        item = _as_utc(dt.elementType)
        return item and (lambda v: v if v is None else [item(x) for x in v])
    return None


def _times_as_ints(batch, keep: list[str]):
    """``batch`` with its timestamp and date columns (other than ``keep``)
    as the integer micros / days the Avro encoders write: converting them
    to Python ``datetime`` objects costs more than encoding the rows."""
    import pyarrow as pa

    def plain(name, col):
        if name in keep:
            return col
        if pa.types.is_timestamp(col.type):
            return col.cast(pa.int64())
        if pa.types.is_date32(col.type):
            return col.cast(pa.int32())
        return col

    names = batch.schema.names
    return pa.RecordBatch.from_arrays(
        [plain(n, c) for n, c in zip(names, batch.columns)], names=names
    )


#: the reference's ``avro.codec`` enumeration
#: (avro/AvroRecordWriterProvider.java:69), all written by formats.avro_io
AVRO_CODECS = ("null", "deflate", "snappy", "bzip2")


class PurePythonAvroSink(FormatSink):
    """O1/O5 without spark-avro: lands genuine Avro Object Container Files
    via the dependency-free codec in formats/avro_io.py (container spec:
    avro/AvroRecordWriterProvider.java:50-103; schema read-back:
    avro/AvroFileReader.java:42-53).

    Files are written per Spark partition on the executors: ``mapInArrow``
    hands each task Arrow batches, whose rows stream (across batch
    boundaries) through the schema's compiled encoders — no driver collect,
    no pickled ``Row``s. Each task returns one count row, collected by the
    same job. The sink writes the partitioning it is given, as Spark's own
    file writer does: each task sorts its rows by the partition columns and
    writes one container per Hive-style partition directory it holds, so a
    directory fed by several tasks gets one file from each. A caller that
    wants one file per directory clusters the frame first (the contract
    path's chunk window puts each ``file_name`` group in one task, like the
    reference's one writer per encodedPartition,
    TopicPartitionWriter.getWriter). Every container is written under a
    hidden temporary name and renamed to its ``part-`` name once closed
    (``avro_io.write_container``), so a killed task attempt leaves no
    truncated file that a reader or a commit glob would see. Every write
    call stamps a fresh run id into its filenames, so appending a second
    batch never overwrites committed files. Only local paths (bare or
    ``file://``) are written. Reads decode executor-side.

    When the JVM ``avro`` datasource is present (real cluster), write/read
    delegate to it instead — same layout, codegen speed.
    """

    def write(self, df: DataFrame, path: str, partition_by: list[str], mode: str = "append") -> None:
        import glob as _glob
        import os
        import uuid

        from kafka_connect_hdfs_spark.formats.avro_io import (
            struct_to_avro_schema, write_container,
        )

        if mode not in ("append", "overwrite"):
            raise ValueError(f"avro sink supports append/overwrite, got {mode!r}")
        if jvm_avro_available(df.sparkSession):
            return FormatSink.write(self, df, path, partition_by, mode)

        local = _local_dir(path)
        if mode == "overwrite" and os.path.isdir(local):
            for fp in _glob.glob(os.path.join(local, "**", "*.avro"), recursive=True):
                os.remove(fp)
        codec = self.options.get("compression", "null")
        if codec == "uncompressed":  # spark-avro's alias for the null codec
            codec = "null"
        if codec not in AVRO_CODECS:
            # Anything outside the reference's codec enumeration: never
            # downgrade silently — fail by default, warn-and-downgrade
            # only on explicit opt-in.
            if self.options.get("allowCodecFallback", False):
                import warnings

                warnings.warn(
                    f"avro codec {codec!r} unavailable in the pure-Python "
                    "writer; falling back to 'null' (allowCodecFallback "
                    "set). Use the JVM spark-avro datasource for "
                    f"{codec!r} on a real cluster.",
                    stacklevel=2,
                )
                codec = "null"
            else:
                raise ValueError(
                    f"avro codec {codec!r} is not supported by the "
                    f"pure-Python fallback writer (only {'/'.join(AVRO_CODECS)}). "
                    "Install spark-avro for native codecs, or pass "
                    "allowCodecFallback=True to downgrade to 'null'."
                )
        payload_fields = [f for f in df.schema.fields if f.name not in partition_by]
        # NonRecordContainer unwrap (avro/AvroRecordWriterProvider.java:79-85):
        # a bare-primitive value stream lands with a primitive container
        # schema, not a one-field record
        unwrap = (
            self.options.get("unwrapPrimitives", True)
            and len(payload_fields) == 1
            and payload_fields[0].name == "value"
            and not payload_fields[0].dataType.typeName() == "struct"
        )
        if unwrap:
            from kafka_connect_hdfs_spark.formats.avro_io import _avro_type

            f0 = payload_fields[0]
            avro_schema = (
                ["null", _avro_type(f0.dataType)] if f0.nullable else _avro_type(f0.dataType)
            )
        else:
            avro_schema = struct_to_avro_schema(
                type(df.schema)(payload_fields), name="spark_record"
            )
        pcols = list(partition_by)
        run_id = uuid.uuid4().hex[:8]  # unique per write call — appends never collide

        if pcols:
            df = df.sortWithinPartitions(*pcols)

        def write_part(batches):
            import itertools

            import pyarrow as pa
            from pyspark import TaskContext

            name = f"part-{TaskContext.get().partitionId():05d}-{run_id}.avro"
            # one group may span Arrow batches: stream rows, not batches
            rows = (r for b in batches for r in _times_as_ints(b, pcols).to_pylist())

            def data(rs):
                # record rows pass as dicts: the encoder ignores partition keys
                return (r["value"] for r in rs) if unwrap else rs

            n = 0
            if pcols:
                for key, group in itertools.groupby(
                    rows, key=lambda r: tuple(r[c] for c in pcols)
                ):
                    d = os.path.join(
                        local, *[f"{c}={v}" for c, v in zip(pcols, key)]
                    )
                    os.makedirs(d, exist_ok=True)
                    n += write_container(
                        os.path.join(d, name), avro_schema, data(group), codec=codec
                    )
            else:
                os.makedirs(local, exist_ok=True)
                n += write_container(
                    os.path.join(local, name), avro_schema, data(rows), codec=codec
                )
            yield pa.RecordBatch.from_pydict({"n": [n]}, schema=pa.schema([("n", pa.int64())]))

        os.makedirs(local, exist_ok=True)
        df.mapInArrow(write_part, "n long").collect()

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        """Distributed decode: the driver only globs file names and reads ONE
        container header for the schema; record decode runs executor-side
        (parallelized file list → per-file decode), so a 100 TB landing zone
        never funnels through the driver. Timestamps come back as the UTC
        instants the writer encoded."""
        import os

        from kafka_connect_hdfs_spark.formats.avro_io import (
            avro_to_struct, read_container, read_schema,
        )

        if jvm_avro_available(spark):
            return FormatSink.read(self, spark, path)

        local = _local_dir(path)
        files = _avro_files(local)
        if not files:
            raise FileNotFoundError(f"no .avro files under {path}")
        struct = avro_to_struct(read_schema(files[0]))

        # hive-style partition values come from dir names (driver-side: names only)
        tasks = []
        part_keys: set[str] = set()
        for fp in files:
            rel = os.path.relpath(os.path.dirname(fp), local)
            pvals = dict(
                seg.split("=", 1) for seg in rel.split(os.sep) if "=" in seg
            )
            part_keys.update(pvals)
            tasks.append((fp, pvals))

        from pyspark.sql import types as T

        out_struct = struct
        for c in sorted(part_keys - set(struct.fieldNames())):
            out_struct = out_struct.add(T.StructField(c, T.StringType(), True))
        field_names = out_struct.fieldNames()
        fixers = [
            (i, fix) for i, f in enumerate(out_struct.fields)
            if (fix := _as_utc(f.dataType))
        ]

        def decode(it):
            for fp, pvals in it:
                _, recs = read_container(fp)
                for r in recs:
                    merged = {**r, **pvals}
                    row = [merged.get(f) for f in field_names]
                    for i, fix in fixers:
                        row[i] = fix(row[i])
                    yield tuple(row)

        rdd = spark.sparkContext.parallelize(
            tasks, max(1, min(len(tasks), spark.sparkContext.defaultParallelism))
        ).mapPartitions(decode)
        return spark.createDataFrame(rdd, out_struct)

    def schema_of(self, spark: SparkSession, path: str):
        """Reference semantics: schema of the file with the MAX COMMITTED
        OFFSET (FileUtils.fileStatusWithMaxOffset, TopicPartitionWriter.java
        :334-350) — contract-named files sort by end offset; mtime is only
        the fallback for non-contract names. Header-only read."""
        from kafka_connect_hdfs_spark.formats.avro_io import (
            avro_to_struct, read_schema,
        )

        if jvm_avro_available(spark):
            return FormatSink.schema_of(self, spark, path)

        files = sorted(_avro_files(_local_dir(path)), key=_committed_sort_key)
        return avro_to_struct(read_schema(files[-1]))


def build_sink(cfg: HdfsSinkConfig) -> FormatSink:
    """O6 — format registry (reflective loading → plain dict)."""
    registry = {
        "parquet": FormatSink(
            "parquet",
            ".parquet",
            {
                "compression": cfg.parquet_codec,
                # reference row-group/page sizing, ParquetRecordWriterProvider.java:54-56
                "parquet.block.size": str(256 * 1024 * 1024),
                "parquet.page.size": str(64 * 1024),
            },
        ),
        # pure-Python container writer — works without spark-avro; on a
        # cluster with the JVM avro datasource, swap to
        # FormatSink("avro", ".avro", {...}) for codegen-speed writes
        "avro": PurePythonAvroSink(
            "avro",
            ".avro",
            {"compression": "uncompressed" if cfg.avro_codec in ("null", "") else cfg.avro_codec},
        ),
        "orc": FormatSink(
            "orc",
            ".orc",
            # ORC profile mirrors the parquet one: snappy + dictionary on
            {"compression": "snappy"},
        ),
        "json": FormatSink("json", ".json", {}),
        # header-on, explicit non-localized timestamp format so files are
        # self-describing and re-parse identically on read-back
        "csv": FormatSink(
            "csv",
            ".csv",
            {"header": "true", "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"},
        ),
        "text": TextSink("text", ".txt", {}),
    }
    return registry[cfg.format]
