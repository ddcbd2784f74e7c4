"""Offset-encoded filenames ON DISK — the reference's committed-file contract.

The reference names every committed file ``<topic>+<partition>+<start>+<end>
.<ext>`` (FileUtils.committedFileName, FileUtils.java:77-100) and uses those
names as the exactly-once source of truth (offset recovery scans them,
FileUtils.java:106-140). Spark's file sink controls its own part names, so
this module adds the one custom step SURVEY.md §4 calls out: write each chunk
as exactly one file, then rename it to the contract name.

Mechanics (one pass, like the reference's TopicPartitionWriter.commitFile,
which names a file from offsets it already tracks and renames it once):
  1. ``ingest_batch`` assigns (partition dir, chunk); ``chunk_file_name``
     puts each record's committed ``file_name`` on the row, from a
     min/max-offset window over its chunk. That window rides on the chunk
     window's (kafkaPartition, encodedPartition) hash partitioning, so it
     adds no Exchange and every chunk stays inside one task.
  2. the sink writes with ``partitionBy(<partition cols>, "file_name")``
     under the hidden staging root ``<topic>/_contract_staging`` (readers
     skip ``_``-prefixed directories) — one ``part-*`` file per
     ``file_name=`` directory.
  3. the driver finds every staged file with ONE ``globStatus`` over
     ``_contract_staging/<partition dirs>/file_name=*/part-*``, fetches
     the path strings 16 to a py4j call (parsed in Python), renames each
     to ``<topic>/<partition dirs>/<unescaped file_name>`` via the
     Hadoop FileSystem API (the same atomic rename the reference's
     commitFile uses, HdfsStorage.java:151-164) and finally drops the
     staging root.

No job re-runs the assignment to collect a manifest. ``IngestResult.manifest``
names each chunk with the same ``committed_file_name`` over the same
min/max offsets, so manifest and disk cannot disagree.

Scale: the glob lists only the staging root, i.e. this batch's files plus
those of a crashed one — never the topic's committed history. Per committed
file: one exists check and one rename, pure NameNode metadata ops (the
reference's own per-file commit cost), and four py4j calls in all (two
``Path``s, exists, rename); one mkdirs per partition directory
and one recursive delete per batch. The data itself moves once (the chunk
window's shuffle). The filesystem handle comes from ``statedir.hadoop_fs``,
the fault-injection seam.

Idempotence: re-running a batch reproduces identical chunk assignments and
identical target names. A target that already exists is not overwritten;
the new copy goes with the staging root. A crash between the write and the
end of the publish leaves complete ``part-*`` files in the staging root,
which the replay's publish finds beside its own: files from different
writes hold the same offset range, so one is published and the rest are
dropped, and replays converge (same property the reference gets from
offset-encoded names, SURVEY.md §3.3). Several files from ONE write in one
``file_name=`` directory mean the chunk was split (e.g. by
``maxRecordsPerFile``): that raises, since dropping any would lose records.
One writer per topic, as in the reference (one task owns a topic
partition).
"""

from __future__ import annotations

import re
from collections import Counter
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_hdfs_spark import statedir
from kafka_connect_hdfs_spark.config import HdfsSinkConfig
from kafka_connect_hdfs_spark.operators.rotation import chunk_file_name
from kafka_connect_hdfs_spark.pipeline import IngestResult, ingest_batch
from kafka_connect_hdfs_spark.sinks import build_sink

STAGING = "_contract_staging"
NAME_DIR = "file_name="
_PATHS_PER_CALL = 16
_WRITE_ID = re.compile(r"^part-\d+-([^.]+)")


def _write_id(part_name: str) -> str:
    """The write a part file came from: Spark's job UUID in
    ``part-<task>-<uuid>.c<n>.<ext>``, the Avro sink's run id in
    ``part-<task>-<run>.avro``."""
    m = _WRITE_ID.match(part_name)
    return m.group(1) if m else part_name


def land_with_contract_names(
    spark: SparkSession,
    df: DataFrame,
    cfg: HdfsSinkConfig,
    topic: str,
    ts_col: str = "ts",
    discard_partial: bool = True,
) -> IngestResult:
    """Land records with reference-contract filenames on disk.

    Returns the IngestResult whose manifest rows name exactly the files now
    present under ``<topics.dir>/<topic>/<encodedPartition>/``.
    """
    res = ingest_batch(df, cfg, topic, ts_col=ts_col, discard_partial=discard_partial)
    sink = build_sink(cfg)
    path = f"{cfg.topics_path}/{topic}"
    name = chunk_file_name(
        topic, sink.extension, pad_width=cfg.filename_offset_zero_pad_width
    )
    payload = [c for c in res.data.columns if c not in ("encodedPartition", "chunk")]
    sink.write(
        res.data.select(*payload, name.alias("file_name")),
        f"{path}/{STAGING}",
        res.partition_columns + ["file_name"],
        mode="append",
    )
    _publish(spark, path, len(res.partition_columns))
    return res


def _staged_paths(spark: SparkSession, statuses) -> list[str]:
    """The path strings of a ``globStatus`` result, ``_PATHS_PER_CALL`` per
    py4j call instead of several calls per file. A py4j answer longer than
    8 KB stalls ~40 ms on loopback (the JVM writes it in 8 KB pieces and
    the second waits for a delayed ACK); 16 staged paths stay under that,
    and a longer answer is only slower."""
    if statuses is None:
        return []
    jvm = spark._jvm
    paths = getattr(jvm, "scala.collection.immutable.ArraySeq").unsafeWrapArray(
        getattr(jvm, "org.apache.hadoop.fs.FileUtil").stat2Paths(statuses)
    )
    out: list[str] = []
    for i in range(0, paths.length(), _PATHS_PER_CALL):
        out += paths.slice(i, i + _PATHS_PER_CALL).mkString("\n").split("\n")
    return out


def _publish(spark: SparkSession, base_path: str, depth: int) -> None:
    """Rename every staged ``<dirs>/file_name=<name>/part-*`` (``depth``
    partition-directory levels under ``base_path``'s staging root) to
    ``base_path/<dirs>/<name>``, then drop the staging root.

    Files from different writes in one ``file_name=`` directory are
    replayed copies of one offset range: one is published. Several files
    from one write are a split chunk: raise before renaming anything."""
    staging = f"{base_path}/{STAGING}"
    fs, Path = statedir.hadoop_fs(spark, staging)
    pattern = "/".join([staging] + ["*"] * depth + [f"{NAME_DIR}*", "part-*"])
    chunks: dict[str, list[str]] = {}
    for src in _staged_paths(spark, fs.globStatus(Path(pattern))):
        name_dir, _, part = src.rpartition("/")
        chunks.setdefault(name_dir, []).append(part)
    for name_dir, parts in chunks.items():
        split = max(Counter(map(_write_id, parts)).values())
        if split > 1:
            raise RuntimeError(
                f"chunk {name_dir} was split into {split} files by one "
                "write; expected 1 (maxRecordsPerFile below flush.size?)"
            )
    made: set[str] = set()
    for name_dir, parts in chunks.items():
        *dirs, name = name_dir.split("/")[-(depth + 1):]
        parent = "/".join([base_path, *dirs])
        if parent not in made:
            fs.mkdirs(Path(parent))
            made.add(parent)
        target = Path(f"{parent}/{unquote(name[len(NAME_DIR):])}")
        if not fs.exists(target):  # replay: identical content already committed
            fs.rename(Path(f"{name_dir}/{parts[0]}"), target)
    fs.delete(Path(staging), True)


def read_committed(spark: SparkSession, cfg: HdfsSinkConfig, topic: str) -> DataFrame:
    """Read back only contract-named committed files (the reference's
    CommittedFileFilter semantics, filter/CommittedFileFilterTest.java)."""
    sink = build_sink(cfg)
    path = f"{cfg.topics_path}/{topic}"
    return (
        spark.read.format(sink.format)
        .option("pathGlobFilter", f"*+*+*+*{sink.extension}")
        .option("recursiveFileLookup", "false")
        .load(path)
    )


def parse_committed_filename(name_col: F.Column) -> list[F.Column]:
    """Decode ``topic+partition+start+end.ext`` back into columns
    (CommittedFileFilter regex, HdfsSinkConnectorConstants.java:25-27) —
    the read side of offset recovery."""
    rx = r"^(.+)\+(\d+)\+(\d+)\+(\d+)\.[a-z]+$"
    return [
        F.regexp_extract(name_col, rx, 1).alias("topic"),
        F.regexp_extract(name_col, rx, 2).cast("int").alias("partition"),
        F.regexp_extract(name_col, rx, 3).cast("bigint").alias("start_offset"),
        F.regexp_extract(name_col, rx, 4).cast("bigint").alias("end_offset"),
    ]
