"""On-disk offset-encoded filename contract — the reference's committed-file
verification pattern (TestWithMiniDFSCluster.verify :266-359: list files,
compare names to expected offset ranges, read back, compare records)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from kafka_connect_hdfs_spark.config import HdfsSinkConfig
from kafka_connect_hdfs_spark.contract_names import (
    land_with_contract_names,
    parse_committed_filename,
    read_committed,
)
from kafka_connect_hdfs_spark.sources import events_as_kafka_records


@pytest.fixture()
def records(spark, sf_dir):
    from kafka_connect_hdfs_spark.session import load_table

    return events_as_kafka_records(load_table(spark, sf_dir, "events"))


def test_contract_names_on_disk(spark, records, tmp_path):
    cfg = HdfsSinkConfig(
        url=f"file://{tmp_path}", format="parquet", flush_size=100,
        partitioner="default",
    )
    res = land_with_contract_names(spark, records, cfg, topic="events", ts_col="ts")
    expected = {
        (r["encodedPartition"], r["file_name"]) for r in res.manifest.collect()
    }
    on_disk = set()
    for p in glob.glob(f"{tmp_path}/topics/events/partition=*/*.parquet"):
        on_disk.add((os.path.basename(os.path.dirname(p)), os.path.basename(p)))
    assert on_disk == expected
    # no stray chunk dirs or part files
    assert not glob.glob(f"{tmp_path}/topics/events/partition=*/chunk=*")
    assert not glob.glob(f"{tmp_path}/topics/events/partition=*/part-*")

    # read-back: committed records only, contents match the manifest ranges
    back = read_committed(spark, cfg, "events")
    assert back.count() == sum(r["record_count"] for r in res.manifest.collect())

    # every filename parses back to its offset range
    files = spark.createDataFrame(
        [(f,) for _, f in on_disk], "file_name string"
    ).select(*parse_committed_filename(F.col("file_name")))
    parsed = {(r.partition, r.start_offset, r.end_offset) for r in files.collect()}
    want = {
        (r["partition"], r["start_offset"], r["end_offset"])
        for r in res.manifest.collect()
    }
    assert parsed == want


def test_streaming_with_contract_names(spark, records, tmp_path, sf_dir):
    """Full streaming path with offset-encoded filenames — every landed file
    matches the reference pattern and offsets are exactly-once."""
    from kafka_connect_hdfs_spark.session import load_table
    from kafka_connect_hdfs_spark.streaming.pipeline import (
        file_replay_source, start_ingest,
    )

    events = load_table(spark, sf_dir, "events")
    src_dir = f"{tmp_path}/src"
    events.repartition(3).write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    cfg = HdfsSinkConfig(
        url=f"file://{tmp_path}/landed", format="parquet", flush_size=100
    )
    stream = file_replay_source(spark, src_dir, schema, max_files_per_trigger=1)
    q = start_ingest(
        spark, stream, cfg, topic="events", checkpoint_dir=f"{tmp_path}/chk",
        ts_col="ts", transform=lambda df: events_as_kafka_records(df),
        use_contract_names=True,
    )
    q.awaitTermination(120)
    files = glob.glob(f"{tmp_path}/landed/topics/events/partition=*/*.parquet")
    assert files
    import re

    rx = re.compile(r"^events\+\d+\+\d{10}\+\d{10}\.parquet$")
    assert all(rx.match(os.path.basename(f)) for f in files), files[:3]
    back = read_committed(spark, cfg, "events")
    assert back.count() == events.count()
    assert back.select("offset").distinct().count() == events.count()


def test_contract_names_replay_idempotent(spark, records, tmp_path):
    """Re-landing the same batch must not duplicate or rename-clash —
    the idempotent-redo property of WAL recovery (FSWAL.apply,
    wal/FSWAL.java:100-135)."""
    cfg = HdfsSinkConfig(
        url=f"file://{tmp_path}", format="parquet", flush_size=100,
    )
    land_with_contract_names(spark, records, cfg, topic="events", ts_col="ts")
    first = sorted(glob.glob(f"{tmp_path}/topics/events/partition=*/*.parquet"))
    n_first = read_committed(spark, cfg, "events").count()
    land_with_contract_names(spark, records, cfg, topic="events", ts_col="ts")
    second = sorted(glob.glob(f"{tmp_path}/topics/events/partition=*/*.parquet"))
    assert first == second
    assert read_committed(spark, cfg, "events").count() == n_first


def _landed_offsets(spark, cfg):
    from kafka_connect_hdfs_spark.sinks import build_sink

    if cfg.format == "avro":
        back = build_sink(cfg).read(spark, f"{cfg.topics_path}/events")
    else:
        back = read_committed(spark, cfg, "events")
    return [(int(r["partition"]), r["offset"]) for r in back.select("partition", "offset").collect()]


class _RenameKilledFS:
    """A Hadoop FileSystem proxy whose ``kill_at``-th rename raises: a
    process that dies part-way through the publish."""

    def __init__(self, fs, kill_at):
        self._fs, self._left = fs, kill_at

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def rename(self, src, dst):
        self._left -= 1
        if self._left == 0:
            raise RuntimeError("killed during publish")
        return self._fs.rename(src, dst)


@pytest.mark.parametrize("fmt", ["avro", "parquet"])
def test_replay_after_crash_during_publish_converges(spark, records, tmp_path, monkeypatch, fmt):
    """A crash part-way through the publish leaves complete ``part-*``
    files in the staging root; the replayed batch adds its own copy beside
    each, and its publish must keep exactly one per range — landed
    (partition, offset) == source, nothing staged left. The crash goes
    through the ``statedir.hadoop_fs`` fault-injection seam."""
    from kafka_connect_hdfs_spark import statedir

    src = records.drop("props")
    cfg = HdfsSinkConfig(url=f"file://{tmp_path}", format=fmt, flush_size=100)
    hadoop_fs = statedir.hadoop_fs

    def crashing_fs(spark_, path):
        monkeypatch.setattr(statedir, "hadoop_fs", hadoop_fs)
        fs, Path = hadoop_fs(spark_, path)
        return _RenameKilledFS(fs, kill_at=3), Path

    monkeypatch.setattr(statedir, "hadoop_fs", crashing_fs)
    with pytest.raises(RuntimeError, match="killed during publish"):
        land_with_contract_names(spark, src, cfg, topic="events", discard_partial=False)
    topic_dir = f"{tmp_path}/topics/events"
    assert len(glob.glob(f"{topic_dir}/partition=*/events+*")) == 2
    assert glob.glob(f"{topic_dir}/_contract_staging/partition=*/file_name=*/part-*")

    land_with_contract_names(spark, src, cfg, topic="events", discard_partial=False)
    landed = _landed_offsets(spark, cfg)
    want = [(r["partition"], r["offset"]) for r in src.select("partition", "offset").collect()]
    assert len(landed) == len(want)
    assert set(landed) == set(want)
    assert not os.path.exists(f"{topic_dir}/_contract_staging")
    assert not glob.glob(f"{topic_dir}/**/file_name=*", recursive=True)


def test_split_chunk_raises(spark, records, tmp_path):
    """A chunk written as several files by ONE write (maxRecordsPerFile
    below flush.size) is not a replayed copy: the publish raises before
    renaming anything rather than drop committed records."""
    cfg = HdfsSinkConfig(url=f"file://{tmp_path}", format="parquet", flush_size=100)
    key = "spark.sql.files.maxRecordsPerFile"
    prev = spark.conf.get(key)
    spark.conf.set(key, "30")
    try:
        with pytest.raises(RuntimeError, match=r"split into \d files by one write"):
            land_with_contract_names(
                spark, records.drop("props"), cfg, topic="events", discard_partial=False
            )
    finally:
        spark.conf.set(key, prev)
    assert not glob.glob(f"{tmp_path}/topics/events/partition=*/events+*")


@pytest.mark.parametrize("fmt,jobs", [("avro", 3), ("parquet", 2)])
def test_contract_land_job_count(spark, records, tmp_path, monkeypatch, fmt, jobs):
    """One contract-named batch is one pass: the chunk window's shuffle,
    the write (the Avro fallback adds its partition-dir repartition), and
    no job that re-runs the assignment to collect a manifest."""
    from kafka_connect_hdfs_spark.sinks import jvm_avro_available

    if fmt == "avro" and jvm_avro_available(spark):
        pytest.skip("JVM avro datasource present: the Parquet-like path runs")
    sc = spark._jsc.sc()

    def last_job():
        sc.listenerBus().waitUntilEmpty()
        listed = sc.statusStore().jobsList(None)
        return listed.apply(0).jobId() if listed.size() else -1

    collected = []
    frame_cls = type(records)  # the concrete (classic) DataFrame class
    collect = frame_cls.collect
    monkeypatch.setattr(
        frame_cls, "collect", lambda self: collected.append(self) or collect(self)
    )
    cfg = HdfsSinkConfig(url=f"file://{tmp_path}", format=fmt, flush_size=100)
    before = last_job()
    res = land_with_contract_names(
        spark, records.drop("props"), cfg, topic="events", discard_partial=False
    )
    assert last_job() - before == jobs
    # no manifest collect: only the Avro writer's per-task count rows come
    # back to the driver
    assert len(collected) == (1 if fmt == "avro" else 0)
    assert res.manifest.count() == len(
        glob.glob(f"{tmp_path}/topics/events/partition=*/events+*")
    )
