from __future__ import annotations

import glob

from pyspark.sql import functions as F

from kafka_connect_hdfs_spark.compaction import compact_partitions
from kafka_connect_hdfs_spark.config import HdfsSinkConfig
from kafka_connect_hdfs_spark.pipeline import land
from kafka_connect_hdfs_spark.sources import events_as_kafka_records


def test_compaction_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    from kafka_connect_hdfs_spark.session import load_table

    records = events_as_kafka_records(load_table(spark, sf_dir, "events"))
    cfg = HdfsSinkConfig(
        url=f"file://{tmp_path}", format="parquet", flush_size=10,
        partitioner="field", partition_fields=["event_type"],
    )
    # small flush + repeated appends -> many small files
    for _ in range(3):
        land(spark, records, cfg, topic="events", ts_col="ts", discard_partial=False)
    base = f"{tmp_path}/topics/events"
    before_files = glob.glob(f"{base}/event_type=*/part-*")
    before_count = spark.read.parquet(base).count()
    assert len(before_files) > 10

    res = compact_partitions(
        spark, f"file://{base}", target_file_bytes=64 * 1024 * 1024
    )
    assert res, "expected at least one directory compacted"
    after_files = glob.glob(f"{base}/event_type=*/*")
    data_files = [f for f in after_files if "/compacted-" in f or "/part-" in f]
    assert len(data_files) < len(before_files)
    # row-for-row identical content
    after = spark.read.parquet(base)
    assert after.count() == before_count
    # per-type counts unchanged
    got = {r["event_type"]: r["n"] for r in
           after.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    want = {r["event_type"]: r["n"] * 3 for r in
            records.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    assert got == want


def test_compaction_idempotent(spark, sf_dir, tmp_path):
    from kafka_connect_hdfs_spark.session import load_table

    records = events_as_kafka_records(load_table(spark, sf_dir, "events"))
    cfg = HdfsSinkConfig(url=f"file://{tmp_path}", format="parquet", flush_size=100)
    land(spark, records, cfg, topic="events", ts_col="ts", discard_partial=False)
    base = f"{tmp_path}/topics/events"
    compact_partitions(spark, f"file://{base}")
    n1 = spark.read.parquet(base).count()
    res2 = compact_partitions(spark, f"file://{base}")
    assert res2 == {}  # nothing left to compact
    assert spark.read.parquet(base).count() == n1


def test_compaction_restores_unpartitioned_root_stranded_at_backup(
    spark, tmp_path
):
    """An unpartitioned table is its own leaf, so a crash between the
    swap's renames strands the WHOLE table beside it; the next call
    restores it on entry and compacts it."""
    import os

    path = f"{tmp_path}/t"
    df = spark.range(20).withColumnRenamed("id", "k")
    for _ in range(2):
        df.repartition(1).write.mode("append").parquet(path)
    os.rename(path, f"{tmp_path}/.t__compact_old")  # the crash window

    res = compact_partitions(spark, path)
    assert res == {"": (2, 1)}
    assert sorted(r["k"] for r in spark.read.parquet(path).collect()) == sorted(
        list(range(20)) * 2
    )
    assert not os.path.exists(f"{tmp_path}/.t__compact_old")
