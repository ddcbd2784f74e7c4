"""Catalog registration per batch (H3) and on start or evolution (H4):
``land(register_table=True)`` keeps its table and adds only the partitions
the batch wrote; the full sync runs when the table is missing or the
writer schema changed."""

from __future__ import annotations

import datetime
import os
import time

from kafka_connect_hdfs_spark.config import HdfsSinkConfig
from kafka_connect_hdfs_spark.pipeline import (
    land, register_external_table, table_name_for_topic,
)

BASE = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)


def _records(spark, n, start=0, hours=6, keys=None, extra=False):
    """``n`` Kafka-envelope records from offset ``start``, one per 7
    minutes from ``BASE`` (wrapping every ``hours`` hours), keyed by
    ``keys`` in turn."""
    keys = keys or ["a"]
    rows = []
    for i in range(start, start + n):
        ts = BASE + datetime.timedelta(minutes=(7 * i) % (60 * hours))
        row = (0, i, ts, keys[i % len(keys)], i * 10)
        rows.append(row + ((f"x{i}",) if extra else ()))
    ddl = "partition int, offset long, ts timestamp, k string, v long"
    return spark.createDataFrame(rows, ddl + (", extra string" if extra else ""))


def _hour_dirs(root):
    return sorted(
        os.path.relpath(d, root) for d, subdirs, _ in os.walk(root)
        if not subdirs and os.path.basename(d).startswith("hour=")
    )


def _partitions(spark, table):
    return [r[0] for r in spark.sql(f"SHOW PARTITIONS {table}").collect()]


def _created(spark, table):
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    return next(r.data_type for r in rows if r.col_name == "Created Time")


def _hourly(tmp_path):
    return HdfsSinkConfig(
        url=f"file://{tmp_path}", format="parquet", flush_size=10, partitioner="hourly"
    )


def test_second_land_adds_partitions_in_one_job(spark, tmp_path, monkeypatch, last_job):
    """Steady state: the second batch runs one Spark job (its write) and
    no DROP, CREATE, MSCK or schema inference; the table keeps its
    creation time and sees both batches."""
    cfg = _hourly(tmp_path)
    table = table_name_for_topic(cfg, "reg_steady")
    first, second = _records(spark, 40), _records(spark, 40, start=40, hours=9)
    land(spark, first, cfg, "reg_steady", discard_partial=False, register_table=True)
    created = _created(spark, table)
    time.sleep(1.1)  # Created Time has one-second resolution

    statements = []
    sql = type(spark).sql
    monkeypatch.setattr(
        type(spark), "sql", lambda self, q, *a, **k: statements.append(q) or sql(self, q, *a, **k)
    )
    before = last_job()
    land(spark, second, cfg, "reg_steady", discard_partial=False, register_table=True)
    assert last_job() - before == 1
    monkeypatch.undo()

    assert not [q for q in statements if q.split()[0].upper() in ("DROP", "CREATE", "MSCK")]
    assert _created(spark, table) == created
    assert spark.sql(f"SELECT count(*) FROM {table}").first()[0] == 80
    dirs = _hour_dirs(f"{tmp_path}/topics/reg_steady")
    assert len(_partitions(spark, table)) == len(dirs) == 9


def test_hourly_relanded_hours_one_entry_per_directory(spark, tmp_path):
    """The same hours landed again: ``ADD IF NOT EXISTS`` finds the typed
    entry (``month=1`` for directory ``month=01``), so each directory has
    one catalog entry and every row is counted once."""
    cfg = _hourly(tmp_path)
    table = table_name_for_topic(cfg, "reg_twice")
    batch = _records(spark, 30)
    for _ in range(3):
        land(spark, batch, cfg, "reg_twice", discard_partial=False, register_table=True)
    parts = _partitions(spark, table)
    assert len(parts) == len(set(parts)) == len(_hour_dirs(f"{tmp_path}/topics/reg_twice"))
    assert all("month=1/" in p for p in parts)
    assert spark.sql(f"SELECT count(*) FROM {table}").first()[0] == 90
    assert spark.sql(
        f"SELECT count(*) FROM {table} WHERE year = 2024 AND month = 1 AND day = 1 AND hour = 0"
    ).first()[0] == 3 * batch.where("hour(ts) = 0").count()


def test_msck_registered_table_converges(spark, tmp_path):
    """A table registered by MSCK (raw specs such as ``month=01``, no sync
    digest) gets one full sync, after which it holds one typed entry per
    directory and the steady path adds no duplicates."""
    cfg = _hourly(tmp_path)
    topic = "reg_msck"
    table = table_name_for_topic(cfg, topic)
    path = f"{cfg.topics_path}/{topic}"
    batch = _records(spark, 30)
    land(spark, batch, cfg, topic, discard_partial=False)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} (`partition` int, `offset` bigint, ts timestamp, k string, "
        "v bigint, year int, month int, day int, hour int) USING PARQUET "
        f"PARTITIONED BY (year, month, day, hour) LOCATION '{path}'"
    )
    spark.sql(f"MSCK REPAIR TABLE {table}")
    assert any("month=01" in p for p in _partitions(spark, table))

    for _ in range(2):  # the full sync, then the steady path
        land(spark, batch, cfg, topic, discard_partial=False, register_table=True)
        parts = _partitions(spark, table)
        assert len(parts) == len(set(parts)) == len(_hour_dirs(f"{tmp_path}/topics/{topic}"))
        assert not any("month=01" in p for p in parts)
    assert spark.sql(f"SELECT count(*) FROM {table}").first()[0] == 90


def test_special_and_null_partition_values_register(spark, tmp_path):
    """Values Spark escapes in directory names, and null or empty values
    (``__HIVE_DEFAULT_PARTITION__``), are registered by the full sync and
    by the steady path, and read back per value."""
    cfg = HdfsSinkConfig(
        url=f"file://{tmp_path}", format="parquet", flush_size=10,
        partitioner="field", partition_fields=["k"],
    )
    table = table_name_for_topic(cfg, "reg_special")
    first = _records(spark, 12, keys=["a/b", "it's", "x y"])
    second = _records(spark, 12, start=12, keys=["100%", "k=v", "", None, "a/b"])
    expected = {}
    for batch in (first, second):
        land(spark, batch, cfg, "reg_special", discard_partial=False, register_table=True)
        for r in batch.collect():
            key = r.k or None  # an empty string lands in the default partition
            expected[key] = expected.get(key, 0) + 1
        got = {
            r.k: r.n
            for r in spark.sql(f"SELECT k, count(*) AS n FROM {table} GROUP BY k").collect()
        }
        assert got == expected
    assert len(_partitions(spark, table)) == len(expected)


def test_new_column_resyncs_table(spark, tmp_path):
    """A batch whose writer schema gained a column runs the full sync,
    and the new column becomes visible."""
    cfg = _hourly(tmp_path)
    table = table_name_for_topic(cfg, "reg_evolve")
    land(spark, _records(spark, 20), cfg, "reg_evolve", discard_partial=False,
         register_table=True)
    land(spark, _records(spark, 20, start=20, extra=True), cfg, "reg_evolve",
         discard_partial=False, register_table=True)
    assert "extra" in spark.table(table).columns
    assert spark.sql(f"SELECT count(extra), count(*) FROM {table}").first() == (20, 40)


def test_uncastable_partition_value_resyncs_table(spark, tmp_path):
    """Partition types are inferred at the full sync (``k`` as int for
    directories ``k=1``, ``k=2``); a later value that does not cast runs
    the full sync again, which re-infers ``k`` as string."""
    cfg = HdfsSinkConfig(
        url=f"file://{tmp_path}", format="parquet", flush_size=10,
        partitioner="field", partition_fields=["k"],
    )
    table = table_name_for_topic(cfg, "reg_retype")
    land(spark, _records(spark, 10, keys=["1", "2"]), cfg, "reg_retype",
         discard_partial=False, register_table=True)
    assert dict(spark.table(table).dtypes)["k"] == "int"
    land(spark, _records(spark, 10, start=10, keys=["x"]), cfg, "reg_retype",
         discard_partial=False, register_table=True)
    assert dict(spark.table(table).dtypes)["k"] == "string"
    got = dict(spark.sql(f"SELECT k, count(*) FROM {table} GROUP BY k").collect())
    assert got == {"1": 5, "2": 5, "x": 10}


def test_empty_batch_keeps_table(spark, tmp_path, last_job):
    """An empty batch registers nothing and leaves the table as it was."""
    cfg = _hourly(tmp_path)
    table = table_name_for_topic(cfg, "reg_empty")
    batch = _records(spark, 20)
    land(spark, batch, cfg, "reg_empty", discard_partial=False, register_table=True)
    parts = _partitions(spark, table)
    before = last_job()
    land(spark, batch.limit(0), cfg, "reg_empty", discard_partial=False, register_table=True)
    assert last_job() - before == 1
    assert _partitions(spark, table) == parts
    assert spark.sql(f"SELECT count(*) FROM {table}").first()[0] == 20


def test_empty_first_batch_creates_table(spark, tmp_path):
    """A topic's first batch is empty: no data file exists to infer from,
    so the table takes the batch's schema; the next batch with data fully
    syncs and is read whole."""
    cfg = _hourly(tmp_path)
    topic = "reg_empty_first"
    table = table_name_for_topic(cfg, topic)
    batch = _records(spark, 30)
    land(spark, batch.limit(0), cfg, topic, discard_partial=False, register_table=True)
    assert spark.sql(f"SELECT count(*) FROM {table}").first()[0] == 0
    land(spark, batch, cfg, topic, discard_partial=False, register_table=True)
    assert spark.sql(f"SELECT count(*) FROM {table}").first()[0] == 30
    assert len(_partitions(spark, table)) == len(_hour_dirs(f"{tmp_path}/topics/{topic}"))
    assert dict(spark.table(table).dtypes)["month"] == "int"


def test_register_without_batch_runs_full_sync(spark, tmp_path):
    """A direct call (no ``batch``) is the H4 sync: it drops a stale
    catalog entry set and registers exactly the directories on disk."""
    cfg = _hourly(tmp_path)
    topic = "reg_direct"
    table = table_name_for_topic(cfg, topic)
    land(spark, _records(spark, 30), cfg, topic, discard_partial=False, register_table=True)
    register_external_table(
        spark, cfg, topic, ["year", "month", "day", "hour"], f"{cfg.topics_path}/{topic}"
    )
    assert len(_partitions(spark, table)) == len(_hour_dirs(f"{tmp_path}/topics/{topic}"))
    assert spark.sql(f"SELECT count(*) FROM {table}").first()[0] == 30


def test_register_unpartitioned_table(spark, tmp_path):
    """No partition columns: the steady path only refreshes the table, so
    files added by a later batch are read."""
    from kafka_connect_hdfs_spark.pipeline import BatchWrite

    cfg = HdfsSinkConfig(url=f"file://{tmp_path}", format="parquet")
    path = f"{cfg.topics_path}/reg_flat"
    table = table_name_for_topic(cfg, "reg_flat")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    df.write.parquet(path)
    register_external_table(spark, cfg, "reg_flat", [], path, batch=BatchWrite(df.schema, []))
    assert spark.table(table).count() == 2
    df.write.mode("append").parquet(path)
    register_external_table(spark, cfg, "reg_flat", [], path, batch=BatchWrite(df.schema, []))
    assert spark.table(table).count() == 4


def test_relanded_hours_visible_without_second_refresh(spark, tmp_path, monkeypatch):
    """A batch that writes only into hours already registered is read in
    full by the next query. Its ``ALTER TABLE ... ADD IF NOT EXISTS``
    refreshes the table (Spark's ``AlterTableAddPartitionCommand`` does so
    even when every partition exists), so the steady path makes no
    ``refreshTable`` call of its own."""
    cfg = _hourly(tmp_path)
    table = table_name_for_topic(cfg, "reg_rehour")
    land(spark, _records(spark, 60), cfg, "reg_rehour", discard_partial=False,
         register_table=True)  # all six hours
    assert spark.sql(f"SELECT count(*) FROM {table}").first()[0] == 60
    parts = _partitions(spark, table)

    refreshes = []
    catalog = type(spark.catalog)
    refresh = catalog.refreshTable
    monkeypatch.setattr(
        catalog, "refreshTable", lambda self, t: refreshes.append(t) or refresh(self, t)
    )
    land(spark, _records(spark, 30, start=60), cfg, "reg_rehour", discard_partial=False,
         register_table=True)
    monkeypatch.undo()
    assert refreshes == []
    assert _partitions(spark, table) == parts
    assert spark.sql(f"SELECT count(*) FROM {table}").first()[0] == 90


def _listing_jobs(spark, after: int) -> list:
    """Task counts of the ``Listing leaf files ...`` jobs (Spark's parallel
    partition discovery) newer than job id ``after``, from the status store."""
    sc = spark._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)  # newest first
    tasks = []
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobId() <= after:
            break
        desc = job.description()
        if desc.isDefined() and desc.get().startswith("Listing leaf files"):
            tasks.append(job.numTasks())
    return tasks


def test_catalog_scan_lists_partitions_on_driver(spark, tmp_path, last_job):
    """A table of 40 hour partitions (over Spark's default 32-directory
    threshold, under the session's) is listed on the driver after each
    land's refresh: the land and the full scan after it run no listing job."""
    cfg = _hourly(tmp_path)
    table = table_name_for_topic(cfg, "reg_listing")
    land(spark, _records(spark, 7 * 49, hours=40), cfg, "reg_listing",
         discard_partial=False, register_table=True)
    assert len(_partitions(spark, table)) == 40
    before = last_job()
    land(spark, _records(spark, 40, start=7 * 49, hours=40), cfg, "reg_listing",
         discard_partial=False, register_table=True)
    assert spark.sql(f"SELECT count(*) FROM {table}").first()[0] == 7 * 49 + 40
    assert _listing_jobs(spark, before) == []


def test_listing_job_runs_one_wave_of_cores(spark, tmp_path, last_job):
    """Past the driver-listing threshold the listing job has one task per
    core (``get_spark``'s ``local[N]``, the default parallelism), not one
    per directory."""
    from pyspark.sql import functions as F

    threshold = int(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold"))
    path = str(tmp_path / "wide")
    n = threshold + 8
    spark.range(n).withColumn("p", F.col("id")).write.partitionBy("p").parquet(path)
    before = last_job()
    assert spark.read.parquet(path).count() == n
    tasks = _listing_jobs(spark, before)
    assert len(tasks) == 1 and tasks[0] <= spark.sparkContext.defaultParallelism
