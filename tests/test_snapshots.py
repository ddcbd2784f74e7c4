"""Snapshot-log time travel: versioned commits, append as metadata
union, historical reads, expiry, and invisibility of unmanifested data."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafka_connect_hdfs_spark.snapshots import (
    commit_snapshot,
    expire_snapshots,
    list_snapshots,
    read_snapshot,
)


@pytest.fixture()
def table_path(tmp_path):
    return str(tmp_path / "t")


def test_commit_read_and_append_union(spark, table_path):
    a = spark.range(0, 5).withColumn("tag", F.lit("a"))
    b = spark.range(5, 8).withColumn("tag", F.lit("b"))
    v1 = commit_snapshot(spark, a, table_path)
    v2 = commit_snapshot(spark, b, table_path, mode="append")
    assert (v1, v2) == (1, 2)
    assert list_snapshots(spark, table_path) == [1, 2]
    assert read_snapshot(spark, table_path, 1).count() == 5
    got = read_snapshot(spark, table_path, 2)
    assert got.count() == 8
    assert read_snapshot(spark, table_path).count() == 8  # latest
    assert {r["tag"] for r in got.select("tag").distinct().collect()} == {
        "a",
        "b",
    }


def test_overwrite_version_hides_old_rows_but_keeps_history(spark, table_path):
    commit_snapshot(spark, spark.range(10), table_path)
    commit_snapshot(spark, spark.range(3), table_path, mode="overwrite")
    assert read_snapshot(spark, table_path).count() == 3
    assert read_snapshot(spark, table_path, 1).count() == 10


def test_unmanifested_data_is_invisible(spark, table_path):
    commit_snapshot(spark, spark.range(4), table_path)
    # simulate a crashed commit: data landed, manifest never renamed in
    spark.range(100).write.parquet(table_path + "/data/v99")
    assert list_snapshots(spark, table_path) == [1]
    assert read_snapshot(spark, table_path).count() == 4


def test_expire_keeps_shared_append_files(spark, table_path):
    commit_snapshot(spark, spark.range(0, 5), table_path)
    commit_snapshot(spark, spark.range(5, 8), table_path, mode="append")
    expired = expire_snapshots(spark, table_path, keep_last=1)
    assert expired == [1]
    assert list_snapshots(spark, table_path) == [2]
    # v2 references v1's data dir — expiry must NOT delete shared files
    assert read_snapshot(spark, table_path, 2).count() == 8
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, table_path, 1)


def test_expire_deletes_orphaned_overwrite_data(spark, table_path):
    commit_snapshot(spark, spark.range(10), table_path)
    commit_snapshot(spark, spark.range(3), table_path, mode="overwrite")
    expire_snapshots(spark, table_path, keep_last=1)
    assert not os.path.exists(table_path + "/data/v1")
    assert read_snapshot(spark, table_path).count() == 3


def test_schema_merge_across_versions(spark, table_path):
    commit_snapshot(spark, spark.range(3).select("id"), table_path)
    commit_snapshot(
        spark,
        spark.range(3, 5).select("id", (F.col("id") * 10).alias("extra")),
        table_path,
        mode="append",
    )
    merged = read_snapshot(
        spark, table_path, options={"mergeSchema": "true"}
    )
    assert set(merged.columns) == {"id", "extra"}
    rows = {r["id"]: r["extra"] for r in merged.collect()}
    assert rows == {0: None, 1: None, 2: None, 3: 30, 4: 40}


def test_bad_mode_and_missing_version(spark, table_path):
    with pytest.raises(ValueError):
        commit_snapshot(spark, spark.range(1), table_path, mode="merge")
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, table_path)
    commit_snapshot(spark, spark.range(1), table_path)
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, table_path, 7)


def test_rollback_is_metadata_only_and_expirable(spark, table_path):
    from kafka_connect_hdfs_spark.snapshots import rollback_snapshot

    commit_snapshot(spark, spark.range(10), table_path)
    commit_snapshot(spark, spark.range(3), table_path, mode="overwrite")
    v3 = rollback_snapshot(spark, table_path, 1)
    assert v3 == 3
    assert read_snapshot(spark, table_path).count() == 10   # latest = v1 files
    assert read_snapshot(spark, table_path, 2).count() == 3  # history intact
    # expiring down to the rollback version must keep v1's data files
    # (still referenced by v3) while dropping v2's orphaned dir
    expire_snapshots(spark, table_path, keep_last=1)
    assert list_snapshots(spark, table_path) == [3]
    assert read_snapshot(spark, table_path).count() == 10
    assert not os.path.exists(table_path + "/data/v2")


def test_rollback_to_missing_version_raises(spark, table_path):
    from kafka_connect_hdfs_spark.snapshots import rollback_snapshot

    commit_snapshot(spark, spark.range(1), table_path)
    with pytest.raises(FileNotFoundError):
        rollback_snapshot(spark, table_path, 9)


def test_tag_snapshot_refs_and_expiry_interaction(spark, tmp_path):
    import pytest as _pytest

    from kafka_connect_hdfs_spark.snapshots import (
        commit_snapshot, expire_snapshots, list_tags, read_tag,
        tag_snapshot,
    )

    path = str(tmp_path / "t")
    df1 = spark.createDataFrame([(1,), (2,)], "x int")
    df2 = spark.createDataFrame([(3,)], "x int")
    v1 = commit_snapshot(spark, df1, path)
    v2 = commit_snapshot(spark, df2, path, mode="append")
    tag_snapshot(spark, path, "baseline", v1)
    tag_snapshot(spark, path, "latest")  # defaults to newest
    assert list_tags(spark, path) == {"baseline": v1, "latest": v2}
    assert sorted(r["x"] for r in read_tag(spark, path, "baseline").collect()) == [1, 2]
    assert sorted(r["x"] for r in read_tag(spark, path, "latest").collect()) == [1, 2, 3]
    # moving a ref replaces it atomically
    tag_snapshot(spark, path, "baseline", v2)
    assert list_tags(spark, path)["baseline"] == v2
    # invalid names and missing versions fail loudly
    with _pytest.raises(ValueError):
        tag_snapshot(spark, path, "bad/name")
    with _pytest.raises(FileNotFoundError):
        tag_snapshot(spark, path, "ghost", 99)
    with _pytest.raises(FileNotFoundError):
        read_tag(spark, path, "nope")
    # expiry PROTECTS tagged versions (Iceberg ref semantics): the
    # pinned version survives keep_last=1 and keeps resolving
    tag_snapshot(spark, path, "pinned_old", v1)
    expired = expire_snapshots(spark, path, keep_last=1)
    assert v1 not in expired
    assert sorted(
        r["x"] for r in read_tag(spark, path, "pinned_old").collect()
    ) == [1, 2]
    # dropping the tag releases the version on the next expiry
    from kafka_connect_hdfs_spark.statedir import hadoop_fs as _snap_fs

    fs, Path = _snap_fs(spark, path)
    fs.delete(Path(path + "/_tags/pinned_old.json"), False)
    assert v1 in expire_snapshots(spark, path, keep_last=1)


def test_snapshot_diff_membership(spark, tmp_path):
    from kafka_connect_hdfs_spark.snapshots import (
        commit_snapshot, snapshot_diff,
    )

    path = str(tmp_path / "t")
    v1 = commit_snapshot(
        spark,
        spark.createDataFrame([(i,) for i in range(10) if i % 4], "k int"),
        path,
    )
    v2 = commit_snapshot(
        spark,
        spark.createDataFrame([(i,) for i in range(10) if i % 3], "k int"),
        path,
    )
    got = sorted(
        (r["k"], r["change"])
        for r in snapshot_diff(spark, path, v1, v2, "k").collect()
    )
    assert got == [
        (3, "removed"), (4, "added"), (6, "removed"),
        (8, "added"), (9, "removed"),
    ]
    # reverse direction flips the labels
    rev = sorted(
        (r["k"], r["change"])
        for r in snapshot_diff(spark, path, v2, v1, "k").collect()
    )
    assert rev == [
        (3, "added"), (4, "removed"), (6, "added"),
        (8, "removed"), (9, "added"),
    ]
