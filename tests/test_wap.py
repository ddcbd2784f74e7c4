"""Write-Audit-Publish: failed audits never touch the live table; passing
audits swap atomically; audits see the staged FILES, not the input frame."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_connect_hdfs_spark.session import load_table
from kafka_connect_hdfs_spark.wap import write_audit_publish


def test_wap_publishes_only_on_passing_audit(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").limit(500)
    path = f"{tmp_path}/t"

    # first publish: audit passes
    res = write_audit_publish(
        spark, ev, path,
        checks=[
            ("nonempty", lambda d: d.count() > 0),
            ("no_null_ids", lambda d: d.filter(F.col("event_id").isNull()).count() == 0),
        ],
    )
    assert res["published"] and all(res["checks"].values())
    v1 = spark.read.parquet(path).count()
    assert v1 == 500

    # second batch fails its audit -> live table stays at v1
    bad = ev.withColumn("event_id", F.lit(None).cast("long")).limit(10)
    res2 = write_audit_publish(
        spark, bad, path,
        checks=[("no_null_ids",
                 lambda d: d.filter(F.col("event_id").isNull()).count() == 0)],
    )
    assert not res2["published"] and res2["checks"]["no_null_ids"] is False
    assert spark.read.parquet(path).count() == v1
    # staging kept for inspection
    assert spark.read.parquet(res2["staging"]).count() == 10

    # a passing replacement publishes over v1
    res3 = write_audit_publish(
        spark, ev.limit(100), path, checks=[("nonempty", lambda d: d.count() > 0)]
    )
    assert res3["published"]
    assert spark.read.parquet(path).count() == 100


def test_wap_audit_runs_on_staged_files(spark, sf_dir, tmp_path):
    """The audit must see the landed representation (here: partitioned
    layout), proving it runs on the read-back, not the input frame."""
    ev = load_table(spark, sf_dir, "events").limit(200)
    seen = {}

    def capture(d):
        seen["cols"] = set(d.columns)
        seen["files"] = d.select(F.input_file_name()).distinct().count()
        return True

    res = write_audit_publish(
        spark, ev, f"{tmp_path}/p",
        checks=[("capture", capture)], partition_by=["event_type"],
    )
    assert res["published"]
    assert seen["cols"] == set(ev.columns)
    assert seen["files"] >= 1  # real files on disk were read


def test_wap_failed_publish_rename_keeps_live_table(spark, tmp_path, monkeypatch):
    """A publish rename that returns False (rather than raising) must
    restore the old table and raise — never fall through to deleting
    the backup, which is the old table's only copy at that point."""
    import pytest

    from kafka_connect_hdfs_spark import statedir

    path = f"{tmp_path}/t"
    spark.createDataFrame([(1, "old")], "k long, tag string").write.parquet(path)
    real = statedir.hadoop_fs

    class _StageRenameFails:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def rename(self, src, dst):
            if src.getName().endswith("__wap_stage"):
                return False
            return self._fs.rename(src, dst)

    def failing_fs(spark_, p):
        fs, Path = real(spark_, p)
        return _StageRenameFails(fs), Path

    monkeypatch.setattr(statedir, "hadoop_fs", failing_fs)
    new = spark.createDataFrame([(2, "new")], "k long, tag string")
    with pytest.raises(IOError, match="publish rename failed"):
        write_audit_publish(
            spark, new, path, checks=[("nonempty", lambda d: d.count() > 0)]
        )
    monkeypatch.undo()
    assert [tuple(r) for r in spark.read.parquet(path).collect()] == [(1, "old")]
