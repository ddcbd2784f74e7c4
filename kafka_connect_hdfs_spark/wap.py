"""Write-Audit-Publish (WAP): land data invisibly, audit the LANDED files,
and only then swap them live — the pattern lakehouse teams use so a bad
batch can never be read by consumers (Iceberg's branch-based WAP, Delta's
staging-table variant; the reference has no equivalent — its commits are
visible immediately).

Composes this repo's existing pieces: any sink format for the stage write,
the quality/integrity operators (or any ``DataFrame -> bool`` predicate)
for the audit, and :func:`statedir.publish_dir` for the atomic publish. A
crash inside the publish leaves the old table in its ``.<leaf>__wap_old``
backup; the next call restores it on entry.

Scale: the audit runs on the staged files exactly as consumers would read
them — write corruption, schema drift, and partial-write truncation are
all caught, not just logical errors in the input frame.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from kafka_connect_hdfs_spark import statedir


def write_audit_publish(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    checks: Sequence[tuple[str, Callable[[DataFrame], bool]]],
    fmt: str = "parquet",
    partition_by: Sequence[str] | None = None,
) -> dict:
    """Stage ``df`` next to ``path``, evaluate every ``(name, check)``
    against the staged read-back, and publish (atomic directory swap) only
    if all pass. On failure the live table is untouched and the staging
    dir is kept for inspection (its path is returned).

    Returns ``{"published": bool, "checks": {name: bool}, "staging": str}``.
    """
    fs, Path = statedir.hadoop_fs(spark, path)
    live = path.rstrip("/")
    parent, leaf = live.rsplit("/", 1)
    staging = f"{parent}/.{leaf}__wap_stage"
    old = f"{parent}/.{leaf}__wap_old"
    statedir.restore_backup(fs, Path, live, old)
    fs.delete(Path(staging), True)

    w = df.write.format(fmt).mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(staging)

    staged = spark.read.format(fmt).load(staging)
    results = {name: bool(check(staged)) for name, check in checks}
    if not all(results.values()):
        return {"published": False, "checks": results, "staging": staging}

    statedir.publish_dir(fs, Path, live, staging, old)
    return {"published": True, "checks": results, "staging": staging}
