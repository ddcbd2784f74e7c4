"""Targeted key erasure over landed data (right-to-be-forgotten).

The reference can only append (SURVEY.md §2.4-2.6); deleting one user from
a landed corpus means rewriting it. This operator makes erasure
proportional to the data that actually contains the keys:

  1. locate affected files with one pruned scan (``input_file_name`` +
     pushed-down key filter — compose with a user-clustered layout
     (``operators.layout.zorder_layout`` or a user-bucket partitionBy) and
     the affected set shrinks to a handful of files),
  2. rewrite ONLY the leaf directories holding affected files, minus the
     keys,
  3. swap each rewritten directory in with :func:`statedir.publish_dir`,
     like :mod:`.compaction` — readers see the old file set or the new
     one; a crash leaves the originals in the ``.<leaf>__erase_old``
     sibling, never a half-deleted live dir, and the next call restores
     them on entry before it locates keys.

Directories without a single affected row are never read, written, or
renamed — their files stay byte-identical (same inode, same mtime).
File-granular (sub-directory) erasure needs a transaction log to be
crash-safe (Delta-style tombstones) — out of scope; directory granularity
matches the partitioned layouts the sink writes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_hdfs_spark import statedir
from kafka_connect_hdfs_spark.compaction import _walk_leaves


def erase_keys(
    spark: SparkSession,
    table_path: str,
    key_col: str,
    keys: Sequence | DataFrame,
    fmt: str = "parquet",
) -> dict[str, int]:
    """Erase every row whose ``key_col`` is in ``keys`` from the landed
    table at ``table_path``. ``keys`` is a literal list (broadcast into
    the scan filter) or a DataFrame of keys (anti-joined) when the key set
    is itself large.

    Returns ``{"n_dirs_total", "n_dirs_rewritten", "n_rows_erased"}``.
    Re-running after a crash converges: the call first restores any
    directory stranded in its backup, and already-swapped dirs contain
    no keys and are not selected again.
    """
    fs, Path = statedir.hadoop_fs(spark, table_path)
    _walk_leaves(fs, Path, Path(table_path), restore_suffix="__erase_old")

    df = spark.read.format(fmt).load(table_path)
    if isinstance(keys, DataFrame):
        hit = df.join(
            F.broadcast(keys.select(F.col(keys.columns[0]).alias(key_col))),
            key_col,
            "left_semi",
        )
    else:
        hit = df.filter(F.col(key_col).isin(list(keys)))

    affected_files = [
        r.f for r in hit.select(F.input_file_name().alias("f")).distinct().collect()
    ]
    affected_dirs = sorted({f.rsplit("/", 1)[0] for f in affected_files})
    all_dirs = {
        r.f.rsplit("/", 1)[0]
        for r in df.select(F.input_file_name().alias("f")).distinct().collect()
    }

    n_erased = 0
    for dir_str in affected_dirs:
        local = spark.read.format(fmt).load(dir_str)
        if isinstance(keys, DataFrame):
            keep = local.join(
                F.broadcast(keys.select(F.col(keys.columns[0]).alias(key_col))),
                key_col,
                "left_anti",
            )
        else:
            keep = local.filter(~F.col(key_col).isin(list(keys)))
        n_before = local.count()
        parent, leaf = dir_str.rsplit("/", 1)
        tmp_dir = f"{parent}/.{leaf}__erase_tmp"
        fs.delete(Path(tmp_dir), True)
        keep.write.format(fmt).mode("overwrite").save(tmp_dir)
        n_after = spark.read.format(fmt).load(tmp_dir).count()
        statedir.publish_dir(
            fs, Path, dir_str, tmp_dir, f"{parent}/.{leaf}__erase_old"
        )
        n_erased += n_before - n_after

    return {
        "n_dirs_total": len(all_dirs),
        "n_dirs_rewritten": len(affected_dirs),
        "n_rows_erased": n_erased,
    }
