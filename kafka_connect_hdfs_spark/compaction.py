"""Small-file compaction for landed partitions.

A streaming sink writing every trigger produces many small files per
partition dir (the reference bounds this only via flush.size — small files
are its known operational pain; docs/hdfs_connector.rst advises sizing
flush.size accordingly). At 100 TB the read-side cost of millions of small
files dominates, so compaction is a first-class maintenance operator:

  - groups landed files per partition directory,
  - rewrites each directory to ceil(bytes / target) files,
  - atomically swaps via write-to-temp + :func:`statedir.publish_dir`
    (the package's one two-rename publish); a crash mid-swap is healed
    by the next call, which restores stranded backups on entry.

Scale: one job per compaction run; within the job each partition dir is an
independent task group (no cross-dir shuffle — ``repartition`` happens
within the dir's data only when needed). Run it off the ingest path (the
reference's Hive-sync pattern: maintenance decoupled from the hot path).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from kafka_connect_hdfs_spark import statedir


def compact_partitions(
    spark: SparkSession,
    table_path: str,
    fmt: str = "parquet",
    target_file_bytes: int = 256 * 1024 * 1024,   # reference parquet block size
    min_files_to_compact: int = 2,
) -> dict[str, tuple[int, int]]:
    """Compact every leaf partition directory under ``table_path``.

    Returns {relative_dir: (files_before, files_after)} for dirs rewritten.
    Uses Hadoop FS listing (works on hdfs:// and file:// alike) and the
    :func:`statedir.publish_dir` swap; readers either see the old file
    set or the new one. A crash mid-swap leaves the leaf in its hidden
    ``.<leaf>__compact_old`` backup, and the next call restores it on
    entry (the listing walk) before compacting again.
    """
    fs, Path = statedir.hadoop_fs(spark, table_path)
    root = Path(table_path)
    leaves = _walk_leaves(fs, Path, root, restore_suffix="__compact_old")

    # listStatus returns scheme-qualified paths (file:/...); qualify the
    # base the same way or the relative-slice cuts mid-string
    base_str = fs.makeQualified(root).toString().rstrip("/")
    todo = []
    for dir_str, files in leaves:
        if len(files) < min_files_to_compact:
            continue
        total_bytes = sum(e.getLen() for e in files)
        n_target = max(1, -(-total_bytes // target_file_bytes))  # ceil
        if n_target >= len(files):
            continue
        todo.append((dir_str, files, n_target))

    def _compact_one(item) -> "tuple[str, tuple[int, int]]":
        dir_str, files, n_target = item
        rel = dir_str[len(base_str):].lstrip("/")
        df = spark.read.format(fmt).load(dir_str)
        # hidden siblings ('.'-prefixed → invisible to Hadoop PathFilters and
        # Spark partition discovery) so readers never see a half-built dir
        parent, leaf = dir_str.rsplit("/", 1)
        tmp_dir = f"{parent}/.{leaf}__compact_tmp"
        fs.delete(Path(tmp_dir), True)  # clear any crashed prior attempt
        df.repartition(n_target).write.format(fmt).mode("overwrite").save(tmp_dir)
        n_new = sum(
            1 for e in fs.listStatus(Path(tmp_dir))
            if e.isFile() and not e.getPath().getName().startswith(("_", "."))
        )
        statedir.publish_dir(
            fs, Path, dir_str, tmp_dir, f"{parent}/.{leaf}__compact_old"
        )
        return rel, (len(files), n_new)

    # leaf dirs rewrite independently (disjoint inputs/outputs, per-dir
    # swap) — overlap the small per-dir jobs in a bounded thread pool so
    # one dir's straggling tasks back-fill with the next dir's work
    # (guide §2.6); per-dir crash atomicity is unchanged
    results: dict[str, tuple[int, int]] = {}
    if todo:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(4, len(todo))) as pool:
            for rel, counts in pool.map(_compact_one, todo):
                results[rel] = counts
    return results


def _maybe_rebalance(df, cols: "list[str]"):
    """REBALANCE(cols) before a partitionBy write, but only when the scan
    actually plans >1 input task. With a single input split the write
    already emits O(keys) files (1 task × keys), so the clustering
    exchange is pure overhead; with many splits it is what keeps file
    counts O(keys) instead of tasks × keys, with AQE still splitting an
    oversized key (guide §2.5/§6). The split count comes from the planned
    scan — no job runs — so the condition self-adapts with input size:
    at 100 TB every relayout slice is many splits and the hint always
    fires.

    Contract: ``df`` must be a bare file scan (``spark.read...load``).
    With AQE on, ``.rdd`` on a plan that contains an exchange
    materializes the upstream stages just to count partitions. Both
    callers pass the scan itself, so nothing checks this at run time."""
    if df.rdd.getNumPartitions() <= 1:
        return df
    return df.hint("rebalance", *cols)


def _walk_leaves(
    fs, Path, root, restore_suffix: "str | None" = None
) -> "list[tuple[str, list]]":
    """All leaf data directories under ``root`` as ``(abs_path, files)``
    (a dir with files and no visible subdirs; hidden ``_``/``.`` entries
    ignored, matching Spark's discovery). With ``restore_suffix``, every
    directory on the way first gets the :func:`statedir.restore_backups`
    decision for its ``.<leaf><restore_suffix>`` backups (the root's
    own backup sits beside it) — the entry recovery of the per-leaf
    swaps, at any depth, for no extra listing unless a backup is
    actually there."""
    leaves: "list[tuple[str, list]]" = []
    if restore_suffix is not None:
        # an unpartitioned table is its own (only) leaf
        statedir.restore_backup(
            fs, Path, root.toString(),
            f"{root.getParent().toString()}/.{root.getName()}{restore_suffix}",
        )

    def walk(p):
        entries = list(fs.listStatus(p))
        if restore_suffix is not None and any(
            statedir.backup_leaf(e.getPath().getName(), restore_suffix)
            for e in entries
        ):
            statedir.restore_backups(fs, Path, p.toString(), restore_suffix)
            entries = list(fs.listStatus(p))
        subdirs = [
            e for e in entries
            if e.isDirectory() and not e.getPath().getName().startswith(("_", "."))
        ]
        files = [
            e for e in entries
            if e.isFile() and not e.getPath().getName().startswith(("_", "."))
        ]
        if files and not subdirs:
            leaves.append((p.toString(), files))
        for d in subdirs:
            walk(d.getPath())

    walk(root)
    return leaves


def relayout_partitions(
    spark: SparkSession,
    table_path: str,
    new_partition_cols: "list[str]",
    fmt: str = "parquet",
    scope: "list[str] | None" = None,
) -> "dict[str, int]":
    """Partition-layout EVOLUTION: rewrite the landed table at
    ``table_path`` so its directory layout partitions by
    ``new_partition_cols`` — the day a query pattern changes (hourly
    dashboards over a type-partitioned landing; user-keyed erasure over
    a date-partitioned one) and the old layout's partition pruning stops
    helping. The reference has no answer (its layout is fixed at write
    time by the partitioner class); this is the maintenance operator
    that re-derives it.

    Mechanics: one read of the current table (partition columns
    recovered from the directory structure by Spark's discovery), one
    partitioned write to a hidden sibling, then the same
    :func:`statedir.publish_dir` swap as :func:`compact_partitions` —
    readers see the old tree or the new one, never a mix; a crash
    between renames leaves the data intact in the
    ``.<table>__relayout_old`` sibling, and the next call restores it
    on entry. A scoped sequence in flight (below) is abandoned: its stage
    holds slices of the table this rewrite replaces, so it is deleted on
    entry.

    Returns ``{new_leaf_dir: n_files}`` for the rewritten tree.

    INCREMENTAL MODE (r08 verdict item 3): pass ``scope`` — a list of
    OLD leaf dirs relative to ``table_path`` (e.g.
    ``["event_type=click"]``) — to relay only those slices into a
    persistent hidden STAGE tree. Each scoped leaf is independently
    crash-recoverable: its rewrite lands under a per-leaf temp dir, its
    files move into the stage tree under a per-leaf name prefix (so a
    crashed half-moved attempt is purged by prefix on restart), and a
    per-leaf done marker commits it — re-running a completed leaf is a
    no-op. The LIVE table is untouched (readers see the old layout,
    every file inode-identical) until the call that completes the LAST
    old leaf, which performs the same :func:`statedir.publish_dir` swap
    as the global mode (if a crash lands between the renames, the next
    call rolls the cutover forward on entry). Mid-sequence calls return
    ``{}``; the completing call returns the new tree's
    ``{new_leaf_dir: n_files}``. A 100 TB
    relayout restarts per-dir instead of wasting the whole job.

    Scale: the rewrite is ONE shuffle on the new partition key (the
    write's ``partitionBy`` clustering) over each old partition's data —
    at 100 TB run it per OLD-partition slice via ``scope`` (the dirs are
    independent) rather than one global job; the operator keeps
    whole-table semantics because the gate's fidelity contract is
    table-level. Scoped reads recover the old partition columns via
    ``basePath``, so the relayed rows are byte-equal to a global
    rewrite's.
    """
    # module-attribute call: the chaos kill-point sweep monkeypatches
    # statedir.hadoop_fs to inject a mutation-counting fs proxy
    fs, Path = statedir.hadoop_fs(spark, table_path)
    root = Path(table_path)

    if scope is not None:
        return _relayout_scoped(
            spark, fs, Path, table_path, new_partition_cols, fmt, scope
        )

    live_str = table_path.rstrip("/")
    parent, leaf = live_str.rsplit("/", 1)
    tmp_dir = f"{parent}/.{leaf}__relayout_tmp"
    old_dir = f"{parent}/.{leaf}__relayout_old"
    statedir.restore_backup(fs, Path, live_str, old_dir)
    if not fs.exists(root):
        raise FileNotFoundError(table_path)
    # a scoped sequence in flight staged slices of the table this rewrite
    # replaces: its stage and done markers are stale from here on
    stage = Path(f"{parent}/.{leaf}__relayout_stage")
    if fs.exists(stage):
        fs.delete(stage, True)

    df = spark.read.format(fmt).load(table_path)
    missing = [c for c in new_partition_cols if c not in df.columns]
    if missing:
        raise ValueError(
            f"new partition columns {missing} not in table columns "
            f"{df.columns}"
        )
    fs.delete(Path(tmp_dir), True)
    (
        # cluster rows by the new partition key before the partitioned
        # write (the "ONE shuffle" the contract describes): without it
        # every task emits a file per key it touches — tasks × keys
        # output files — and the per-file stage renames and read-back
        # listings pay for all of them. REBALANCE lets AQE coalesce
        # small keys into shared files AND split oversized keys at the
        # advisory size, so file counts stay O(keys) at any scale;
        # _maybe_rebalance skips the exchange when the scan is a single
        # split (1 task × keys is already O(keys)).
        _maybe_rebalance(df, new_partition_cols)
        .write.format(fmt)
        .partitionBy(*new_partition_cols)
        .mode("overwrite")
        .save(tmp_dir)
    )
    statedir.publish_dir(fs, Path, live_str, tmp_dir, old_dir)
    return _leaf_file_counts(fs, Path, root)


def _leaf_file_counts(fs, Path, root) -> "dict[str, int]":
    """``{leaf_dir relative to root: n_files}`` of a published tree."""
    # listStatus returns scheme-qualified paths (file:/...); qualify the
    # base the same way or the relative-slice cuts mid-string
    base_q = fs.makeQualified(root).toString().rstrip("/")
    return {
        dir_str[len(base_q):].lstrip("/"): len(files)
        for dir_str, files in _walk_leaves(fs, Path, root)
    }


_DONE_PREFIX = "_relayout_done_"


def _leaf_reg(rel: str) -> str:
    """Stable per-old-leaf id: filesystem-safe, collision-free enough for
    a directory tree (md5 of the relative path)."""
    import hashlib

    return hashlib.md5(rel.encode("utf-8")).hexdigest()[:12]


def _relayout_scoped(
    spark: SparkSession,
    fs,
    Path,
    table_path: str,
    new_partition_cols: "list[str]",
    fmt: str,
    scope: "list[str]",
) -> "dict[str, int]":
    """Incremental relayout (see :func:`relayout_partitions`): relay the
    ``scope`` old leaves into the persistent stage tree; swap the stage
    in when the last old leaf completes."""
    live_str = table_path.rstrip("/")
    live = Path(live_str)
    parent, leaf = live_str.rsplit("/", 1)
    stage_str = f"{parent}/.{leaf}__relayout_stage"
    old_str = f"{parent}/.{leaf}__relayout_old"
    stage = Path(stage_str)

    def _sweep_markers(dir_str: str) -> None:
        p = Path(dir_str)
        if not fs.exists(p):
            return
        for e in fs.listStatus(p):
            if e.isFile() and e.getPath().getName().startswith(_DONE_PREFIX):
                fs.delete(e.getPath(), False)

    # crash recovery for the FINAL swap. Mid-sequence the live dir is
    # never renamed, so live-missing + stage-present is exactly the
    # cutover's crash window and the stage is complete: roll forward
    if not fs.exists(live) and fs.exists(stage):
        if not fs.rename(stage, live):
            raise IOError(f"relayout roll-forward failed for {live_str}")
        fs.delete(Path(old_str), True)
        _sweep_markers(live_str)
        return _leaf_file_counts(fs, Path, live)
    if not fs.exists(stage):
        # no sequence in flight: restore a backup stranded by a crashed
        # cutover, or drop one whose cutover landed
        statedir.restore_backup(fs, Path, live_str, old_str)
    if not fs.exists(live):
        raise FileNotFoundError(table_path)

    # fresh sequence: sweep stale done markers a crashed FINAL cleanup of
    # a PREVIOUS sequence may have left in the live root (same rel names
    # would otherwise read as already-done)
    if not fs.exists(stage):
        _sweep_markers(live_str)
        if not scope:
            # pure recovery call (scope=[]) with no stage on disk:
            # nothing to stage and nothing mid-flight — creating an
            # empty stage tree here would leave residue a later real
            # sequence would mistake for its own (chaos-sweep find)
            return {}
        fs.mkdirs(stage)

    base_q = fs.makeQualified(live).toString().rstrip("/")
    live_leaves = {
        (p[len(base_q):].lstrip("/") if p != base_q else ""): files
        for p, files in _walk_leaves(fs, Path, live)
    }
    unknown = [rel for rel in scope if rel.rstrip("/") not in live_leaves]
    if unknown:
        raise ValueError(
            f"scope entries {unknown} are not leaf dirs of {table_path} "
            f"(have {sorted(live_leaves)})"
        )

    for rel in (r.rstrip("/") for r in scope):
        reg = _leaf_reg(rel)
        marker = Path(f"{stage_str}/{_DONE_PREFIX}{reg}")
        if fs.exists(marker):
            continue  # restart: this leaf already committed
        # purge files of a crashed half-moved attempt of THIS leaf
        for _dir, files in _walk_leaves(fs, Path, stage):
            for e in files:
                if e.getPath().getName().startswith(f"p{reg}_"):
                    fs.delete(e.getPath(), False)
        tmp_str = f"{stage_str}/.leaf_{reg}_tmp"
        fs.delete(Path(tmp_str), True)
        src = live_str if rel == "" else f"{live_str}/{rel}"
        df = (
            spark.read.format(fmt)
            .option("basePath", live_str)
            .load(src)
        )
        missing = [c for c in new_partition_cols if c not in df.columns]
        if missing:
            raise ValueError(
                f"new partition columns {missing} not in table columns "
                f"{df.columns}"
            )
        (
            # same rebalance-before-partitionBy as the global path: the
            # per-leaf slice otherwise stages tasks × keys files, every
            # one of which the driver renames into the stage tree below;
            # skipped when the slice reads as one split (already O(keys))
            _maybe_rebalance(df, new_partition_cols)
            .write.format(fmt)
            .partitionBy(*new_partition_cols)
            .mode("overwrite")
            .save(tmp_str)
        )
        # move the slice's files into the cumulative stage tree under the
        # per-leaf prefix; dir-level merge is append-only renames
        tmp_q = fs.makeQualified(Path(tmp_str)).toString().rstrip("/")
        for dir_str, files in _walk_leaves(fs, Path, Path(tmp_str)):
            nrel = dir_str[len(tmp_q):].lstrip("/")
            dest = stage_str if nrel == "" else f"{stage_str}/{nrel}"
            fs.mkdirs(Path(dest))
            for e in files:
                nm = e.getPath().getName()
                if not fs.rename(e.getPath(), Path(f"{dest}/p{reg}_{nm}")):
                    raise IOError(
                        f"relayout stage move failed for {rel} ({nm})"
                    )
        fs.delete(Path(tmp_str), True)
        fs.create(marker, True).close()  # the leaf's commit point

    done = {
        e.getPath().getName()[len(_DONE_PREFIX):]
        for e in fs.listStatus(stage)
        if e.isFile() and e.getPath().getName().startswith(_DONE_PREFIX)
    }
    # `all(...)` is vacuously true on an empty live_leaves set (empty or
    # malformed table) and would swap an empty stage over the live dir
    if not live_leaves or not all(
        _leaf_reg(rel) in done for rel in live_leaves
    ):
        return {}  # mid-sequence or leafless: live table untouched

    # every old leaf is staged: atomic cutover (recoverable by the
    # roll-forward block above), then marker cleanup
    statedir.publish_dir(fs, Path, live_str, stage_str, old_str)
    _sweep_markers(live_str)
    return _leaf_file_counts(fs, Path, live)
