"""The one swap-and-recover protocol of the package, and its one
filesystem seam. Every directory (or ref file) that is replaced in place
is published here, mirroring the reference's WAL rename-is-the-commit
discipline: the rename is the commit, and recovery replays it.

Primitives:

- :func:`hadoop_fs` — the only place a Hadoop FileSystem handle is
  acquired (and so the fault-injection seam of the kill-point sweep).
- :func:`publish_dir` — drop a stale backup, rename live aside to the
  backup, rename staged in, delete the backup LAST; a failed publish
  rename restores the backup and raises.
- :func:`restore_backup` / :func:`restore_backups` — the restore
  decision, run on entry: live missing and backup present ⇒ the last
  publish died between its renames, rename the backup back; both
  present ⇒ drop the backup. The directory form handles every
  ``.<leaf><suffix>`` backup under one parent.

Callers (each keeps its own hidden sibling names):

- :func:`swap_state_update` / :func:`recover_state` here — the
  foreachBatch state tables (streaming CDC upsert, mart refresh,
  changelog mirror), with an optional marker file published in the
  same rename;
- ``compaction.compact_partitions`` and ``relayout_partitions`` (global
  swap and the scoped cutover), ``erasure.erase_keys``,
  ``wap.write_audit_publish``;
- ``merge.merge_upsert`` / ``merge_keyed`` (per-leaf swaps),
  ``merge.build_key_index`` / ``refresh_key_index`` (index data and
  buckets);
- ``operators.similarity.vacuum_ivf_index`` (per-cell swaps) and
  ``snapshots.tag_snapshot`` (the tag ref file).

A crash anywhere leaves either the old or the new data, and the next
call's entry recovery heals the two-rename window.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def hadoop_fs(spark: SparkSession, path: str):
    """Single acquisition point for the Hadoop FileSystem handle: no
    other module calls ``getFileSystem`` (a structural test pins it),
    and callers reach this as a module attribute (``statedir.hadoop_fs``,
    never a ``from ... import`` copy). This is the FAULT-INJECTION SEAM:
    the chaos kill-point sweep (tests/test_chaos_killpoints.py)
    monkeypatches this function to wrap the returned fs in a
    mutation-counting proxy that dies at every rename/delete/create
    boundary in turn — so recovery is proven at EVERY boundary
    mechanically, not at hand-picked ones. JVM classes are looked up by
    full name: one py4j call, where ``jvm.org.apache...`` attribute
    chains make one failing class lookup per package level."""
    Path = getattr(spark._jvm, "org.apache.hadoop.fs.Path")
    fs = Path(path).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, Path


def read_text(spark: SparkSession, path) -> str:
    """Read a small text/metadata file through the Hadoop FS API (works
    for any supported URI scheme) — the shared helper behind checkpoint
    metadata and tag-ref reads. ``path`` may be a string or an
    already-constructed Hadoop Path: a listStatus-produced Path must be
    opened directly, because round-tripping it through str() re-parses
    '#'/'%' as URI syntax and targets a different file (r07 review)."""
    if isinstance(path, str):
        fs, Path = hadoop_fs(spark, path)
        p = Path(path)
    else:
        p = path
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(p)
    try:
        jvm = spark._jvm
        buf = getattr(jvm, "java.io.ByteArrayOutputStream")()
        getattr(jvm, "org.apache.hadoop.io.IOUtils").copyBytes(stream, buf, 65536, False)
        return bytes(buf.toByteArray()).decode("utf-8")
    finally:
        stream.close()


def state_marker(
    spark: SparkSession, state_path: str, prefix: str
) -> "str | None":
    """The marker file name with ``prefix`` inside the live state dir
    (None when absent). Each swap writes at most one."""
    fs, Path = hadoop_fs(spark, state_path)
    if not fs.exists(Path(state_path)):
        return None
    for st in fs.listStatus(Path(state_path)):
        name = st.getPath().getName()
        if name.startswith(prefix):
            return name
    return None


def restore_backup(fs, Path, live: str, backup: str) -> None:
    """The restore decision for one ``live``/``backup`` pair, run on
    entry by every caller of :func:`publish_dir`. Live missing and the
    backup present: the last publish died between its two renames, so
    the backup is the only copy — rename it back (raise if that fails).
    Both present: the publish landed and only its final delete was
    lost — drop the backup."""
    if not fs.exists(Path(backup)):
        return
    if fs.exists(Path(live)):
        fs.delete(Path(backup), True)
    elif not fs.rename(Path(backup), Path(live)):
        raise IOError(f"crash-recovery restore failed: {backup} -> {live}")


def backup_leaf(name: str, suffix: str) -> "str | None":
    """The live leaf a ``.<leaf><suffix>`` backup name belongs to, else
    None."""
    if name.startswith(".") and name.endswith(suffix):
        return name[1:-len(suffix)] or None
    return None


def restore_backups(fs, Path, parent: str, suffix: str) -> None:
    """:func:`restore_backup` for every ``.<leaf><suffix>`` entry of the
    directory ``parent`` — the entry recovery of callers that publish
    many leaves under one parent."""
    for st in fs.listStatus(Path(parent)):
        name = st.getPath().getName()
        leaf = backup_leaf(name, suffix)
        if leaf is not None:
            restore_backup(fs, Path, f"{parent}/{leaf}", f"{parent}/{name}")


def publish_dir(fs, Path, live: str, staged: str, backup: str) -> None:
    """Replace ``live`` with ``staged`` (a directory, or a single file)
    by the two-rename publish: drop any stale backup, rename ``live``
    aside to ``backup`` if it exists, rename ``staged`` in, delete the
    backup last. A failed publish rename restores the backup and raises.
    Callers run :func:`restore_backup` / :func:`restore_backups` on
    entry, so a backup this deletes is never the only copy."""
    fs.delete(Path(backup), True)
    if fs.exists(Path(live)) and not fs.rename(Path(live), Path(backup)):
        raise IOError(f"publish backup rename failed: {live} -> {backup}")
    if not fs.rename(Path(staged), Path(live)):
        fs.rename(Path(backup), Path(live))
        raise IOError(f"publish rename failed: {staged} -> {live}")
    fs.delete(Path(backup), True)


def _siblings(state_path: str, suffix: str) -> "tuple[str, str]":
    parent, leaf = state_path.rstrip("/").rsplit("/", 1)
    return f"{parent}/.{leaf}__{suffix}_new", f"{parent}/.{leaf}__{suffix}_old"


def recover_state(spark: SparkSession, state_path: str, suffix: str) -> None:
    """Step-1 crash recovery of :func:`swap_state_update`, callable on
    its own. Callers that READ swap-published metadata (e.g. the
    changelog mirror's sync marker) before swapping must run this
    first, or a crash in the two-rename window reads as 'no state
    yet'."""
    fs, Path = hadoop_fs(spark, state_path)
    restore_backup(fs, Path, state_path, _siblings(state_path, suffix)[1])


def swap_state_update(
    spark: SparkSession,
    state_path: str,
    update_fn: "Callable[[DataFrame | None], DataFrame]",
    suffix: str,
    marker: "str | None" = None,
) -> None:
    """Atomically replace the parquet dir at ``state_path`` with
    ``update_fn(current_state_or_None)`` via :func:`publish_dir`.
    ``suffix`` namespaces the hidden sibling dirs (``.<leaf>__<suffix>_new``
    / ``_old``) so protocols sharing a parent never collide."""
    fs, Path = hadoop_fs(spark, state_path)
    tmp, old = _siblings(state_path, suffix)
    restore_backup(fs, Path, state_path, old)

    base = (
        spark.read.parquet(state_path)
        if fs.exists(Path(state_path))
        else None
    )
    out = update_fn(base)
    fs.delete(Path(tmp), True)
    out.write.parquet(tmp)
    if marker is not None:
        fs.create(Path(f"{tmp}/{marker}"), True).close()
    publish_dir(fs, Path, state_path, tmp, old)
