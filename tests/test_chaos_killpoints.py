"""Chaos kill-point sweep (r09 VERDICT item 7): instead of hand-picking
crash windows, kill the operator at EVERY filesystem-mutation boundary
(rename/delete/create/mkdirs) in turn and prove the documented recovery
converges from each one. The seam is statedir.hadoop_fs — every
rename-protocol operator acquires its FileSystem handle there, so a
mutation-counting proxy sees the complete metadata-op sequence.

Reference parity: the reference proves its WAL recovery with targeted
fault tests (FailureRecoveryTest.java); this sweep is the exhaustive
form — the kill point is enumerated, not chosen.

Protocol per sweep:
  1. COUNT: run the operation clean on a fresh fixture, counting
     mutations → N.
  2. For every k in 0..N-1: fresh fixture, kill before mutation k+1,
     then run the documented recovery with the REAL fs and assert the
     end-state invariant (content correct, no hidden residue).
The sweep is exhaustive over the metadata ops of THIS code path; Spark's
own committer renames (inside df.write) are out of scope — they are
Spark's crash contract, not ours.
"""

from __future__ import annotations

import re
import threading

import pytest

from kafka_connect_hdfs_spark import statedir


class KillPoint(Exception):
    """Injected crash: raised INSTEAD of executing a mutation."""


_MUTATORS = ("rename", "delete", "create", "mkdirs")


class _FaultFS:
    """Mutation-counting proxy. Operators that rewrite leaves in a thread
    pool (compact_partitions, vacuum_ivf_index) share one proxy across
    their pool threads, so the check-and-count is one locked step: a
    budget is spent exactly once, and every mutation after the kill
    raises too (the process is dead from that point on)."""

    def __init__(self, real, counter: dict, budget: "int | None"):
        self._real = real
        self._counter = counter
        self._budget = budget

    def __getattr__(self, name):
        attr = getattr(self._real, name)
        if name in _MUTATORS:
            def wrapped(*a, **k):
                with _count_lock:
                    n = self._counter["n"]
                    if self._budget is not None and n >= self._budget:
                        raise KillPoint(
                            f"killed before mutation #{n + 1} ({name})"
                        )
                    self._counter["n"] = n + 1
                return attr(*a, **k)

            return wrapped
        return attr


_count_lock = threading.Lock()
_tl = threading.local()
_install_lock = threading.Lock()
_orig_hadoop_fs = None
_active_patches = 0


def _dispatching_hadoop_fs(spark, path):
    inj = getattr(_tl, "inj", None)
    if inj is None:
        # a thread outside every injection context (an operator's own
        # pool thread acquiring its handle, say) would get the REAL fs
        # and its mutations would escape both the count and the kill
        raise RuntimeError(
            "statedir.hadoop_fs called from a thread with no chaos "
            f"injection context while a patch is active ({path})"
        )
    fs, Path = _orig_hadoop_fs(spark, path)
    counter, budget = inj
    return _FaultFS(fs, counter, budget), Path


class _patched_fs:
    """Context manager: route statedir.hadoop_fs through _FaultFS for the
    CURRENT THREAD only. The module attribute is patched once with a
    dispatcher that reads a thread-local (counter, budget), so independent
    kill-point iterations can overlap in a thread pool (guide §2.6)
    without seeing each other's budgets. While any patch is active, a
    call from a thread with no context raises instead of quietly handing
    out the real fs. Pooled operators (compact_partitions) acquire the
    handle once on the calling thread and share the proxy with their
    pool threads, so every mutation still counts."""

    def __init__(self, counter: dict, budget: "int | None"):
        self.counter = counter
        self.budget = budget

    def __enter__(self):
        global _orig_hadoop_fs, _active_patches
        with _install_lock:
            if _active_patches == 0:
                _orig_hadoop_fs = statedir.hadoop_fs
                statedir.hadoop_fs = _dispatching_hadoop_fs
            _active_patches += 1
        self._prev = getattr(_tl, "inj", None)
        _tl.inj = (self.counter, self.budget)
        return self

    def __exit__(self, *exc):
        global _active_patches
        _tl.inj = self._prev
        with _install_lock:
            _active_patches -= 1
            if _active_patches == 0:
                statedir.hadoop_fs = _orig_hadoop_fs
        return False


def _sweep(setup, op, recover, invariant, max_points: int = 64):
    """Generic sweep driver. setup() → ctx; op(ctx) runs the protocol;
    recover(ctx) converges after a crash; invariant(ctx) asserts the
    end state.

    Kill-point iterations are INDEPENDENT (each setup() builds its own
    directory tree), so they overlap in a small thread pool — same
    correctness, ~4x less wall per sweep; Spark happily runs the
    concurrent driver jobs and the fault injection is thread-local."""
    # COUNT pass (budget=None: count, never kill)
    ctx = setup()
    counter = {"n": 0}
    with _patched_fs(counter, None):
        op(ctx)
    invariant(ctx)
    n = counter["n"]
    assert 0 < n <= max_points, f"unexpected mutation count {n}"

    # KILL at every boundary. setup/recover/invariant run under a
    # never-killing context: other iterations keep the patch installed,
    # and the dispatcher refuses threads without one
    def _one(k: int) -> None:
        with _patched_fs({"n": 0}, None):
            ctx = setup()
            with _patched_fs({"n": 0}, k):
                with pytest.raises(KillPoint):
                    op(ctx)
            recover(ctx)
            invariant(ctx)

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(8, n)) as pool:
        for _ in pool.map(_one, range(n)):
            pass
    return n


# ---------------------------------------------------------------------------
# statedir.swap_state_update — every boundary of the two-rename swap


def test_sweep_swap_state_update(spark, tmp_path):
    from kafka_connect_hdfs_spark.statedir import swap_state_update

    expected = {(1, "new"), (2, "new")}
    it = iter(range(10_000))

    def setup():
        state = str(tmp_path / f"swap{next(it)}" / "state")
        spark.createDataFrame(
            [(9, "old")], "k int, tag string"
        ).write.parquet(state)
        return {"state": state}

    def _update(_cur):
        # idempotent on purpose: the swap contract is old-or-new; replay
        # idempotence is the CALLER's marker job (tested in streaming)
        return spark.createDataFrame(
            [(1, "new"), (2, "new")], "k int, tag string"
        )

    def op(ctx):
        swap_state_update(spark, ctx["state"], _update, suffix="chaos")

    def recover(ctx):
        # crash mid-swap may strand the state at the backup path; the
        # next swap's entry recovery restores it — re-running IS the
        # documented recovery
        swap_state_update(spark, ctx["state"], _update, suffix="chaos")

    def invariant(ctx):
        got = {
            (r["k"], r["tag"])
            for r in spark.read.parquet(ctx["state"]).collect()
        }
        assert got == expected
        parent = ctx["state"].rsplit("/", 1)[0]
        fs, Path = statedir.hadoop_fs(spark, parent)
        residue = [
            st.getPath().getName()
            for st in fs.listStatus(Path(parent))
            if st.getPath().getName().startswith(".state__chaos")
        ]
        assert residue == [], residue

    n = _sweep(setup, op, recover, invariant)
    assert n >= 4  # delete(tmp), delete(old), 2 renames, delete(old)


# ---------------------------------------------------------------------------
# merge.merge_keyed — swap, emptied-partition drop, roll-forward


def test_sweep_merge_keyed(spark, tmp_path):
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.merge import merge_keyed

    it = iter(range(10_000))
    base_rows = [(k, f"c{k % 3}", float(k)) for k in range(12)]
    # MERGE batch: k=1 moves c1→moved, ALL of c2 (2,5,8,11) deletes
    # (empties the partition → drop path), k=100 inserts into c0
    upd_rows = (
        [(1, "moved", 99.0, False)]
        + [(k, f"c{k % 3}", 0.0, True) for k in (2, 5, 8, 11)]
        + [(100, "c0", 7.0, False)]
    )
    expected = {
        (k, p)
        for k, p, _ in base_rows
        if k not in (1, 2, 5, 8, 11)
    } | {(1, "moved"), (100, "c0")}

    def setup():
        path = str(tmp_path / f"mk{next(it)}" / "t")
        spark.createDataFrame(
            base_rows, "k long, p string, v double"
        ).repartition(1).write.partitionBy("p").parquet(path)
        return {"path": path}

    def _upd():
        return spark.createDataFrame(
            upd_rows, "k long, p string, v double, is_del boolean"
        )

    def op(ctx):
        merge_keyed(
            spark, ctx["path"], _upd(), key_col="k", partition_col="p",
            delete_col="is_del",
        )

    def recover(ctx):
        # re-running the same MERGE is the documented recovery: entry
        # roll-forward restores/drops stranded backups, then the merge
        # (idempotent by key semantics) converges
        op(ctx)

    def invariant(ctx):
        back = spark.read.parquet(ctx["path"])
        got = {(r["k"], r["p"]) for r in back.collect()}
        assert got == expected
        fs, Path = statedir.hadoop_fs(spark, ctx["path"])
        residue = [
            st.getPath().getName()
            for st in fs.listStatus(Path(ctx["path"]))
            if st.getPath().getName().startswith(".")
        ]
        assert residue == [], residue
        # the emptied partition is gone
        assert back.filter(F.col("p") == "c2").count() == 0

    _sweep(setup, op, recover, invariant, max_points=64)


# ---------------------------------------------------------------------------
# compaction.relayout_partitions (incremental scope mode) — stage moves,
# per-leaf markers, final two-rename cutover, marker sweep


def test_sweep_relayout_scoped(spark, tmp_path):
    from kafka_connect_hdfs_spark.compaction import relayout_partitions

    it = iter(range(10_000))
    rows = [(k, f"a{k % 2}", f"b{k % 3}") for k in range(12)]
    scope = ["a=a0", "a=a1"]

    def setup():
        path = str(tmp_path / f"rl{next(it)}" / "t")
        spark.createDataFrame(rows, "k long, a string, b string").repartition(
            1
        ).write.partitionBy("a").parquet(path)
        return {"path": path}

    def op(ctx):
        relayout_partitions(spark, ctx["path"], ["b"], scope=scope)

    def _leaves(path):
        fs, Path = statedir.hadoop_fs(spark, path)
        return {
            st.getPath().getName()
            for st in fs.listStatus(Path(path))
            if st.isDirectory()
            and not st.getPath().getName().startswith((".", "_"))
        }

    def recover(ctx):
        # step 1: a scope=[] call runs ONLY the entry crash recovery
        # (roll-forward of a cut-over stage, restore of a stranded old,
        # completion cutover if every leaf already staged)
        relayout_partitions(spark, ctx["path"], ["b"], scope=[])
        # step 2: if the table still shows the OLD layout, the staging
        # sequence was incomplete — re-run it (completed leaves are
        # no-ops via their done markers)
        if any(lf.startswith("a=") for lf in _leaves(ctx["path"])):
            relayout_partitions(spark, ctx["path"], ["b"], scope=scope)

    def invariant(ctx):
        assert _leaves(ctx["path"]) == {"b=b0", "b=b1", "b=b2"}
        back = spark.read.parquet(ctx["path"])
        got = {(r["k"], r["a"], r["b"]) for r in back.collect()}
        assert got == set(rows)
        # no stage/old residue next to the table
        parent = ctx["path"].rsplit("/", 1)[0]
        fs, Path = statedir.hadoop_fs(spark, parent)
        residue = [
            st.getPath().getName()
            for st in fs.listStatus(Path(parent))
            if st.getPath().getName().startswith(".t__relayout")
        ]
        assert residue == [], residue

    _sweep(setup, op, recover, invariant, max_points=64)


def test_sweep_merge_keyed_with_index(spark, tmp_path):
    """merge_keyed WITH a fresh LOCATE index: the sweep now also covers
    the index-refresh protocol (bucket swap renames, meta publish) since
    its fs flows through the same seam. Invariant: the TABLE converges
    regardless of where the kill lands; the index ends either fresh
    (refresh landed) or stale (crash mid-refresh → meta fingerprint no
    longer matches → LOCATE falls back to the scan) — never wrong — and
    build_key_index always restores it to fresh."""
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.merge import (
        build_key_index, key_index_status, locate_keys, merge_keyed,
    )

    it = iter(range(10_000))
    base_rows = [(k, f"c{k % 3}", float(k)) for k in range(12)]
    upd_rows = (
        [(1, "moved", 99.0, False)]
        + [(k, f"c{k % 3}", 0.0, True) for k in (2, 5, 8, 11)]
        + [(100, "c0", 7.0, False)]
    )
    expected = {
        (k, p) for k, p, _ in base_rows if k not in (1, 2, 5, 8, 11)
    } | {(1, "moved"), (100, "c0")}

    def setup():
        path = str(tmp_path / f"mki{next(it)}" / "t")
        spark.createDataFrame(
            base_rows, "k long, p string, v double"
        ).repartition(1).write.partitionBy("p").parquet(path)
        build_key_index(spark, path, "k", "p", n_buckets=4)
        return {"path": path}

    def _upd():
        return spark.createDataFrame(
            upd_rows, "k long, p string, v double, is_del boolean"
        )

    def op(ctx):
        merge_keyed(
            spark, ctx["path"], _upd(), key_col="k", partition_col="p",
            delete_col="is_del",
        )

    def recover(ctx):
        op(ctx)  # re-run: stale/absent index → scan LOCATE; idempotent
        # a kill inside the meta publish (delete→rename window) leaves
        # the meta ABSENT — same safe fallback as stale; either way the
        # documented recovery is an explicit rebuild
        if key_index_status(spark, ctx["path"], "p") != "fresh":
            build_key_index(spark, ctx["path"], "k", "p", n_buckets=4)

    def invariant(ctx):
        back = spark.read.parquet(ctx["path"])
        assert {(r["k"], r["p"]) for r in back.collect()} == expected
        assert key_index_status(spark, ctx["path"], "p") == "fresh"
        located = locate_keys(
            spark, ctx["path"],
            spark.createDataFrame([(7,), (1,), (100,)], "k long"),
            "k", "p",
        )
        assert located is not None
        got = {r["p"] for r in located.collect()}
        assert got == {"c1", "moved", "c0"}, got
        fs, Path = statedir.hadoop_fs(spark, ctx["path"])
        residue = [
            st.getPath().getName()
            for st in fs.listStatus(Path(ctx["path"]))
            if st.getPath().getName().startswith(".")
        ]
        assert residue == [], residue
        assert back.filter(F.col("p") == "c2").count() == 0

    _sweep(setup, op, recover, invariant, max_points=96)


# ---------------------------------------------------------------------------
# snapshots row-level deletes (r11): delete_rows tombstone commit +
# apply_deletes compaction — snapshots._fs routes through the seam, so
# every manifest rename / tombstone orphan-clean / compaction publish
# boundary is killable. Recovery is re-running the pair: a crashed
# delete recomputes the same version over its own residue; a crashed
# compaction leaves the previous version readable (manifest rename is
# the only publish point) and the re-run folds everything.


def test_sweep_delete_rows_and_apply(spark, tmp_path):
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.snapshots import (
        apply_deletes, commit_snapshot, delete_rows, list_snapshots,
        read_snapshot,
    )

    it = iter(range(10_000))
    expected = set(range(12)) - {2, 7, 11}

    def setup():
        path = str(tmp_path / f"rowdel{next(it)}" / "t")
        a = spark.range(6).select(F.col("id").alias("k"))
        b = spark.range(6, 12).select(F.col("id").alias("k"))
        commit_snapshot(spark, a, path, now=lambda: 1000)
        commit_snapshot(spark, b, path, mode="append", now=lambda: 2000)
        return {"path": path, "clock": iter(range(3000, 100000, 7))}

    def _keys():
        return spark.createDataFrame([(2,), (7,), (11,)], "k long")

    def op(ctx):
        now = lambda: next(ctx["clock"])  # noqa: E731
        delete_rows(spark, ctx["path"], _keys(), "k", now=now)
        apply_deletes(spark, ctx["path"], now=now)

    def recover(ctx):
        op(ctx)

    def invariant(ctx):
        live = {r["k"] for r in read_snapshot(spark, ctx["path"]).collect()}
        assert live == expected
        # latest version carries no tombstones and every version reads
        from kafka_connect_hdfs_spark.snapshots import _read_manifest

        vs = list_snapshots(spark, ctx["path"])
        assert not _read_manifest(spark, ctx["path"], vs[-1]).get("deletes")
        for v in vs:
            read_snapshot(spark, ctx["path"], version=v).count()

    _sweep(setup, op, recover, invariant, max_points=64)


# ---------------------------------------------------------------------------
# streaming.changelog.sync_changelog_mirror — the marker-guarded mirror
# tick (r13): a kill at any boundary of the bootstrap-or-incremental
# swap must leave a re-run converging on the snapshot census, never a
# double-applied delta (the marker publishes atomically with the state)


def test_sweep_changelog_mirror_sync(spark, tmp_path):
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.snapshots import (
        commit_snapshot, delete_rows, read_snapshot,
    )
    from kafka_connect_hdfs_spark.streaming.changelog import (
        last_synced_version, sync_changelog_mirror,
    )

    it = iter(range(10_000))

    def setup():
        root = tmp_path / f"cdfsync{next(it)}"
        src = str(root / "src")
        mirror = str(root / "mirror")
        commit_snapshot(
            spark,
            spark.range(10).select(
                F.col("id").alias("k"), F.lit("a").alias("src")
            ),
            src, now=lambda: 1000,
        )
        # bootstrap OUTSIDE the sweep: the swept op is the incremental tick
        sync_changelog_mirror(spark, src, mirror)
        commit_snapshot(
            spark,
            spark.range(10, 14).select(
                F.col("id").alias("k"), F.lit("b").alias("src")
            ),
            src, mode="append", now=lambda: 2000,
        )
        delete_rows(
            spark, src, spark.createDataFrame([(3,), (11,)], "k long"),
            "k", now=lambda: 3000,
        )
        return {"src": src, "mirror": mirror}

    def op(ctx):
        sync_changelog_mirror(spark, ctx["src"], ctx["mirror"])

    def recover(ctx):
        sync_changelog_mirror(spark, ctx["src"], ctx["mirror"])

    def invariant(ctx):
        from collections import Counter

        got = Counter(
            (r["k"], r["src"])
            for r in spark.read.parquet(ctx["mirror"]).collect()
        )
        want = Counter(
            (r["k"], r["src"])
            for r in read_snapshot(spark, ctx["src"]).collect()
        )
        assert got == want
        assert last_synced_version(spark, ctx["mirror"]) == 3
        parent = ctx["mirror"].rsplit("/", 1)[0]
        fs, Path = statedir.hadoop_fs(spark, parent)
        residue = [
            st.getPath().getName()
            for st in fs.listStatus(Path(parent))
            if st.getPath().getName().startswith(".mirror__cdfsync")
        ]
        assert residue == [], residue

    n = _sweep(setup, op, recover, invariant)
    assert n >= 5  # marker create + delete(tmp/old) + 2 renames + delete


# ---------------------------------------------------------------------------
# snapshots.commit_changes via the snapshot-table mirror tick (r13):
# the atomic row-delta — a kill at any boundary leaves either the old
# mirror version + old marker (re-tick re-applies the same delta) or
# the fully-published new one (re-tick is a marker-guarded no-op)


def test_sweep_mirror_table_sync(spark, tmp_path):
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.snapshots import (
        commit_snapshot, delete_rows, read_snapshot,
    )
    from kafka_connect_hdfs_spark.streaming.changelog import (
        sync_changelog_mirror_table,
    )

    it = iter(range(10_000))

    def setup():
        root = tmp_path / f"mtsync{next(it)}"
        src = str(root / "src")
        mirror = str(root / "mirror")
        commit_snapshot(
            spark,
            spark.range(10).select(
                F.col("id").alias("k"), F.lit("a").alias("src")
            ),
            src, now=lambda: 1000,
        )
        sync_changelog_mirror_table(spark, src, mirror, "k")
        commit_snapshot(
            spark,
            spark.createDataFrame(
                [(3, "b"), (12, "b")], "k long, src string"
            ),
            src, mode="append", now=lambda: 2000,
        )
        delete_rows(
            spark, src, spark.createDataFrame([(3,), (5,)], "k long"),
            "k", now=lambda: 3000,
        )
        return {"src": src, "mirror": mirror}

    def op(ctx):
        sync_changelog_mirror_table(spark, ctx["src"], ctx["mirror"], "k")

    def recover(ctx):
        sync_changelog_mirror_table(spark, ctx["src"], ctx["mirror"], "k")

    def invariant(ctx):
        got = sorted(
            (r["k"], r["src"])
            for r in read_snapshot(spark, ctx["mirror"]).collect()
        )
        want = sorted(
            (r["k"], r["src"])
            for r in read_snapshot(spark, ctx["src"]).collect()
        )
        assert got == want
        # exactly one row-delta landed: v1 bootstrap + v2 delta, never
        # a double-applied v3
        from kafka_connect_hdfs_spark.snapshots import list_snapshots

        assert list_snapshots(spark, ctx["mirror"]) == [1, 2]

    n = _sweep(setup, op, recover, invariant)
    assert n >= 3  # residue deletes + tombstone/data writes + rename


# ---------------------------------------------------------------------------
# the table-maintenance swaps on statedir.publish_dir: compaction (pooled),
# erasure, WAP and the global relayout. Recovery is re-running the
# operator (its entry restore), and the invariant is the visible rows plus
# no swap residue anywhere next to or under the table


_RESIDUE = re.compile(r"__\w*_(old|tmp)$|__wap_stage$")


def _swap_residue(spark, root: str) -> "list[str]":
    fs, Path = statedir.hadoop_fs(spark, root)
    found = []

    def walk(p):
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if _RESIDUE.search(name):
                found.append(st.getPath().toString())
            elif st.isDirectory():
                walk(st.getPath())

    walk(Path(root))
    return found


def _rows(spark, path: str, *cols: str) -> set:
    return {
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(path).collect()
    }


def test_sweep_compact_partitions(spark, tmp_path):
    from kafka_connect_hdfs_spark.compaction import compact_partitions

    it = iter(range(10_000))
    rows = [(k, f"a{k % 2}", f"b{k % 2}") for k in range(8)]

    def setup():
        root = str(tmp_path / f"cp{next(it)}")
        df = spark.createDataFrame(rows, "k long, a string, b string")
        for _ in range(2):  # two appends: every leaf holds 2 files
            df.repartition(1).write.mode("append").partitionBy(
                "a", "b"
            ).parquet(f"{root}/t")
        return {"root": root, "path": f"{root}/t"}

    def op(ctx):
        # 2 leaves (a=a0/b=b0, a=a1/b=b1) to compact: the pool runs
        compact_partitions(spark, ctx["path"])

    def recover(ctx):
        op(ctx)

    def invariant(ctx):
        back = spark.read.parquet(ctx["path"])
        got = sorted((r["k"], r["a"], r["b"]) for r in back.collect())
        assert got == sorted(rows * 2)
        assert len(back.inputFiles()) == 2  # one file per compacted leaf
        assert _swap_residue(spark, ctx["root"]) == []

    n = _sweep(setup, op, recover, invariant)
    assert n >= 10  # per leaf: delete(tmp) + publish (delete, 2 renames, delete)


def test_sweep_erase_keys(spark, tmp_path):
    from kafka_connect_hdfs_spark.erasure import erase_keys

    it = iter(range(10_000))
    rows = [(k, f"p{k % 3}") for k in range(12)]
    victims = [1, 2, 4]  # in p1, p2, p1: two affected dirs, p0 untouched

    def setup():
        root = str(tmp_path / f"er{next(it)}")
        spark.createDataFrame(rows, "k long, p string").repartition(
            1
        ).write.partitionBy("p").parquet(f"{root}/t")
        return {"root": root, "path": f"{root}/t"}

    def op(ctx):
        erase_keys(spark, ctx["path"], "k", victims)

    def recover(ctx):
        op(ctx)

    def invariant(ctx):
        assert _rows(spark, ctx["path"], "k", "p") == {
            r for r in rows if r[0] not in victims
        }
        assert _swap_residue(spark, ctx["root"]) == []

    n = _sweep(setup, op, recover, invariant)
    assert n >= 10  # per dir: delete(tmp) + publish (delete, 2 renames, delete)


def test_sweep_write_audit_publish(spark, tmp_path):
    from kafka_connect_hdfs_spark.wap import write_audit_publish

    it = iter(range(10_000))
    old_rows = [(k, "old") for k in range(3)]
    new_rows = [(k, "new") for k in range(5)]

    def setup():
        root = str(tmp_path / f"wap{next(it)}")
        spark.createDataFrame(old_rows, "k long, tag string").write.parquet(
            f"{root}/t"
        )
        return {"root": root, "path": f"{root}/t"}

    def _wap(ctx, check):
        return write_audit_publish(
            spark,
            spark.createDataFrame(new_rows, "k long, tag string"),
            ctx["path"],
            checks=[("audit", check)],
        )

    def op(ctx):
        assert _wap(ctx, lambda d: d.count() > 0)["published"]

    def recover(ctx):
        # the staged data never derives from the live table, so a
        # re-run that passes its audit would hide a lost old table. A
        # re-run whose audit FAILS must leave the table readable: old
        # rows (its entry restore put a stranded backup back), or new
        # ones if the crash came after the publish rename
        assert not _wap(ctx, lambda d: False)["published"]
        assert _rows(spark, ctx["path"], "k", "tag") in (
            set(old_rows), set(new_rows)
        )
        op(ctx)

    def invariant(ctx):
        assert _rows(spark, ctx["path"], "k", "tag") == set(new_rows)
        assert _swap_residue(spark, ctx["root"]) == []

    n = _sweep(setup, op, recover, invariant)
    assert n >= 5  # delete(stage) + publish (delete, 2 renames, delete)


def test_sweep_relayout_global(spark, tmp_path):
    from kafka_connect_hdfs_spark.compaction import relayout_partitions

    it = iter(range(10_000))
    rows = [(k, f"a{k % 2}", f"b{k % 3}") for k in range(12)]

    def setup():
        root = str(tmp_path / f"rg{next(it)}")
        spark.createDataFrame(rows, "k long, a string, b string").repartition(
            1
        ).write.partitionBy("a").parquet(f"{root}/t")
        return {"root": root, "path": f"{root}/t"}

    def op(ctx):
        relayout_partitions(spark, ctx["path"], ["b"])

    def recover(ctx):
        op(ctx)

    def invariant(ctx):
        fs, Path = statedir.hadoop_fs(spark, ctx["path"])
        leaves = {
            st.getPath().getName()
            for st in fs.listStatus(Path(ctx["path"]))
            if st.isDirectory()
        }
        assert leaves == {"b=b0", "b=b1", "b=b2"}
        assert _rows(spark, ctx["path"], "k", "a", "b") == set(rows)
        assert _swap_residue(spark, ctx["root"]) == []

    n = _sweep(setup, op, recover, invariant)
    assert n >= 5  # delete(tmp) + publish (delete, 2 renames, delete)


# ---------------------------------------------------------------------------
# one filesystem seam: a module that acquired its FileSystem any other way
# would mutate outside every sweep above


def test_only_statedir_acquires_a_filesystem():
    import pathlib

    import kafka_connect_hdfs_spark

    pkg = pathlib.Path(kafka_connect_hdfs_spark.__file__).parent
    offenders = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if p.name != "statedir.py" or p.parent != pkg
        if "getFileSystem" in p.read_text(encoding="utf-8")
    )
    assert offenders == [], offenders
