"""Changelog MIRROR consumer: maintain a downstream replica of a
snapshot-log table from its delete-aware change feed — the consumer
half of :func:`kafka_connect_hdfs_spark.snapshots.changelog_scan`
(r12 VERDICT item 4). Reference analogue: the reference connector's
consumers re-read landed files wholesale; Delta/Iceberg mirror jobs
subscribe to the change feed instead and pay O(delta) per sync.

Per sync tick: read the mirror's last-applied source version from the
marker the previous swap published, scan the feed forward to the
source's latest version, and fold it into the mirror state as ONE
multiset update — ``state ∪ inserts`` minus ``deletes`` (``exceptAll``,
so duplicate rows keep honest counts; an insert-then-delete of the same
row inside the range nets out exactly). The fold and the marker publish
through :func:`statedir.swap_state_update` — one atomic unit, so a
crash either leaves the old state + old marker (the tick re-runs from
the same inputs) or the new state + new marker (the tick is a no-op).
Replay-safe without idempotent semantics: the marker IS the replay
guard.

TWO mirror shapes, chosen by the replica's size:

- :func:`sync_changelog_mirror` — the mirror is a plain parquet DIR,
  each tick rewrites it whole through the state swap. Right for
  BOUNDED downstream marts (the streaming-mart convention); the
  rewrite is O(mirror) per tick.
- :func:`sync_changelog_mirror_table` — the mirror is itself a
  SNAPSHOT TABLE and each tick lands as ONE atomic row-delta commit
  (:func:`snapshots.commit_changes`: delete the touched keys + insert
  the final images, marker in the same manifest rename). O(delta) per
  tick at ANY mirror size — the 100 TB shape.

Scale: each tick reads only the feed's delta dirs + tombstone scopes
(changelog_scan's O(delta + scope) contract — BENCH_SCALE lane
``changelog_scan``); with ``on_overwrite="diff"`` a replace boundary
honestly costs the two-state diff, still cheaper than the full resync
it replaces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_hdfs_spark.operators.iterate import materialized

_MARK = "_cdfsync_v"


def last_synced_version(
    spark: SparkSession, mirror_path: str
) -> "int | None":
    """The source version the mirror last applied (None before the
    bootstrap sync) — read from the marker file the state swap
    publishes atomically with the data."""
    from kafka_connect_hdfs_spark.statedir import state_marker

    name = state_marker(spark, mirror_path, _MARK)
    return None if name is None else int(name[len(_MARK):])


def _aligned(a: DataFrame, b: DataFrame) -> "tuple[DataFrame, DataFrame]":
    """Project both frames onto the union of their columns (missing
    columns fill as typed NULLs) so exceptAll's same-schema contract
    holds across schema-evolved feeds."""
    allcols = list(dict.fromkeys(a.columns + b.columns))
    for c in allcols:
        if c not in a.columns:
            a = a.withColumn(c, F.lit(None).cast(b.schema[c].dataType))
        if c not in b.columns:
            b = b.withColumn(c, F.lit(None).cast(a.schema[c].dataType))
    return a.select(allcols), b.select(allcols)


def sync_changelog_mirror(
    spark: SparkSession,
    src_path: str,
    mirror_path: str,
    on_overwrite: str = "refuse",
    options: "dict[str, str] | None" = None,
) -> dict:
    """One sync tick. Returns ``{"from_version", "to_version",
    "bootstrapped"}`` (``from_version`` None on the bootstrap tick,
    both equal when the mirror was already current).

    The first tick BOOTSTRAPS: one full ``read_snapshot`` of the
    source's latest version (every mirror starts with an initial copy —
    the feed only carries changes). Later ticks are incremental. A
    marker version the source has EXPIRED raises — the feed can no
    longer reconstruct the delta and the mirror must re-bootstrap
    (drop the mirror dir) — same contract as Iceberg's
    incremental-read-from-expired-snapshot.
    """
    from kafka_connect_hdfs_spark.snapshots import (
        changelog_scan, list_snapshots, read_snapshot,
    )
    from kafka_connect_hdfs_spark.statedir import (
        recover_state, swap_state_update,
    )

    # a crash between the previous swap's two renames leaves the state
    # (and its marker) at the backup path — restore BEFORE reading the
    # marker, or this tick would wrongly re-bootstrap
    recover_state(spark, mirror_path, "cdfsync")
    versions = list_snapshots(spark, src_path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {src_path}")
    latest = versions[-1]
    m = last_synced_version(spark, mirror_path)
    if m is None:
        snap = read_snapshot(spark, src_path, latest, options=options)
        swap_state_update(
            spark, mirror_path, lambda _s: snap, suffix="cdfsync",
            marker=f"{_MARK}{latest}",
        )
        return {
            "from_version": None, "to_version": latest, "bootstrapped": True,
        }
    if m == latest:
        return {
            "from_version": m, "to_version": latest, "bootstrapped": False,
        }
    if m not in versions:
        raise ValueError(
            f"mirror {mirror_path} last synced v{m} of {src_path}, which "
            f"has been expired (have {versions}): the delta is no longer "
            "reconstructable — delete the mirror dir to re-bootstrap"
        )
    # O(delta), consumed by both filters and released once the swap wrote
    with materialized(changelog_scan(
        spark, src_path, m, latest, options=options,
        on_overwrite=on_overwrite,
    )) as feed:
        inserts = feed.filter(F.col("change_type") == "insert").drop(
            "change_type", "change_version"
        )
        deletes = feed.filter(F.col("change_type") == "delete").drop(
            "change_type", "change_version"
        )

        def _upd(state: "DataFrame | None") -> DataFrame:
            # the marker proves state exists whenever m is not None; a None
            # state here means the dir vanished out-of-band — fail loudly
            # rather than silently rebuilding from the delta alone
            if state is None:
                raise IOError(
                    f"mirror state at {mirror_path} vanished but its sync "
                    "marker survived: refusing to rebuild from a delta"
                )
            new_state = state.unionByName(inserts, allowMissingColumns=True)
            new_state, dels = _aligned(new_state, deletes)
            return new_state.exceptAll(dels)

        swap_state_update(
            spark, mirror_path, _upd, suffix="cdfsync",
            marker=f"{_MARK}{latest}",
        )
    return {"from_version": m, "to_version": latest, "bootstrapped": False}


def sync_changelog_mirror_table(
    spark: SparkSession,
    src_path: str,
    mirror_path: str,
    key_col: str,
    on_overwrite: str = "refuse",
    options: "dict[str, str] | None" = None,
    now=None,
    validate: str = "feed",
) -> dict:
    """The 100 TB-shaped mirror: maintain the replica as a SNAPSHOT
    TABLE and apply each sync as ONE atomic row-delta commit
    (:func:`snapshots.commit_changes`) — O(delta) per tick, where the
    directory-state form (:func:`sync_changelog_mirror`) rewrites the
    whole mirror every tick (right for bounded marts, wrong for a
    table-sized replica). The replay marker (``mirror_of_version``)
    rides IN the commit's manifest, so the data and the marker publish
    in the same rename.

    Apply rule (the CDF-as-MERGE netting): reduce the feed to each
    key's LAST change (by change_version; insert outranks delete
    within a version — an overwrite-diff 'modified' key is
    delete+insert at one version and must land as the new image), then
    commit ``delete every touched key`` + ``insert the final images``
    in one row delta. The strict sequence rule makes the same-commit
    inserts survive their own tombstone, so delete-then-reinsert,
    update, and net-zero (insert-then-delete inside the range) all
    land exactly. Requires ``key_col`` to identify rows (non-null, one
    live row per key — the same contract as merge_keyed/delete_rows);
    multiset tables need the directory-state form.

    Contract ENFORCEMENT (``validate``): ``"feed"`` (default, O(delta))
    refuses NULL keys and any key whose feed insert/delete balance
    leaves more than one (or less than minus one) live copy — which
    catches every multiset violation expressible inside the range,
    same-version or cross-version. The one violation a feed cannot
    show: an insert of a key that was ALREADY live before the range
    with no intervening delete (indistinguishable from a legitimate
    re-insert of a dead key). ``validate="mirror"`` closes it by
    additionally semi-joining those first-op-is-insert keys against
    the mirror's live rows — an honest O(mirror key-column scan) per
    tick for bulletproof ticks on untrusted sources.

    A range that advanced versions but changed no rows (pure
    compactions) commits nothing and leaves the marker — the next tick
    re-derives the same empty feed from metadata, which is cheaper
    than spending a commit to move a pointer.

    Compaction cadence: each tick adds one tombstone; fold them back
    into data files with ``apply_deletes`` on the mirror at the same
    cadence as any delete-heavy table.
    """
    from pyspark.sql import Window

    from kafka_connect_hdfs_spark.snapshots import (
        changelog_scan, commit_changes, commit_snapshot, latest_property,
        list_snapshots, read_snapshot,
    )

    if validate not in ("feed", "mirror"):
        raise ValueError(f"unknown validate mode: {validate!r}")
    versions = list_snapshots(spark, src_path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {src_path}")
    latest = versions[-1]
    if not list_snapshots(spark, mirror_path):
        snap = read_snapshot(spark, src_path, latest, options=options)
        mv = commit_snapshot(
            spark, snap, mirror_path, now=now,
            properties={"mirror_of_version": latest},
        )
        return {
            "from_version": None, "to_version": latest,
            "bootstrapped": True, "mirror_version": mv,
        }
    marked = latest_property(spark, mirror_path, "mirror_of_version")
    if marked is None:
        raise ValueError(
            f"{mirror_path} is a snapshot table but carries no "
            "mirror_of_version property: refusing to treat a foreign "
            "table as a mirror"
        )
    m = int(marked[1])
    if m == latest:
        return {
            "from_version": m, "to_version": latest,
            "bootstrapped": False, "mirror_version": None,
        }
    if m not in versions:
        raise ValueError(
            f"mirror {mirror_path} last synced v{m} of {src_path}, which "
            f"has been expired (have {versions}): the delta is no longer "
            "reconstructable — delete the mirror table to re-bootstrap"
        )
    # materialize the feed ONCE: it is O(delta) by contract, and every
    # consumer below (contract checks, netting window, touched keys,
    # commit_changes' emptiness probes and both writes) would otherwise
    # re-derive the whole changelog plan per action — measured at ~2x
    # the tick cost in the scale lane; released once the commit wrote
    with materialized(changelog_scan(
        spark, src_path, m, latest, options=options,
        on_overwrite=on_overwrite,
    )) as feed:
        w = Window.partitionBy(key_col).orderBy(
            F.col("change_version").desc(),
            F.when(F.col("change_type") == "insert", 1).otherwise(0).desc(),
        )
        # rank(), not row_number(): ties (two images of one key at the same
        # version with the same change_type — a multiset source) must BOTH
        # survive so the contract check below can see them; for a keyed
        # source rank and row_number pick identically
        last = (
            feed.withColumn("_rn", F.rank().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        final_ins = last.filter(F.col("change_type") == "insert").drop(
            "change_type", "change_version"
        )
        touched = feed.select(key_col).distinct()
        # ENFORCE the keyed-table contract instead of documenting it (a
        # violation diverges SILENTLY: a NULL-keyed row re-inserts every
        # tick because its tombstone matches nothing; a duplicate-keyed
        # source nets multiple live copies down to one image). The default
        # checks are O(delta) — they scan the feed, never a table.
        # per-key insert/delete balance: a keyed source alternates
        # insert/delete per key, so the range balance is -1, 0, or +1; any
        # |balance| > 1 proves multiple live copies existed at once —
        # same-version duplicates and cross-version double-inserts alike.
        # The NULL-key census rides the same single aggregation (a NULL key
        # is its own group).
        delta = F.when(F.col("change_type") == "insert", 1).otherwise(-1)
        bad = (
            feed.groupBy(key_col)
            .agg(F.sum(delta).alias("_bal"))
            .filter(
                F.col(key_col).isNull() | (F.abs(F.col("_bal")) > 1)
            )
            .limit(1)
            .collect()
        )
        if bad:
            if bad[0][key_col] is None:
                raise ValueError(
                    f"change feed of {src_path} carries NULL {key_col!r} "
                    "keys: the row-delta mirror needs a non-null identifier "
                    "— use sync_changelog_mirror (directory form) for such "
                    "tables"
                )
            raise ValueError(
                f"change feed of {src_path} shows a {key_col!r} key with "
                "more than one live copy inside the range: the source is "
                "not keyed (one live row per key) — use "
                "sync_changelog_mirror (directory/multiset form) instead"
            )
        if validate == "mirror":
            # the one feed-invisible violation: an insert of a key already
            # live BEFORE the range with no intervening delete. First op
            # per key == insert AND key currently live in the mirror ⇒
            # violation. O(mirror key-column scan), opt-in.
            w_first = Window.partitionBy(key_col).orderBy(
                F.col("change_version").asc(),
                F.when(F.col("change_type") == "delete", 0).otherwise(1).asc(),
            )
            fresh = (
                feed.withColumn("_rn", F.row_number().over(w_first))
                .filter(
                    (F.col("_rn") == 1) & (F.col("change_type") == "insert")
                )
                .select(key_col)
            )
            clash = (
                read_snapshot(spark, mirror_path, options=options)
                .select(key_col)
                .join(fresh, key_col, "left_semi")
                .limit(1)
                .count()
            )
            if clash:
                raise ValueError(
                    f"change feed of {src_path} inserts a {key_col!r} key "
                    "that is already live in the mirror with no intervening "
                    "delete: the source is not keyed — use "
                    "sync_changelog_mirror (directory/multiset form) instead"
                )
        mv = commit_changes(
            spark, mirror_path, final_ins, touched, key_col, now=now,
            properties={"mirror_of_version": latest},
        )
    return {
        "from_version": m, "to_version": latest, "bootstrapped": False,
        "mirror_version": mv,
    }


def start_changelog_mirror(
    trigger: DataFrame,
    src_path: str,
    mirror_path: str,
    checkpoint: str,
    on_overwrite: str = "refuse",
    options: "dict[str, str] | None" = None,
    available_now: bool = True,
    key_col: "str | None" = None,
):
    """The foreachBatch lane: run one mirror sync tick per micro-batch
    of ``trigger`` (any stream works — a rate source for wall-clock
    polling, a notification topic for push). The tick is
    marker-guarded, so redundant or replayed triggers are no-ops; the
    batch's own rows are only a clock. With ``key_col`` the tick is the
    snapshot-TABLE form (:func:`sync_changelog_mirror_table`, O(delta)
    row-delta commits); without it, the directory form."""
    spark = trigger.sparkSession

    def _tick(batch_df: DataFrame, batch_id: int) -> None:
        if key_col is not None:
            sync_changelog_mirror_table(
                spark, src_path, mirror_path, key_col,
                on_overwrite=on_overwrite, options=options,
            )
        else:
            sync_changelog_mirror(
                spark, src_path, mirror_path, on_overwrite=on_overwrite,
                options=options,
            )

    writer = trigger.writeStream.foreachBatch(_tick).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
