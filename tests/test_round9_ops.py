"""Round-9 semantics pins: the r08 ADVICE fixes (config string coercion,
mart equal-zero adoption ambiguity, Benford quantize_scale domain knob,
MI/KS overflow-safe arithmetic) and the r08 verdict items (two-phase KS
prefix sum, incremental relayout, clone-aware retention, general MERGE).
"""

from __future__ import annotations

import pytest


# ---------------------------------------------------------------------------
# config.py — Connect-style string coercion (r08 ADVICE item 4)


def test_validate_config_accepts_string_booleans():
    from kafka_connect_hdfs_spark.config import validate_config

    # Connect's REST path delivers every value as a string: the canonical
    # forms must validate clean
    errs = validate_config(
        {
            "hive.integration": "true",
            "schema.compatibility": "BACKWARD",
            "hdfs.authentication.kerberos": "false",
        }
    )
    assert errs == {}
    # and the hive gate fires off the coerced string value
    errs = validate_config(
        {"hive.integration": "TRUE", "schema.compatibility": "NONE"}
    )
    assert "schema.compatibility" in errs


def test_validate_config_rejects_non_boolean_strings():
    from kafka_connect_hdfs_spark.config import validate_config

    errs = validate_config({"hive.integration": "yes"})
    assert "hive.integration" in errs


def test_validate_config_non_numeric_interval_is_error_not_raise():
    from kafka_connect_hdfs_spark.config import validate_config

    # pre-fix this raised ValueError out of the per-key validator
    errs = validate_config({"rotate.schedule.interval.ms": "sixty"})
    assert "rotate.schedule.interval.ms" in errs
    assert "integer" in errs["rotate.schedule.interval.ms"][0]


def test_is_visible_tolerates_bad_interval_and_string_bools():
    from kafka_connect_hdfs_spark.config import is_visible

    # unparseable interval: a validate problem, not a visibility crash
    assert is_visible(
        "timezone",
        {"partitioner.class": "default", "rotate.schedule.interval.ms": "x"},
    ) is False
    # string 'true' gates dependents on; string 'false' leaves them off
    assert is_visible("hive.database", {"hive.integration": "true"}) is True
    assert is_visible("hive.database", {"hive.integration": "false"}) is False
    assert is_visible(
        "connect.hdfs.keytab", {"hdfs.authentication.kerberos": "true"}
    ) is True


def test_recommended_values_hive_gate_on_string_bool():
    from kafka_connect_hdfs_spark.config import recommended_values

    vals = recommended_values(
        "schema.compatibility", {"hive.integration": "true"}
    )
    assert "NONE" not in vals and "BACKWARD" in vals


# ---------------------------------------------------------------------------
# streaming/mart.py — equal-zero legacy adoption ambiguity (r08 ADVICE 3)


def test_mart_legacy_zero_marker_fresh_stream_raises_not_drops(
    spark, tmp_path
):
    """Legacy `_applied_0` marker + a stream caller at batch 0 is
    indistinguishable from a FRESH checkpoint; pre-fix the batch was
    silently skipped as a replay (data drop). It must raise the
    ownership error instead."""
    from kafka_connect_hdfs_spark.streaming.mart import _refresh_batch

    mart = str(tmp_path / "mart")
    batch = spark.createDataFrame([("a", 1.0)], "k string, value double")
    _refresh_batch(
        spark, batch, mart, ["k"], "n_rows", {"value": "v"}, batch_id=0
    )  # legacy-format marker _applied_0
    with pytest.raises(ValueError, match="batch API"):
        _refresh_batch(
            spark, batch, mart, ["k"], "n_rows", {"value": "v"},
            batch_id=0, stream_id="fresh-stream",
        )
    # and the mart was NOT double-folded or dropped: still exactly batch 1
    assert (
        spark.read.parquet(mart).agg({"n_rows": "sum"}).collect()[0][0] == 1
    )


def test_mart_legacy_nonzero_equal_id_still_adopts(spark, tmp_path):
    """The genuine-resume path is unchanged: a legacy marker at n > 0 and
    the SAME stream replaying batch n is adopted and skipped."""
    from kafka_connect_hdfs_spark.streaming.mart import _refresh_batch

    mart = str(tmp_path / "mart")
    batch = spark.createDataFrame([("a", 1.0)], "k string, value double")
    _refresh_batch(
        spark, batch, mart, ["k"], "n_rows", {"value": "v"}, batch_id=2
    )
    _refresh_batch(
        spark, batch, mart, ["k"], "n_rows", {"value": "v"},
        batch_id=2, stream_id="orig-stream",
    )  # replay: skipped, no raise
    assert (
        spark.read.parquet(mart).agg({"n_rows": "sum"}).collect()[0][0] == 1
    )


def test_mart_legacy_zero_marker_later_batch_adopts(spark, tmp_path):
    """Legacy `_applied_0` + the same stream delivering batch 1 is a
    consistent resume (strictly greater id) and must fold."""
    from kafka_connect_hdfs_spark.statedir import state_marker
    from kafka_connect_hdfs_spark.streaming.mart import _refresh_batch

    mart = str(tmp_path / "mart")
    batch = spark.createDataFrame([("a", 1.0)], "k string, value double")
    _refresh_batch(
        spark, batch, mart, ["k"], "n_rows", {"value": "v"}, batch_id=0
    )
    _refresh_batch(
        spark, batch, mart, ["k"], "n_rows", {"value": "v"},
        batch_id=1, stream_id="orig-stream",
    )
    assert state_marker(spark, mart, "_applied_") == "_applied_orig-stream_1"
    assert (
        spark.read.parquet(mart).agg({"n_rows": "sum"}).collect()[0][0] == 2
    )


# ---------------------------------------------------------------------------
# quality.benford_profile — quantize_scale domain knob (r08 ADVICE 5)


def test_benford_scale_resolves_small_magnitudes(spark):
    from kafka_connect_hdfs_spark.operators.quality import benford_profile

    df = spark.createDataFrame([(0.025,)], "value double")
    # default cents grid: 0.025 -> 3 cents -> digit 3 (documented domain
    # assumption: the digit of the QUANTIZED value)
    d2 = {r["digit"]: r["n"] for r in benford_profile(df).collect()}
    assert d2[3] == 1 and d2[2] == 0
    # a grid fine enough for the magnitude recovers the true digit 2
    d4 = {
        r["digit"]: r["n"]
        for r in benford_profile(df, quantize_scale=4).collect()
    }
    assert d4[2] == 1 and d4[3] == 0


def test_benford_subgrid_values_excluded(spark):
    from kafka_connect_hdfs_spark.operators.quality import benford_profile

    df = spark.createDataFrame([(0.004,), (1.0,)], "value double")
    rows = {r["digit"]: r["n"] for r in benford_profile(df).collect()}
    assert rows[1] == 1 and sum(rows.values()) == 1  # 0.004 -> 0 cents, out


# ---------------------------------------------------------------------------
# quality.ks_drift — two-phase prefix sum + decimal gap (r08 verdict 2)


def test_ks_drift_grid_partitions_param_and_values(spark):
    from kafka_connect_hdfs_spark.operators.quality import ks_drift

    ref = spark.createDataFrame([(float(i),) for i in range(10)], "value double")
    cur = spark.createDataFrame(
        [(float(i),) for i in range(5, 15)], "value double"
    )
    # the prefix-sum result must not depend on how many ranges the grid
    # is split into
    r1 = ks_drift(ref, cur, grid_partitions=1).collect()[0]
    r7 = ks_drift(ref, cur, grid_partitions=7).collect()[0]
    assert (r1["d_num"], r1["ks_stat"]) == (r7["d_num"], r7["ks_stat"])
    # ECDFs overlap on [5,9]: max gap is 5 rows * 10 = 50, D = 0.5
    assert r1["d_num"] == 50.0 and r1["ks_stat"] == 0.5


def test_ks_drift_dnum_is_deterministic_double(spark):
    from kafka_connect_hdfs_spark.operators.quality import ks_drift

    df = spark.createDataFrame([(1.0,), (2.0,)], "value double")
    out = ks_drift(df, df)
    schema = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    # d_num is the split-derived double (exact below 2**53) so the gap
    # product can pass 2**63 at 100 TB without wrapping (r08 ADVICE)
    assert schema["d_num"] == "double"
    assert out.collect()[0]["d_num"] == 0.0


# ---------------------------------------------------------------------------
# quality.mutual_information — overflow-safe factor products


def test_mutual_info_values_unchanged_by_double_factors(spark):
    import math

    from kafka_connect_hdfs_spark.operators.quality import mutual_information

    df = spark.createDataFrame(
        [("x", "p")] * 4 + [("x", "q")] * 2 + [("y", "q")] * 2,
        "a string, b string",
    )
    rows = {(r["a"], r["b"]): r for r in mutual_information(df, "a", "b").collect()}
    r = rows[("x", "p")]
    want = (4 / 8) * math.log((4.0 * 8.0) / (6.0 * 4.0))
    assert abs(r["mi_contrib"] - want) < 1e-6
    assert (r["n_ab"], r["n_a"], r["n_b"]) == (4, 6, 4)


# ---------------------------------------------------------------------------
# snapshots — clone-aware retention (r08 ADVICE high + verdict item 4)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_expire_on_clone_never_deletes_source_files(spark, tmp_path):
    """THE r08 ADVICE scenario: clone -> overwrite commit on the clone ->
    expire_snapshots(clone, keep_last=1) previously deleted the SOURCE
    table's data dirs (the clone's v1 manifest lists them). Deletion is
    now scoped to the clone's own data/ prefix."""
    from kafka_connect_hdfs_spark.snapshots import (
        clone_table, commit_snapshot, expire_snapshots, read_snapshot,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "clone")
    commit_snapshot(spark, _mk(spark, [(i, "a") for i in range(10)]), src)
    clone_table(spark, src, dst)
    commit_snapshot(spark, _mk(spark, [(99, "z")]), dst, mode="overwrite")
    expired = expire_snapshots(spark, dst, keep_last=1)
    assert expired == [1]
    # the source is fully intact and readable
    assert read_snapshot(spark, src).count() == 10
    assert read_snapshot(spark, dst).count() == 1


def test_expire_on_source_refused_while_clone_live(spark, tmp_path):
    from kafka_connect_hdfs_spark.snapshots import (
        clone_table, commit_snapshot, expire_snapshots, read_snapshot,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "clone")
    commit_snapshot(spark, _mk(spark, [(1, "a")]), src)       # v1
    clone_table(spark, src, dst)                               # pins v1 dirs
    commit_snapshot(spark, _mk(spark, [(2, "b")]), src)        # v2 overwrite
    with pytest.raises(ValueError, match="clone"):
        expire_snapshots(spark, src, keep_last=1)
    # atomic refusal: nothing deleted, nothing unmanifested
    assert read_snapshot(spark, src, version=1).count() == 1
    assert read_snapshot(spark, dst).count() == 1


def test_expire_proceeds_after_drop_clone(spark, tmp_path):
    from kafka_connect_hdfs_spark.snapshots import (
        clone_table, commit_snapshot, drop_clone, expire_snapshots,
        list_snapshots,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "clone")
    commit_snapshot(spark, _mk(spark, [(1, "a")]), src)
    clone_table(spark, src, dst)
    commit_snapshot(spark, _mk(spark, [(2, "b")]), src)
    assert drop_clone(spark, src, dst) is True
    assert expire_snapshots(spark, src, keep_last=1) == [1]
    assert list_snapshots(spark, src) == [2]


def test_expire_sweeps_stale_registration_of_deleted_clone(spark, tmp_path):
    import shutil

    from kafka_connect_hdfs_spark.snapshots import (
        clone_table, commit_snapshot, expire_snapshots, list_clones,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "clone")
    commit_snapshot(spark, _mk(spark, [(1, "a")]), src)
    clone_table(spark, src, dst)
    commit_snapshot(spark, _mk(spark, [(2, "b")]), src)
    shutil.rmtree(dst)  # deleting the clone table IS dropping the clone
    assert expire_snapshots(spark, src, keep_last=1) == [1]
    assert list_clones(spark, src) == []  # stale registration swept


def test_expire_allowed_when_clone_pins_survive(spark, tmp_path):
    """A clone pinning files that SURVIVING manifests still reference
    does not block expiry of other versions."""
    from kafka_connect_hdfs_spark.snapshots import (
        clone_table, commit_snapshot, expire_snapshots,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "clone")
    commit_snapshot(spark, _mk(spark, [(1, "a")]), src)              # v1
    commit_snapshot(spark, _mk(spark, [(2, "b")]), src, mode="append")  # v2
    clone_table(spark, src, dst)  # pins v2's files = v1 dirs + v2 dirs
    # expiring v1 deletes nothing (its dir survives in v2's manifest)
    assert expire_snapshots(spark, src, keep_last=1) == [1]


def test_orphan_report_counts_clone_pins_as_live(spark, tmp_path):
    from kafka_connect_hdfs_spark.snapshots import (
        clone_table, commit_snapshot, orphan_report,
    )
    from kafka_connect_hdfs_spark.statedir import hadoop_fs as _sfs

    src = str(tmp_path / "src")
    dst = str(tmp_path / "clone")
    commit_snapshot(spark, _mk(spark, [(1, "a")]), src)
    clone_table(spark, src, dst)
    # simulate an expired-version dir that ONLY the clone still pins:
    # remove the v1 manifest by hand (leaving data/v1 unmanifested)
    fs, Path = _sfs(spark, src)
    fs.delete(Path(f"{src}/_snapshots/v1.json"), False)
    rows = {r["data_dir"]: r for r in orphan_report(spark, src).collect()}
    # without clone awareness this dir would report 'orphan' (vacuum bait)
    assert rows["v1"]["status"] == "live"
    assert rows["v1"]["n_refs"] == 1


def test_reclone_after_clone_deletion_is_idempotent(spark, tmp_path):
    import shutil

    from kafka_connect_hdfs_spark.snapshots import (
        clone_table, commit_snapshot, list_clones, read_snapshot,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "clone")
    commit_snapshot(spark, _mk(spark, [(1, "a")]), src)
    clone_table(spark, src, dst)
    shutil.rmtree(dst)
    clone_table(spark, src, dst)  # stale registration must be replaced
    assert len(list_clones(spark, src)) == 1
    assert read_snapshot(spark, dst).count() == 1


# ---------------------------------------------------------------------------
# compaction.relayout_partitions — incremental scope (r08 verdict item 3)


def _inodes(root):
    import os

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(dirpath, f)
            out[os.path.relpath(p, root)] = os.stat(p).st_ino
    return out


def test_relayout_scoped_is_restartable_and_inode_stable(spark, tmp_path):
    from kafka_connect_hdfs_spark.compaction import relayout_partitions

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "click" if i % 2 else "view", f"d{i % 3}") for i in range(30)],
        "event_id long, event_type string, day string",
    )
    df.write.partitionBy("event_type").parquet(path)
    before = _inodes(path)

    # mid-sequence: one old leaf relayed; live table byte-untouched
    out1 = relayout_partitions(spark, path, ["day"], scope=["event_type=click"])
    assert out1 == {}
    assert _inodes(path) == before  # every live file inode-identical
    assert spark.read.parquet(path).count() == 30  # readers unaffected

    # re-running a completed leaf is a no-op (per-leaf done marker)
    assert relayout_partitions(
        spark, path, ["day"], scope=["event_type=click"]
    ) == {}
    assert _inodes(path) == before

    # completing the last old leaf performs the atomic cutover
    out2 = relayout_partitions(spark, path, ["day"], scope=["event_type=view"])
    assert out2 and all(k.startswith("day=") for k in out2)
    back = spark.read.parquet(path)
    assert back.count() == 30
    # full fidelity incl. the OLD partition column rehydrated into rows
    assert (
        back.filter("event_type = 'click'").count()
        == df.filter("event_type = 'click'").count()
    )
    assert {r["day"] for r in back.select("day").distinct().collect()} == {
        "d0", "d1", "d2"
    }


def test_relayout_scoped_unknown_leaf_raises(spark, tmp_path):
    from kafka_connect_hdfs_spark.compaction import relayout_partitions

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", "x")], "event_id long, event_type string, day string"
    ).write.partitionBy("event_type").parquet(path)
    with pytest.raises(ValueError, match="not leaf dirs"):
        relayout_partitions(spark, path, ["day"], scope=["event_type=nope"])


def test_relayout_global_drops_stale_scoped_stage(spark, tmp_path):
    """A global relayout in the middle of a scoped sequence replaces the
    table the stage was built from: a later scoped sequence over the new
    layout starts afresh and cuts over to exactly the table's rows."""
    from kafka_connect_hdfs_spark.compaction import relayout_partitions

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"a{i % 2}", f"b{i % 3}", f"c{i % 2}") for i in range(12)],
        "id long, a string, b string, c string",
    )
    df.write.partitionBy("a").parquet(path)
    assert relayout_partitions(spark, path, ["b"], scope=["a=a0"]) == {}
    assert set(relayout_partitions(spark, path, ["b"])) == {"b=b0", "b=b1", "b=b2"}
    assert not (tmp_path / ".t__relayout_stage").exists()

    for leaf in ("b=b0", "b=b1"):
        assert relayout_partitions(spark, path, ["c"], scope=[leaf]) == {}
    out = relayout_partitions(spark, path, ["c"], scope=["b=b2"])
    assert set(out) == {"c=c0", "c=c1"}
    back = spark.read.parquet(path).select("id", "a", "b", "c")
    assert sorted(back.collect()) == sorted(df.collect())


def test_relayout_scoped_purges_crashed_half_move(spark, tmp_path):
    """A crash after SOME files moved into the stage but before the done
    marker: restart must purge the half-moved prefix files and redo the
    leaf exactly once (no duplicates)."""
    import glob
    import os

    from kafka_connect_hdfs_spark.compaction import (
        _leaf_reg, relayout_partitions,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "click", f"d{i % 2}") for i in range(10)],
        "event_id long, event_type string, day string",
    )
    df.write.partitionBy("event_type").parquet(path)
    stage = str(tmp_path / ".t__relayout_stage")
    # simulate the crashed attempt: a stray prefixed file, NO done marker
    reg = _leaf_reg("event_type=click")
    os.makedirs(f"{stage}/day=d0", exist_ok=True)
    with open(f"{stage}/day=d0/p{reg}_stray.parquet", "w") as f:
        f.write("junk")
    out = relayout_partitions(spark, path, ["day"], scope=["event_type=click"])
    assert out and set(out) == {"day=d0", "day=d1"}
    assert glob.glob(f"{path}/**/*stray*", recursive=True) == []
    assert spark.read.parquet(path).count() == 10


def test_relayout_scoped_roll_forward_after_swap_crash(spark, tmp_path):
    """Crash between the final cutover's two renames leaves: live table
    ABSENT, old layout at the .__relayout_old sibling, COMPLETE stage
    (all leaves + done markers). The next scoped call must roll the
    cutover forward — stage becomes live, markers swept, old dropped.
    (Mid-sequence the live dir is never renamed, so live-missing +
    stage-present can only be this exact window.)"""
    import glob
    import os

    from kafka_connect_hdfs_spark.compaction import (
        _DONE_PREFIX, _leaf_reg, relayout_partitions,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "click" if i % 2 else "view", f"d{i % 2}") for i in range(10)],
        "event_id long, event_type string, day string",
    )
    # the completing call produced the new tree: run it, then reconstruct
    # the crashed state by hand from its output
    df.write.partitionBy("event_type").parquet(path)
    relayout_partitions(
        spark, path, ["day"], scope=["event_type=click", "event_type=view"]
    )
    stage = str(tmp_path / ".t__relayout_stage")
    old = str(tmp_path / ".t__relayout_old")
    os.rename(path, stage)  # new tree back to the stage position
    for rel in ("event_type=click", "event_type=view"):
        open(f"{stage}/{_DONE_PREFIX}{_leaf_reg(rel)}", "w").close()
    df.write.partitionBy("event_type").parquet(old)  # the swapped-out old

    out = relayout_partitions(spark, path, ["day"], scope=[])
    assert out and all(k.startswith("day=") for k in out)
    assert spark.read.parquet(path).count() == 10
    assert not os.path.exists(old) and not os.path.exists(stage)
    assert glob.glob(f"{path}/{_DONE_PREFIX}*") == []


def test_relayout_scoped_restore_after_swap_out_only_crash(spark, tmp_path):
    """Crash where the global-mode swap-out landed but no stage exists
    (old present, live absent, no stage): the scoped entry restores the
    old tree instead of failing on a missing table."""
    import os

    from kafka_connect_hdfs_spark.compaction import relayout_partitions

    path = str(tmp_path / "t")
    old = str(tmp_path / ".t__relayout_old")
    spark.createDataFrame(
        [(i, "click", f"d{i % 2}") for i in range(6)],
        "event_id long, event_type string, day string",
    ).write.partitionBy("event_type").parquet(old)
    assert not os.path.exists(path)
    out = relayout_partitions(spark, path, ["day"], scope=[])
    assert out == {}  # restored, nothing staged yet
    assert spark.read.parquet(path).count() == 6


# ---------------------------------------------------------------------------
# merge.merge_keyed — general cross-partition MERGE (r08 verdict item 7)


def _landing(spark, path):
    df = spark.createDataFrame(
        [
            (1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0),
            (4, "b", 40.0), (5, "c", 50.0),
        ],
        "k long, p string, v double",
    )
    df.write.partitionBy("p").parquet(path)
    return df


def test_merge_keyed_update_insert_and_cross_partition_move(spark, tmp_path):
    from kafka_connect_hdfs_spark.merge import merge_keyed

    path = str(tmp_path / "t")
    _landing(spark, path)
    updates = spark.createDataFrame(
        [
            (2, "a", 21.0),   # in-place update
            (3, "c", 31.0),   # key MOVES b -> c
            (9, "b", 90.0),   # brand-new key
        ],
        "k long, p string, v double",
    )
    stats = merge_keyed(spark, path, updates, "k", "p")
    got = {
        (r["k"], r["p"], r["v"]) for r in spark.read.parquet(path).collect()
    }
    assert got == {
        (1, "a", 10.0), (2, "a", 21.0), (4, "b", 40.0),
        (9, "b", 90.0), (3, "c", 31.0), (5, "c", 50.0),
    }
    assert stats["n_partitions_touched"] == 3  # a, b, c all involved
    assert stats["n_partitions_dropped"] == 0


def test_merge_keyed_untouched_partition_inode_identical(spark, tmp_path):
    import os

    from kafka_connect_hdfs_spark.merge import merge_keyed

    path = str(tmp_path / "t")
    _landing(spark, path)
    before = {
        f: os.stat(os.path.join(path, "p=c", f)).st_ino
        for f in os.listdir(f"{path}/p=c")
        if not f.startswith((".", "_"))
    }
    updates = spark.createDataFrame([(1, "a", 11.0)], "k long, p string, v double")
    merge_keyed(spark, path, updates, "k", "p")
    after = {
        f: os.stat(os.path.join(path, "p=c", f)).st_ino
        for f in os.listdir(f"{path}/p=c")
        if not f.startswith((".", "_"))
    }
    assert after == before  # p=c (and p=b) never read, written, or renamed
    got = {(r["k"], r["v"]) for r in spark.read.parquet(path).filter("p='a'").collect()}
    assert got == {(1, 11.0), (2, 20.0)}


def test_merge_keyed_delete_and_partition_drop(spark, tmp_path):
    import os

    from kafka_connect_hdfs_spark.merge import merge_keyed

    path = str(tmp_path / "t")
    _landing(spark, path)
    updates = spark.createDataFrame(
        [(5, "c", 0.0, True), (3, "a", 31.0, False)],
        "k long, p string, v double, is_del boolean",
    )
    # deleting k=5 empties p=c; k=3 moves b -> a: p=b keeps only k=4
    stats = merge_keyed(spark, path, updates, "k", "p", delete_col="is_del")
    assert stats["n_partitions_dropped"] == 1
    assert not os.path.exists(f"{path}/p=c")
    got = {
        (r["k"], r["p"], r["v"]) for r in spark.read.parquet(path).collect()
    }
    assert got == {
        (1, "a", 10.0), (2, "a", 20.0), (3, "a", 31.0), (4, "b", 40.0),
    }


def test_merge_keyed_rejects_duplicate_source_keys(spark, tmp_path):
    from kafka_connect_hdfs_spark.merge import merge_keyed

    path = str(tmp_path / "t")
    _landing(spark, path)
    updates = spark.createDataFrame(
        [(2, "a", 1.0), (2, "b", 2.0)], "k long, p string, v double"
    )
    with pytest.raises(ValueError, match="key-unique"):
        merge_keyed(spark, path, updates, "k", "p")


def test_merge_keyed_recovers_crashed_drop(spark, tmp_path):
    """A __merge_dropped backup (drop crashed before its delete) rolls
    forward on the next merge; an __merge_old with missing live sibling
    restores."""
    import os
    import shutil

    from kafka_connect_hdfs_spark.merge import merge_keyed

    path = str(tmp_path / "t")
    _landing(spark, path)
    # crashed drop: p=c renamed aside but not yet deleted
    os.rename(f"{path}/p=c", f"{path}/.p=c__merge_dropped")
    # crashed swap: p=a renamed aside, staged never landed
    os.rename(f"{path}/p=a", f"{path}/.p=a__merge_old")
    merge_keyed(
        spark, path,
        spark.createDataFrame([(4, "b", 41.0)], "k long, p string, v double"),
        "k", "p",
    )
    got = {
        (r["k"], r["p"], r["v"]) for r in spark.read.parquet(path).collect()
    }
    # p=a restored, p=c drop completed, the b update applied
    assert got == {(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "b", 41.0)}
    assert not os.path.exists(f"{path}/.p=c__merge_dropped")
    shutil.rmtree(path)


# ---------------------------------------------------------------------------
# streaming.drift — per-batch KS grid fold ≡ batch recompute (verdict 5)


def test_stream_ks_grid_fold_equals_batch(spark, tmp_path):
    from kafka_connect_hdfs_spark.operators.quality import (
        ks_drift, ks_from_grids, quantized_counts,
    )
    from kafka_connect_hdfs_spark.streaming.drift import start_ks_grid_refresh

    ref = spark.createDataFrame(
        [(float(i % 7),) for i in range(40)], "value double"
    )
    cur = spark.createDataFrame(
        [(float(i % 9) + 0.5,) for i in range(40)], "value double"
    )
    src = str(tmp_path / "src")
    cur.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_ks_grid_refresh(
        stream, str(tmp_path / "grid"), "value", str(tmp_path / "chk")
    )
    assert q.awaitTermination(120)
    streamed = ks_from_grids(
        quantized_counts(ref, "value"),
        spark.read.parquet(str(tmp_path / "grid")).select("q", "n"),
    ).collect()[0]
    batch = ks_drift(ref, cur).collect()[0]
    assert (
        streamed["n_ref"], streamed["n_cur"],
        streamed["d_num"], streamed["ks_stat"],
    ) == (batch["n_ref"], batch["n_cur"], batch["d_num"], batch["ks_stat"])


# ---------------------------------------------------------------------------
# quality.jsd_drift + streaming PSI


def test_jsd_identical_samples_zero(spark):
    from kafka_connect_hdfs_spark.operators.quality import jsd_drift

    df = spark.createDataFrame([(float(i),) for i in range(20)], "value double")
    rows = jsd_drift(df, df).collect()
    assert len(rows) == 10
    assert all(r["jsd_contrib"] == 0.0 for r in rows)


def test_jsd_disjoint_samples_ln2(spark):
    import math

    from kafka_connect_hdfs_spark.operators.quality import jsd_drift

    # ref mass in buckets 0 and 9, cur mass in bucket 5 only (out-of-range
    # values would CLAMP into ref's edge buckets and overlap — in-range
    # disjointness is the true upper-bound case)
    ref = spark.createDataFrame([(0.0,), (10.0,)], "value double")
    cur = spark.createDataFrame([(5.0,), (5.1,)], "value double")
    total = sum(r["jsd_contrib"] for r in jsd_drift(ref, cur).collect())
    # fully disjoint distributions: JSD = ln 2 (the upper bound)
    assert abs(total - math.log(2.0)) < 1e-5


def test_jsd_bounded_and_nonnegative(spark):
    import math

    from kafka_connect_hdfs_spark.operators.quality import jsd_drift

    ref = spark.createDataFrame([(float(i % 13),) for i in range(50)], "value double")
    cur = spark.createDataFrame([(float(i % 7) * 1.7,) for i in range(50)], "value double")
    rows = jsd_drift(ref, cur).collect()
    assert all(r["jsd_contrib"] >= 0.0 for r in rows)
    assert sum(r["jsd_contrib"] for r in rows) <= math.log(2.0) + 1e-9


def test_stream_psi_bucket_fold_equals_batch(spark, tmp_path):
    from kafka_connect_hdfs_spark.operators.quality import (
        bucket_counts, psi_drift, psi_from_counts,
    )
    from kafka_connect_hdfs_spark.streaming.drift import (
        start_psi_bucket_refresh,
    )

    ref = spark.createDataFrame(
        [(float(i % 11),) for i in range(60)], "value double"
    )
    cur = spark.createDataFrame(
        [(float(i % 5) * 3.3 - 1.0,) for i in range(60)], "value double"
    )
    lo, hi = 0.0, 10.0  # the frozen reference min/max
    src = str(tmp_path / "src")
    cur.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_psi_bucket_refresh(
        stream, str(tmp_path / "b"), "value", str(tmp_path / "chk"),
        lo=lo, hi=hi,
    )
    assert q.awaitTermination(120)
    streamed = psi_from_counts(
        bucket_counts(ref, "value", lo, hi),
        spark.read.parquet(str(tmp_path / "b")).select("bucket", "n"),
    ).orderBy("bucket").collect()
    batch = psi_drift(ref, cur, "value").orderBy("bucket").collect()
    assert [tuple(r) for r in streamed] == [tuple(r) for r in batch]


# ---------------------------------------------------------------------------
# snapshots.read_incremental — incremental scan


def test_incremental_read_returns_only_added_rows(spark, tmp_path):
    from kafka_connect_hdfs_spark.snapshots import (
        commit_snapshot, read_incremental,
    )

    path = str(tmp_path / "t")
    commit_snapshot(spark, _mk(spark, [(1, "a"), (2, "b")]), path)
    commit_snapshot(spark, _mk(spark, [(3, "c")]), path, mode="append")
    commit_snapshot(spark, _mk(spark, [(4, "d")]), path, mode="append")
    assert {r["k"] for r in read_incremental(spark, path, 1, 3).collect()} == {3, 4}
    assert {r["k"] for r in read_incremental(spark, path, 2).collect()} == {4}
    # empty delta keeps the schema, returns zero rows
    empty = read_incremental(spark, path, 3, 3)
    assert empty.count() == 0 and empty.columns == ["k", "v"]


def test_incremental_read_refuses_overwrite_boundary(spark, tmp_path):
    from kafka_connect_hdfs_spark.snapshots import (
        commit_snapshot, read_incremental,
    )

    path = str(tmp_path / "t")
    commit_snapshot(spark, _mk(spark, [(1, "a")]), path)
    commit_snapshot(spark, _mk(spark, [(2, "b")]), path)  # overwrite
    with pytest.raises(ValueError, match="append-only"):
        read_incremental(spark, path, 1, 2)


def test_incremental_read_plans_only_delta_dirs(spark, tmp_path):
    from kafka_connect_hdfs_spark.snapshots import (
        commit_snapshot, read_incremental,
    )

    path = str(tmp_path / "t")
    commit_snapshot(spark, _mk(spark, [(1, "a")]), path)
    commit_snapshot(spark, _mk(spark, [(2, "b")]), path, mode="append")
    files = read_incremental(spark, path, 1, 2).inputFiles()
    # O(delta) scan: ONLY the added version's dirs are listed at planning
    assert files and all("data/v2" in f for f in files), files


# ---------------------------------------------------------------------------
# snapshots.vacuum_orphans


def test_vacuum_deletes_orphans_keeps_live_and_clone_pinned(spark, tmp_path):
    import os

    from kafka_connect_hdfs_spark.snapshots import (
        clone_table, commit_snapshot, vacuum_orphans,
    )
    from kafka_connect_hdfs_spark.statedir import hadoop_fs as _sfs

    src = str(tmp_path / "src")
    dst = str(tmp_path / "clone")
    commit_snapshot(spark, _mk(spark, [(1, "a")]), src)
    clone_table(spark, src, dst)
    # an unmanifested crashed-commit leftover
    _mk(spark, [(9, "x")]).write.parquet(f"{src}/data/v99")
    # a dir ONLY the clone pins (manifest removed by hand)
    fs, Path = _sfs(spark, src)
    fs.delete(Path(f"{src}/_snapshots/v1.json"), False)
    deleted = vacuum_orphans(spark, src)
    assert deleted == ["v99"]
    assert os.path.exists(f"{src}/data/v1")  # clone pin rescued it
    assert not os.path.exists(f"{src}/data/v99")


# ---------------------------------------------------------------------------
# text.llr_collocations — Dunning 1993 log-likelihood ratio


def test_llr_hand_computed_contingency(spark):
    import math

    from kafka_connect_hdfs_spark.operators.text import llr_collocations

    # 10 docs: 'a b' together in 4, 'a' alone in 2, 'b' alone in 1,
    # neither in 3 -> k11=4 k12=2 k21=1 k22=3 (n_a=6, n_b=5, N=10)
    rows = (
        [("a b",)] * 4 + [("a x",)] * 2 + [("b y",)] * 1 + [("z w",)] * 3
    )
    df = spark.createDataFrame(rows, "text string")
    out = {
        (r["tok_a"], r["tok_b"]): r
        for r in llr_collocations(df, min_pairs=1, k=100).collect()
    }
    r = out[("a", "b")]
    assert r["n_ab"] == 4

    def S(x):
        return x * math.log(x) if x > 0 else 0.0

    want = 2.0 * (
        S(4) + S(2) + S(1) + S(3) - S(6) - S(4) - S(5) - S(5) + S(10)
    )
    assert abs(r["llr"] - want) < 1e-6


def test_llr_ranks_evidence_over_rare_flukes(spark):
    from kafka_connect_hdfs_spark.operators.text import llr_collocations

    # 'p q' co-occurs 8 times (strong evidence); 'r s' once (fluke);
    # filler docs dilute
    rows = [("p q",)] * 8 + [("r s",)] + [("f%d g%d" % (i, i),) for i in range(20)]
    df = spark.createDataFrame(rows, "text string")
    top = llr_collocations(df, min_pairs=1, k=2).collect()
    assert (top[0]["tok_a"], top[0]["tok_b"]) == ("p", "q")
    assert top[0]["llr"] > top[1]["llr"]


def test_merge_keyed_null_partition_key_not_duplicated(spark, tmp_path):
    """A key living in the NULL partition (__HIVE_DEFAULT_PARTITION__)
    must still be located and rewritten — isin() is three-valued under
    SQL NULL semantics and would silently skip it (duplicate key)."""
    from kafka_connect_hdfs_spark.merge import merge_keyed

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, None, 10.0), (2, "a", 20.0)], "k long, p string, v double"
    ).write.partitionBy("p").parquet(path)
    updates = spark.createDataFrame(
        [(1, "a", 11.0)], "k long, p string, v double"
    )  # k=1 MOVES from the null partition into p=a
    merge_keyed(spark, path, updates, "k", "p")
    got = [
        (r["k"], r["p"], r["v"])
        for r in spark.read.parquet(path).orderBy("k").collect()
    ]
    assert got == [(1, "a", 11.0), (2, "a", 20.0)]


# ---------------------------------------------------------------------------
# quality.chi2_independence


def test_chi2_hand_computed_2x2(spark):
    from kafka_connect_hdfs_spark.operators.quality import chi2_independence

    # classic 2x2: a/p 30, a/q 10, b/p 10, b/q 30 (N=80; expected 20 each)
    rows = (
        [("a", "p")] * 30 + [("a", "q")] * 10
        + [("b", "p")] * 10 + [("b", "q")] * 30
    )
    df = spark.createDataFrame(rows, "x string, y string")
    out = {(r["a"], r["b"]): r for r in chi2_independence(df, "x", "y").collect()}
    for cell in (("a", "p"), ("a", "q"), ("b", "p"), ("b", "q")):
        assert out[cell]["expected"] == 20.0
        assert out[cell]["chi2_contrib"] == 5.0  # (30-20)^2/20 or (10-20)^2/20
    assert sum(r["chi2_contrib"] for r in out.values()) == 20.0


def test_chi2_independent_is_zero(spark):
    from kafka_connect_hdfs_spark.operators.quality import chi2_independence

    rows = [("a", "p")] * 6 + [("a", "q")] * 2 + [("b", "p")] * 3 + [("b", "q")]
    df = spark.createDataFrame(rows, "x string, y string")
    out = chi2_independence(df, "x", "y").collect()
    assert all(abs(r["chi2_contrib"]) < 1e-9 for r in out)


# ---------------------------------------------------------------------------
# graph.clustering_coefficients


def test_clustering_triangle_and_path(spark):
    from kafka_connect_hdfs_spark.operators.graph import (
        clustering_coefficients,
    )

    # triangle 1-2-3 plus a pendant path 3-4-5: cc(1)=cc(2)=1.0;
    # cc(3)=2*1/(3*2)=0.333333; cc(4)=0 (wedge 3-4-5 open); 5 has deg 1
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    out = {r["node"]: r for r in clustering_coefficients(e).collect()}
    assert set(out) == {1, 2, 3, 4}  # node 5: degree 1, undefined
    assert out[1]["clustering"] == 1.0 and out[2]["clustering"] == 1.0
    assert out[3]["clustering"] == 0.333333
    assert out[4]["clustering"] == 0.0 and out[4]["n_triangles"] == 0
    assert out[3]["degree"] == 3 and out[3]["n_triangles"] == 1


def test_clustering_clique_is_all_ones(spark):
    from itertools import combinations

    from kafka_connect_hdfs_spark.operators.graph import (
        clustering_coefficients,
    )

    e = spark.createDataFrame(
        [(a, b) for a, b in combinations(range(5), 2)], "id_a long, id_b long"
    )
    rows = clustering_coefficients(e).collect()
    assert len(rows) == 5
    assert all(r["clustering"] == 1.0 and r["n_triangles"] == 6 for r in rows)
