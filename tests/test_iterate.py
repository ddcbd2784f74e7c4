"""The materialize/fixpoint helper (``operators/iterate.py``): the
iterative kernels leave persisted only the checkpoints their result reads,
a checkpoint's size estimate does not compound across rounds, and no
module checkpoints outside the helper."""

from __future__ import annotations

import ast
import pathlib

import pytest


def _persisted(spark) -> set:
    return set(spark._jsc.getPersistentRDDs().keySet())


def _plan_rdds(df) -> set:
    """Ids of the RDDs the ``LogicalRDD`` leaves of ``df``'s plan scan."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {
        leaves.apply(i).rdd().id()
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
    }


def _path(spark, n):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )


def _star(spark):
    from kafka_connect_hdfs_spark.operators.graph import connected_components_star

    return connected_components_star(_path(spark, 24)), 24


def _star_self_pairs(spark):
    from kafka_connect_hdfs_spark.operators.graph import connected_components_star

    pairs = _path(spark, 24).unionByName(
        spark.createDataFrame([(99, 99)], "id_a long, id_b long")
    )
    return connected_components_star(pairs), 25


def _propagation(spark):
    from kafka_connect_hdfs_spark.operators.dedup import duplicate_clusters

    return duplicate_clusters(_path(spark, 12), method="propagation"), 12


def _kcore(spark):
    from kafka_connect_hdfs_spark.operators.graph import kcore_decompose

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    return kcore_decompose(pairs, k=2), 3


def _lpa(spark):
    from kafka_connect_hdfs_spark.operators.graph import label_propagation_communities

    return label_propagation_communities(_path(spark, 10), iterations=2), 10


def _bfs(spark):
    from kafka_connect_hdfs_spark.operators.graph import bfs_distances

    edges = _path(spark, 10).toDF("user_a", "user_b")
    sources = spark.createDataFrame([(0,)], "node long")
    return bfs_distances(edges, sources, max_hops=3), 4


@pytest.mark.parametrize(
    "kernel", [_star, _star_self_pairs, _propagation, _kcore, _lpa, _bfs],
    ids=["star", "star_self_pairs", "propagation", "kcore", "lpa", "bfs"],
)
def test_kernel_leaves_only_what_its_result_reads(spark, kernel):
    """Set comparison, not a count: GC can only remove ids, so every id
    the call added must be one the result's plan scans."""
    before = _persisted(spark)
    out, n_rows = kernel(spark)
    assert len(out.collect()) == n_rows
    added = _persisted(spark) - before
    assert added, "the kernel materialized nothing"
    assert added <= _plan_rdds(out), (added, _plan_rdds(out))


def test_kcore_size_estimate_stays_bounded(spark):
    """A 16-node path peels two nodes per round (8 rounds at k=2); the
    result's estimate must not compound round over round, and a 40-node
    path (20 rounds) must plan and finish."""
    from kafka_connect_hdfs_spark.operators.graph import kcore_decompose

    out = kcore_decompose(_path(spark, 16), k=2)
    size = out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert size <= 2**63, len(str(size))
    assert out.count() == 0
    assert kcore_decompose(_path(spark, 40), k=2).count() == 0


def test_fixpoint_releases_superseded_rounds(spark):
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.operators.iterate import fixpoint, release

    before = _persisted(spark)
    out = fixpoint(
        lambda df: df.filter(F.col("id") > 0).select((F.col("id") - 1).alias("id")),
        spark.range(5),
        None,
        max_rounds=10,
    )
    assert out.count() == 0
    assert _persisted(spark) - before == _plan_rdds(out)
    release(out)
    assert _persisted(spark) - before == set()


def test_mirror_table_tick_releases_its_feed(spark, tmp_path):
    """Each tick materializes its change feed; after the tick returns the
    feed is no longer persisted, so a long-running mirror stays flat."""
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.snapshots import commit_snapshot, read_snapshot
    from kafka_connect_hdfs_spark.streaming.changelog import (
        sync_changelog_mirror_table,
    )

    src, mirror = str(tmp_path / "src"), str(tmp_path / "mirror")
    commit_snapshot(
        spark,
        spark.range(10).select(F.col("id").alias("k"), F.lit("a").alias("v")),
        src, now=lambda: 1000,
    )
    sync_changelog_mirror_table(spark, src, mirror, "k", now=lambda: 1000)
    counts = []
    for tick in range(10):
        commit_snapshot(
            spark,
            spark.createDataFrame([(100 + tick, "b")], "k long, v string"),
            src, mode="append", now=lambda: 2000 + tick,
        )
        before = _persisted(spark)
        info = sync_changelog_mirror_table(
            spark, src, mirror, "k", now=lambda: 2000 + tick
        )
        assert info["mirror_version"] is not None
        assert _persisted(spark) - before == set()
        counts.append(len(_persisted(spark)))
    assert counts[-1] <= counts[0], counts
    assert read_snapshot(spark, mirror).count() == 20


def test_only_iterate_checkpoints():
    """Every checkpoint goes through ``operators/iterate.py``, so each one
    gets the bounded estimate and a lifetime."""
    import kafka_connect_hdfs_spark

    pkg = pathlib.Path(kafka_connect_hdfs_spark.__file__).parent
    offenders = sorted(
        f"{p.relative_to(pkg)}:{node.lineno}"
        for p in pkg.rglob("*.py")
        if p.relative_to(pkg).as_posix() != "operators/iterate.py"
        for node in ast.walk(ast.parse(p.read_text(encoding="utf-8")))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("localCheckpoint", "checkpoint")
    )
    assert offenders == [], offenders
