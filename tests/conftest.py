from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    import os

    from kafka_connect_hdfs_spark.session import get_spark

    # the chaos kill-point sweeps alone run thousands of small jobs in
    # this one session; 8g of accumulated broadcast/stage state OOMs the
    # shared JVM mid-suite (observed at ~4400 stages) — the host has
    # 128 GiB, give the test session real headroom
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    s = get_spark("kchs-tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


# hypothesis-driven tests can't take function-scoped fixtures; session alias
@pytest.fixture(scope="session")
def spark_global(spark):
    return spark


@pytest.fixture()
def last_job(spark):
    """``last_job()`` is the id of the newest Spark job once the listener
    bus has drained (-1 before any job); the difference of two calls is
    the number of jobs run in between."""
    sc = spark._jsc.sc()

    def newest() -> int:
        sc.listenerBus().waitUntilEmpty()
        listed = sc.statusStore().jobsList(None)
        return listed.apply(0).jobId() if listed.size() else -1

    return newest
