"""SparkSession factory with scale-oriented defaults.

local[32] for tests, but every setting here is chosen to also be the right
default on a 1000-executor cluster: AQE on (runtime coalescing + skew-join
splitting), small broadcast threshold raised, Arrow enabled for the few
Pandas-UDF operators, parquet writer defaults matching the reference's
(SNAPPY, dictionary on — parquet/ParquetRecordWriterProvider.java:53-56).

Python workers run ``sink_pyspark_daemon`` (a top-level module beside the
package) as ``spark.python.daemon.module``. Spark puts the pyspark zip, the
py4j zip and the spark-core jar first on a worker's ``sys.path``, and every
Python task's ``importlib.invalidate_caches()`` makes each of those
zipimporters re-read its archive's central directory: 110–235 ms of worker CPU
per task on a 4-vCPU host, before any work. The module drops the three
archives and runs the stock ``pyspark.daemon`` with pyspark and py4j from
site-packages, where the call costs ~0.1 ms. It falls back to the stock path
by itself when the installed pyspark's version differs from the zip's (or
py4j is not installed), and ``get_spark`` leaves the stock daemon in place
when the module does not resolve from the driver's cwd or ``PYTHONPATH``,
which is where local-mode workers look for it.
"""

from __future__ import annotations

import os
from importlib.machinery import PathFinder

from pyspark.sql import SparkSession

DAEMON_MODULE = "sink_pyspark_daemon"


def _worker_resolves(module: str) -> bool:
    """Whether ``python -m module`` started in this process's cwd with its
    ``PYTHONPATH`` (what a local-mode worker inherits) finds ``module``."""
    path = [os.getcwd(), *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    return PathFinder.find_spec(module, path) is not None


def get_spark(app_name: str = "kafka-connect-hdfs-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = SparkSession.builder
    if _worker_resolves(DAEMON_MODULE):
        builder = builder.config("spark.python.daemon.module", DAEMON_MODULE)
    return (
        builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS) which Spark has no native
        # type for; read as long nanos and convert (see load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # UI off by default (test noise); SPARK_GRAFT_UI=1 re-enables it
        # for runs that read shuffle metrics off the REST API
        # (scripts/scale_proof.py)
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI") == "1" else "false",
        )
        .getOrCreate()
    )


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Load one driver parquet table, normalizing nano timestamps.

    With ``spark.sql.legacy.parquet.nanosAsLong`` on, TIMESTAMP(NANOS)
    columns (events.ts) surface as LongType nanos; convert to a proper
    micros TimestampType so downstream time logic is uniform.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    # defensive: the harness may hand us a session built without our
    # defaults — nanos handling and UTC rendering are load-bearing for every
    # events-based query and both are runtime-settable SQL confs
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # integer division — float division loses precision at 2^63-scale nanos
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            # parquet TIMESTAMP(isAdjustedToUTC=false) surfaces as NTZ in
            # Spark 4; with the session tz pinned to UTC this cast preserves
            # wall time exactly, and keeps the engine-wide invariant that
            # event time is TimestampType (required by withWatermark, and by
            # the DuckDB oracles which read the same files as naive UTC)
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Load the driver's parquet tables as a dict of DataFrames."""
    if names is None:
        names = (
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        )
    return {n: load_table(spark, sf_dir, n) for n in names}
