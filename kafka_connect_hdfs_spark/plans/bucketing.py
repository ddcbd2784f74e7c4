"""Bucketed co-located joins — the 100 TB path for fact-fact joins.

q3/q5 shuffle lineitem⋈orders on orderkey every query. At scale the fix is
to land both facts bucketed by the join key once; every subsequent join
reads co-located buckets and skips the Exchange entirely (Spark bucketed
tables ≙ Hive bucketing, which the reference's Hive tables could also have
declared).

This module materializes bucketed copies and exposes the bucketed join;
tests assert the plan property (no Exchange feeding the SortMergeJoin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_hdfs_spark import statedir
from kafka_connect_hdfs_spark.functions import dec_sum_double


def create_bucketed_facts(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = 8,
    database: str = "default",
) -> None:
    """Land lineitem and orders as tables bucketed+sorted by orderkey.

    One-time cost: each table shuffles once on the key at write; every
    future join on that key is shuffle-free. This is the landed-table
    analog of co-partitioning a streaming topic by key.
    """
    from kafka_connect_hdfs_spark.session import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    for t in ("lineitem_bucketed", "orders_bucketed"):
        spark.sql(f"DROP TABLE IF EXISTS {database}.{t}")
        # a crashed earlier write can leave the managed location behind
        fs, Path = statedir.hadoop_fs(spark, f"{warehouse}/{t}")
        loc = Path(f"{warehouse}/{t}")
        if fs.exists(loc):
            fs.delete(loc, True)
    (
        li.write.bucketBy(n_buckets, "l_orderkey")
        .sortBy("l_orderkey")
        .format("parquet")
        .saveAsTable(f"{database}.lineitem_bucketed")
    )
    (
        orders.write.bucketBy(n_buckets, "o_orderkey")
        .sortBy("o_orderkey")
        .format("parquet")
        .saveAsTable(f"{database}.orders_bucketed")
    )


def bucketed_join_revenue(spark: SparkSession, database: str = "default") -> DataFrame:
    """q3-like revenue per order over the bucketed facts — shuffle-free join."""
    li = spark.table(f"{database}.lineitem_bucketed")
    orders = spark.table(f"{database}.orders_bucketed")
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(dec_sum_double(revenue).alias("revenue"))
        .orderBy("o_orderpriority")
    )
