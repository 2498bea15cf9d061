"""Window-function references for the equal-frequency (cuts) family.

Each function is the textbook unpartitioned-window form of a cuts-based
operator — the shape its SQL oracle has — run on the same inputs to
show the cuts rewrite is bit-identical. They move every row through one
task, so they belong in tests, not in the engine.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_pipeline_example_spark.functions import text as T


def customer_spend_distribution(orders: DataFrame, n: int = 50) -> DataFrame:
    spend = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_spend")
    )
    w = Window.orderBy("total_spend")
    return (
        spend.select(
            F.col("o_custkey").alias("c_custkey"),
            "total_spend",
            F.round(F.percent_rank().over(w), 6).alias("spend_pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("spend_cume_dist"),
        )
        .orderBy(F.desc("total_spend"), F.asc("c_custkey"))
        .limit(n)
    )


def customer_value_tiles(orders: DataFrame, tiles: int = 4) -> DataFrame:
    spend = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_spend")
    )
    w = Window.orderBy(F.asc("total_spend"), F.asc("o_custkey"))
    return (
        spend.withColumn("tile", F.ntile(tiles).over(w))
        .groupBy("tile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("total_spend").alias("min_spend"),
            F.max("total_spend").alias("max_spend"),
        )
    )


def length_buckets(documents: DataFrame, n_buckets: int = 8) -> DataFrame:
    toks = documents.select(
        "doc_id", T.token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    bucketed = toks.withColumn(
        "bucket", F.ntile(n_buckets).over(Window.orderBy("n_tokens", "doc_id"))
    )
    bmax = F.max("n_tokens").over(Window.partitionBy("bucket"))
    return bucketed.select(
        "doc_id",
        "n_tokens",
        "bucket",
        bmax.alias("bucket_max_tokens"),
        (bmax - F.col("n_tokens")).alias("pad_waste"),
    )


def token_budget_caps(documents: DataFrame, budget: int = 800) -> DataFrame:
    toks = documents.select(
        "doc_id", "source", T.token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("n_tokens"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return toks.select(
        "doc_id",
        "source",
        "n_tokens",
        (F.sum("n_tokens").over(w) <= budget).cast("int").alias("kept"),
    )


def sorted_rows(df: DataFrame) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


_GROUPS = itertools.count()


def construct_with_job_calls(spark, build) -> tuple[DataFrame, list[str]]:
    """Run ``build()`` and return its frame with the call name
    (``collect``, ``localCheckpoint``, …) of every Spark job it fired."""
    sc = spark.sparkContext
    group = f"construct-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        df = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # job starts reach the status tracker through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    return df, [
        st.getStageInfo(max(st.getJobInfo(j).stageIds)).name.split(" at ")[0]
        for j in st.getJobIdsForGroup(group)
    ]
