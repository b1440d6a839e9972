"""Bucketed-table co-located join: the zero-shuffle fact-fact join.

At 100 TB the repeated lineitem⋈orders join is the single biggest
shuffle in the workload; pre-bucketing both tables on the join key
removes it entirely (the scan itself is hash-distributed).  This module
writes both sides `bucketBy(8, key)`, forces a sort-merge join, and the
plan test (tests/test_plans.py::test_bucketed_join_has_no_exchange)
asserts there is NO Exchange in the join — the property that makes the
plan survive a 100× scale-up.  Counterpart of the reference's
pre-partitioned `Partitioned` hash-join mode (SURVEY.md §2.3,
joins/hash_join.rs:328) where both inputs are already hash-distributed.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_umami_spark.registry import register
from datafusion_umami_spark.streaming.runner import scratch_root
from datafusion_umami_spark.tables import table


def _bucketize(spark: SparkSession, sf_dir: str) -> None:
    for name, src_cols, key in (
        ("li_bucketed", ["l_orderkey", "l_extendedprice", "l_discount"], "l_orderkey"),
        ("ord_bucketed", ["o_orderkey", "o_orderpriority"], "o_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        path = os.path.join(scratch_root(spark), "bucketed", name)
        shutil.rmtree(path, ignore_errors=True)
        src = "lineitem" if name == "li_bucketed" else "orders"
        (
            table(spark, sf_dir, src)
            .select(*src_cols)
            .write.bucketBy(8, key)
            .sortBy(key)
            .option("path", path)
            .mode("overwrite")
            .saveAsTable(name)
        )


def bucketed_join_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join itself, reused by the query and the plan test."""
    _bucketize(spark, sf_dir)
    li = spark.table("li_bucketed")
    o = spark.table("ord_bucketed")
    return (
        li.hint("merge")  # force SMJ so the bucketed distribution is used
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                .cast("bigint")
            ).alias("rev_cents"),
        )
    )


@register(
    "bucketed_colocated_join",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                AS BIGINT) AS rev_cents
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    tags=("join", "bucketing", "colocated", "no-shuffle"),
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bucketed_join_df(spark, sf_dir)
