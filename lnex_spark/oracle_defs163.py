"""Oracle pairs that run ``operators.scalable_windows``.

  * spt_schedule_orders — single-machine scheduling replay over the
    final order month: jobs = orders, processing time = o_totalprice
    (work units), sequenced twice — FIFO (o_orderkey order) vs SPT
    (shortest-processing-time, the provably flow-time-optimal rule)
    — completion times via one running sum per rule, reporting mean
    completion/flow time and priority-weighted completion (weight =
    6 - priority digit, so 1-URGENT weighs 5).  The measured gap IS
    Smith's-rule value of ordering a work queue by size — the same
    argument for processing small conversations first in a skewed
    backfill.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_SPT_SQL = """
    WITH jobs AS (
      SELECT o_orderkey, o_totalprice AS p,
             6 - CAST(SUBSTR(o_orderpriority, 1, 1) AS INTEGER) AS w
      FROM orders
      WHERE date_trunc('month', o_orderdate)
            = (SELECT MAX(date_trunc('month', o_orderdate)) FROM orders)
    ),
    fifo AS (
      SELECT w, CAST(SUM(CAST(p AS DECIMAL(18,4))) OVER (ORDER BY o_orderkey) AS DOUBLE) AS c FROM jobs
    ),
    spt AS (
      SELECT w, CAST(SUM(CAST(p AS DECIMAL(18,4))) OVER (ORDER BY p, o_orderkey) AS DOUBLE) AS c FROM jobs
    )
    SELECT * FROM (
      SELECT 'fifo' AS rule, CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(AVG(c), 2) AS mean_completion,
             ROUND(SUM(w * c), 2) AS weighted_completion
      FROM fifo
      UNION ALL
      SELECT 'spt', CAST(COUNT(*) AS BIGINT),
             ROUND(AVG(c), 2), ROUND(SUM(w * c), 2)
      FROM spt
    ) ORDER BY rule
"""


@register("spt_schedule_orders", _SPT_SQL)
def spt_schedule_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    lastm = o.agg(
        F.max(F.date_trunc("month", "o_orderdate")).alias("lm")
    )
    jobs = (
        o.crossJoin(F.broadcast(lastm))
        .where(F.date_trunc("month", "o_orderdate") == F.col("lm"))
        .select(
            "o_orderkey",
            F.col("o_totalprice").alias("p"),
            (6 - F.substring("o_orderpriority", 1, 1).cast("int")).alias("w"),
        )
    )
    # distributed prefix sums over the month's orders (r4 audit);
    # DECIMAL cumsum on BOTH sides so the completion times are exact
    # cents, independent of partial-sum order
    from lnex_spark.operators.scalable_windows import attach_rank

    pdec = F.col("p").cast("decimal(18,4)")
    fifo = attach_rank(
        jobs, [F.col("o_orderkey").asc()], rank_col="_rn",
        cumsum_of=pdec, cumsum_col="_c",
    ).select("w", F.col("_c").cast("double").alias("c"))
    spt = attach_rank(
        jobs, [F.col("p").asc(), F.col("o_orderkey").asc()], rank_col="_rn",
        cumsum_of=pdec, cumsum_col="_c",
    ).select("w", F.col("_c").cast("double").alias("c"))

    def summarize(df: DataFrame, rule: str) -> DataFrame:
        return df.agg(
            F.lit(rule).alias("rule"),
            F.count("*").cast("long").alias("n"),
            F.round(F.avg("c"), 2).alias("mean_completion"),
            F.round(F.sum(F.col("w") * F.col("c")), 2).alias(
                "weighted_completion"
            ),
        )

    return summarize(fifo, "fifo").unionByName(summarize(spt, "spt")).orderBy(
        "rule"
    )
