"""Oracle pairs that run ``operators.scalable_windows``.

  * abc_analysis_orders — ABC (Pareto-class) analysis of customer
    revenue: customers ranked by revenue, A = cumulative share ≤
    80%, B = ≤ 95%, C = rest, with per-class customer counts,
    revenue shares, and the customer-share-per-class that makes the
    80/20 shape visible.  The inventory/accounts classification
    standard, one ranking window over the aggregated customer
    table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_ABC_SQL = """
    WITH cust AS (
      SELECT o_custkey, CAST(SUM(ROUND(o_totalprice * 100)) AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, cents,
             SUM(cents) OVER (ORDER BY cents DESC, o_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cents) OVER () AS total,
             COUNT(*) OVER () AS n_cust
      FROM cust
    ),
    classed AS (
      SELECT o_custkey, cents, n_cust,
             CASE WHEN cum * 100 <= total * 80 THEN 'A'
                  WHEN cum * 100 <= total * 95 THEN 'B'
                  ELSE 'C' END AS cls,
             total
      FROM ranked
    )
    SELECT cls,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(COUNT(*) * 1.0 / MAX(n_cust), 6) AS customer_share,
           ROUND(SUM(cents) * 1.0 / MAX(total), 6) AS revenue_share
    FROM classed GROUP BY cls
"""


@register("abc_analysis_orders", _ABC_SQL)
def abc_analysis_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100)).cast("long").alias("cents")
    )
    # customer-count-sized global ranking window — at warehouse scale
    # this is the two-pass bucketed selection of operators/quantiles.py
    # distributed integer prefix sum over the per-CUSTOMER table
    # (round-4 window audit) + broadcast totals — exact long arithmetic
    from lnex_spark.operators.scalable_windows import attach_rank

    ranked = attach_rank(
        cust,
        [F.desc("cents"), F.asc("o_custkey")],
        rank_col="_rn",
        cumsum_of="cents",
        cumsum_col="cum",
    ).crossJoin(
        F.broadcast(
            cust.agg(
                F.sum("cents").alias("total"), F.count("*").alias("n_cust")
            )
        )
    )
    classed = ranked.select(
        "cents",
        "n_cust",
        "total",
        F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
        .otherwise("C")
        .alias("cls"),
    )
    return classed.groupBy("cls").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.round(F.count("*") * 1.0 / F.max("n_cust"), 6).alias("customer_share"),
        F.round(F.sum("cents") * 1.0 / F.max("total"), 6).alias("revenue_share"),
    )
