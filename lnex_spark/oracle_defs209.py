"""Oracle pairs that run ``operators.scalable_windows``.

  * auction_order_stats_events — exact first- and second-highest
    order statistics of n iid draws from the EMPIRICAL value
    distribution (no simulation): with F the empirical CDF,
    P(2nd max <= x) = F^n + n F^(n-1)(1 - F), so both expectations
    are telescoping sums over the sorted sample (the best_of_n
    machinery extended to the second order statistic).  E[2nd max]
    IS the expected revenue of both the second-price auction and
    the equilibrium first-price auction (revenue equivalence) with
    n bidders — the spread E[max] - E[2nd max] is the winner's
    information rent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_AUCTION_SQL = """
    WITH ranked AS (
      SELECT value AS x,
             ROW_NUMBER() OVER (ORDER BY value, event_id) AS i,
             COUNT(*) OVER () AS nn
      FROM events
    ),
    ns AS (SELECT UNNEST([2, 5, 10]) AS n),
    g AS (
      SELECT ns.n, r.x,
             POW(CAST(r.i AS DOUBLE) / r.nn, ns.n)
               - POW(CAST(r.i - 1 AS DOUBLE) / r.nn, ns.n) AS d_max,
             (POW(CAST(r.i AS DOUBLE) / r.nn, ns.n)
              + ns.n * POW(CAST(r.i AS DOUBLE) / r.nn, ns.n - 1)
                * (1 - CAST(r.i AS DOUBLE) / r.nn))
             - (POW(CAST(r.i - 1 AS DOUBLE) / r.nn, ns.n)
                + ns.n * POW(CAST(r.i - 1 AS DOUBLE) / r.nn, ns.n - 1)
                  * (1 - CAST(r.i - 1 AS DOUBLE) / r.nn)) AS d_2nd
      FROM ranked r CROSS JOIN ns
    )
    SELECT n AS n_bidders,
           ROUND(SUM(x * d_max), 4) AS e_highest,
           ROUND(SUM(x * d_2nd), 4) AS e_second_highest,
           ROUND(SUM(x * d_max) - SUM(x * d_2nd), 4) AS info_rent
    FROM g
    GROUP BY n
    ORDER BY n_bidders
"""


@register("auction_order_stats_events", _AUCTION_SQL)
def auction_order_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.scalable_windows import attach_rank

    ev = _t(spark, sf_dir, "events")
    # distributed rank over ALL events + broadcast total (round-4
    # window audit: no single-partition window over raw rows)
    n_all = ev.agg(F.count("*").alias("nn"))
    ranked = (
        attach_rank(
            ev.select("value", "event_id"),
            [F.col("value").asc(), F.col("event_id").asc()],
            rank_col="i",
        )
        .crossJoin(F.broadcast(n_all))
        .select(F.col("value").alias("x"), "i", "nn")
    )
    ns = ev.sparkSession.createDataFrame([(2,), (5,), (10,)], "n int")
    fi = F.col("i").cast("double") / F.col("nn")
    fim = (F.col("i") - 1).cast("double") / F.col("nn")

    def g2(f):
        return F.pow(f, F.col("n")) + F.col("n") * F.pow(
            f, F.col("n") - 1
        ) * (1 - f)

    g = ranked.crossJoin(F.broadcast(ns)).select(
        "n",
        "x",
        (F.pow(fi, F.col("n")) - F.pow(fim, F.col("n"))).alias("d_max"),
        (g2(fi) - g2(fim)).alias("d_2nd"),
    )
    return (
        g.groupBy("n")
        .agg(
            F.round(F.sum(F.col("x") * F.col("d_max")), 4).alias("e_highest"),
            F.round(F.sum(F.col("x") * F.col("d_2nd")), 4).alias(
                "e_second_highest"
            ),
            F.round(
                F.sum(F.col("x") * F.col("d_max"))
                - F.sum(F.col("x") * F.col("d_2nd")),
                4,
            ).alias("info_rent"),
        )
        .select(
            F.col("n").alias("n_bidders"),
            "e_highest",
            "e_second_highest",
            "info_rent",
        )
        .orderBy("n_bidders")
    )
