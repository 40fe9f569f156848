"""Oracle pairs that run ``operators.scalable_windows``.

  * best_of_n_events — exact E[max of n iid draws] from the
    EMPIRICAL value distribution (no simulation): with the sorted
    sample x_(1..N), E[max_n] = sum_i x_(i) ((i/N)^n - ((i-1)/N)^n),
    evaluated for n = 1, 2, 4, 8, 16, plus the median of the max
    via the (1/2)^(1/n) quantile rank pick.  The best-of-n /
    rejection-sampling return curve: how much reward does another
    doubling of samples buy — the marginal-gain table that decides
    BoN inference budgets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_BON_SQL = """
    WITH ranked AS (
      SELECT value AS x,
             ROW_NUMBER() OVER (ORDER BY value, event_id) AS i,
             COUNT(*) OVER () AS nn
      FROM events
    ),
    ns AS (SELECT UNNEST([1, 2, 4, 8, 16]) AS n),
    emax AS (
      SELECT ns.n,
             SUM(r.x * (POW(CAST(r.i AS DOUBLE) / r.nn, ns.n)
                        - POW(CAST(r.i - 1 AS DOUBLE) / r.nn, ns.n))) AS e
      FROM ranked r CROSS JOIN ns
      GROUP BY ns.n
    ),
    med AS (
      SELECT ns.n,
             MAX(CASE WHEN r.i = CAST(CEIL(POW(0.5, 1.0 / ns.n) * r.nn)
                                      AS BIGINT)
                      THEN r.x END) AS m
      FROM ranked r CROSS JOIN ns
      GROUP BY ns.n
    )
    SELECT e.n AS n_samples,
           ROUND(e.e, 4) AS expected_max,
           ROUND(m.m, 4) AS median_max
    FROM emax e JOIN med m ON m.n = e.n
    ORDER BY n_samples
"""


@register("best_of_n_events", _BON_SQL)
def best_of_n_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.scalable_windows import attach_rank

    ev = _t(spark, sf_dir, "events")
    # distributed rank over ALL events + broadcast total (round-4 audit)
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
    ns = ev.sparkSession.createDataFrame(
        [(1,), (2,), (4,), (8,), (16,)], "n int"
    )
    joined = ranked.crossJoin(F.broadcast(ns))
    emax = joined.groupBy("n").agg(
        F.sum(
            F.col("x")
            * (
                F.pow(F.col("i").cast("double") / F.col("nn"), F.col("n"))
                - F.pow(
                    (F.col("i") - 1).cast("double") / F.col("nn"), F.col("n")
                )
            )
        ).alias("e")
    )
    med = joined.groupBy("n").agg(
        F.max(
            F.when(
                F.col("i")
                == F.ceil(
                    F.pow(F.lit(0.5), 1.0 / F.col("n")) * F.col("nn")
                ).cast("long"),
                F.col("x"),
            )
        ).alias("m")
    )
    return (
        emax.join(med, "n")
        .select(
            F.col("n").alias("n_samples"),
            F.round("e", 4).alias("expected_max"),
            F.round("m", 4).alias("median_max"),
        )
        .orderBy("n_samples")
    )
