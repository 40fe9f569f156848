"""Oracle pairs that run ``operators.scalable_windows``.

  * cornish_fisher_events — Cornish-Fisher fourth-moment expansion
    of the 95% quantile of event value: from skewness g1 and excess
    kurtosis g2, z_cf = z + (z^2-1)g1/6 + (z^3-3z)g2/24 -
    (2z^3-5z)g1^2/36 at z = 1.645, reporting the moment-corrected
    VaR mu + z_cf * sd next to the naive Gaussian one and the exact
    empirical rank quantile — the standard risk-desk correction for
    skewed fat-tailed P&L, here a one-aggregate job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_CF_SQL = """
    WITH mom AS (
      SELECT COUNT(*) AS n, AVG(value) AS mu,
             SQRT(AVG(value * value) - AVG(value) * AVG(value)) AS sd,
             AVG(value * value * value) AS m3r,
             AVG(value * value * value * value) AS m4r
      FROM events
    ),
    shape AS (
      SELECT n, mu, sd,
             (m3r - 3 * mu * sd * sd - mu * mu * mu) / (sd * sd * sd) AS g1,
             (m4r - 4 * mu * m3r + 6 * mu * mu * (sd * sd + mu * mu)
              - 3 * mu * mu * mu * mu) / (sd * sd * sd * sd) - 3 AS g2
      FROM mom
    ),
    zcf AS (
      SELECT n, mu, sd, g1, g2,
             1.645 + (1.645 * 1.645 - 1) * g1 / 6
                   + (1.645 * 1.645 * 1.645 - 3 * 1.645) * g2 / 24
                   - (2 * 1.645 * 1.645 * 1.645 - 5 * 1.645) * g1 * g1 / 36
               AS z
      FROM shape
    ),
    emp AS (
      SELECT value AS q_emp FROM (
        SELECT value, ROW_NUMBER() OVER (ORDER BY value, event_id) AS rn,
               COUNT(*) OVER () AS nn
        FROM events
      ) WHERE rn = CAST(CEIL(0.95 * nn) AS BIGINT)
    )
    SELECT CAST(z.n AS BIGINT) AS n,
           ROUND(z.g1, 6) AS skew,
           ROUND(z.g2, 6) AS ex_kurtosis,
           ROUND(z.z, 6) AS z_cf,
           ROUND(z.mu + 1.645 * z.sd, 4) AS var95_gauss,
           ROUND(z.mu + z.z * z.sd, 4) AS var95_cf,
           ROUND(e.q_emp, 4) AS var95_emp
    FROM zcf z CROSS JOIN emp e
"""


@register("cornish_fisher_events", _CF_SQL)
def cornish_fisher_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    v = F.col("value")
    mom = ev.agg(
        F.count("*").alias("n"),
        F.avg("value").alias("mu"),
        F.sqrt(F.avg(v * v) - F.avg(v) * F.avg(v)).alias("sd"),
        F.avg(v * v * v).alias("m3r"),
        F.avg(v * v * v * v).alias("m4r"),
    )
    g1 = (
        F.col("m3r")
        - 3 * F.col("mu") * F.col("sd") * F.col("sd")
        - F.col("mu") * F.col("mu") * F.col("mu")
    ) / (F.col("sd") * F.col("sd") * F.col("sd"))
    g2 = (
        F.col("m4r")
        - 4 * F.col("mu") * F.col("m3r")
        + 6
        * F.col("mu")
        * F.col("mu")
        * (F.col("sd") * F.col("sd") + F.col("mu") * F.col("mu"))
        - 3 * F.col("mu") * F.col("mu") * F.col("mu") * F.col("mu")
    ) / (F.col("sd") * F.col("sd") * F.col("sd") * F.col("sd")) - 3
    shape = mom.select("n", "mu", "sd", g1.alias("g1"), g2.alias("g2"))
    zq = 1.645
    z = (
        zq
        + (zq * zq - 1) * F.col("g1") / 6
        + (zq * zq * zq - 3 * zq) * F.col("g2") / 24
        - (2 * zq * zq * zq - 5 * zq) * F.col("g1") * F.col("g1") / 36
    )
    zcf = shape.withColumn("z", z)
    from lnex_spark.operators.scalable_windows import attach_rank

    # distributed rank over ALL events (round-4 window audit)
    ranked = attach_rank(
        ev.select("value", "event_id"),
        [F.col("value").asc(), F.col("event_id").asc()],
        rank_col="rn",
    ).crossJoin(F.broadcast(ev.agg(F.count("*").alias("nn"))))
    emp = ranked.where(
        F.col("rn") == F.ceil(0.95 * F.col("nn")).cast("long")
    ).select(F.col("value").alias("q_emp"))
    return zcf.crossJoin(F.broadcast(emp)).select(
        F.col("n").cast("long").alias("n"),
        F.round("g1", 6).alias("skew"),
        F.round("g2", 6).alias("ex_kurtosis"),
        F.round("z", 6).alias("z_cf"),
        F.round(F.col("mu") + 1.645 * F.col("sd"), 4).alias("var95_gauss"),
        F.round(F.col("mu") + F.col("z") * F.col("sd"), 4).alias("var95_cf"),
        F.round("q_emp", 4).alias("var95_emp"),
    )
