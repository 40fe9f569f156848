"""Hundred-eighty-fifth oracle-registry module: peaks-over-threshold
extreme-value machinery — the tail model between a pure power law
and block maxima.

  * gpd_tail_events — generalized Pareto fit to the value excesses
    over the 90th-percentile threshold (explicit rank pick), by
    method of moments: xi = (1 - mbar^2/s^2) / 2, sigma =
    mbar (mbar^2/s^2 + 1) / 2, then the 99.9% return level
    u + sigma/xi ((zeta_u / (1-p))^xi - 1) with zeta_u the exceedance
    rate.  The POT estimator — uses every tail point rather than one
    max per block, the standard for capacity P99.9+ planning from
    finite samples.

  * mean_residual_life_events — the mean-excess (mean residual
    life) curve at decile thresholds u = p50..p90: e(u) =
    mean(value - u | value > u) with exceedance counts.  THE
    threshold-choice diagnostic for the GPD: where e(u) becomes
    linear in u the GPD regime starts (slope xi/(1-xi)); also the
    actuarial expected-cost-above-deductible table, one groupBy
    over rank-picked thresholds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_RANKED = """
      SELECT value AS v,
             ROW_NUMBER() OVER (ORDER BY value, event_id) AS rn,
             COUNT(*) OVER () AS nn
      FROM events
"""


_GPD_SQL = f"""
    WITH ranked AS ({_RANKED}),
    u AS (
      SELECT MAX(CASE WHEN rn = CAST(CEIL(0.9 * nn) AS BIGINT)
                      THEN v END) AS u,
             MAX(nn) AS nn
      FROM ranked
    ),
    exc AS (
      SELECT r.v - u.u AS e, u.u, u.nn
      FROM ranked r CROSS JOIN u
      WHERE r.v > u.u
    ),
    mom AS (
      SELECT COUNT(*) AS k, MAX(u) AS u, MAX(nn) AS nn,
             AVG(e) AS m,
             AVG(e * e) - AVG(e) * AVG(e) AS s2
      FROM exc
    ),
    fit AS (
      SELECT k, u, nn, m, s2,
             (1 - m * m / s2) / 2 AS xi,
             m * (m * m / s2 + 1) / 2 AS sigma,
             CAST(k AS DOUBLE) / nn AS zeta
      FROM mom
    )
    SELECT CAST(k AS BIGINT) AS n_exceed,
           ROUND(u, 4) AS threshold,
           ROUND(xi, 6) AS xi,
           ROUND(sigma, 6) AS sigma,
           ROUND(u + sigma / xi * (POW(zeta / 0.001, xi) - 1), 4)
             AS return_level_999
    FROM fit
"""


@register("gpd_tail_events", _GPD_SQL)
def gpd_tail_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # distributed rank over ALL events + broadcast total (r4 audit)
    from lnex_spark.operators.scalable_windows import attach_rank

    ranked = (
        attach_rank(
            ev.select("value", "event_id"),
            [F.col("value").asc(), F.col("event_id").asc()],
            rank_col="rn",
        )
        .crossJoin(F.broadcast(ev.agg(F.count("*").alias("nn"))))
        .select(F.col("value").alias("v"), "rn", "nn")
    )
    u = ranked.agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.9 * F.col("nn")).cast("long"),
                F.col("v"),
            )
        ).alias("u"),
        F.max("nn").alias("nn_tot"),
    )
    exc = (
        ranked.select("v")
        .crossJoin(F.broadcast(u))
        .where(F.col("v") > F.col("u"))
        .select(
            (F.col("v") - F.col("u")).alias("e"),
            "u",
            F.col("nn_tot").alias("nn"),
        )
    )
    mom = exc.agg(
        F.count("*").alias("k"),
        F.max("u").alias("u"),
        F.max("nn").alias("nn"),
        F.avg("e").alias("m"),
        (F.avg(F.col("e") * F.col("e")) - F.avg("e") * F.avg("e")).alias("s2"),
    )
    r = F.col("m") * F.col("m") / F.col("s2")
    xi = (1 - r) / 2
    sigma = F.col("m") * (r + 1) / 2
    zeta = F.col("k").cast("double") / F.col("nn")
    return mom.select(
        F.col("k").cast("long").alias("n_exceed"),
        F.round("u", 4).alias("threshold"),
        F.round(xi, 6).alias("xi"),
        F.round(sigma, 6).alias("sigma"),
        F.round(
            F.col("u") + sigma / xi * (F.pow(zeta / 0.001, xi) - 1), 4
        ).alias("return_level_999"),
    )


_MRL_SQL = f"""
    WITH ranked AS ({_RANKED}),
    qs AS (
      SELECT CAST(UNNEST([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE) AS q
    ),
    thresholds AS (
      SELECT q.q,
             MAX(CASE WHEN r.rn = CAST(CEIL(q.q * r.nn) AS BIGINT)
                      THEN r.v END) AS u
      FROM qs q CROSS JOIN ranked r
      GROUP BY q.q
    )
    SELECT t.q AS quantile,
           ROUND(t.u, 4) AS threshold,
           CAST(COUNT(*) AS BIGINT) AS n_exceed,
           ROUND(AVG(r.v - t.u), 6) AS mean_excess
    FROM thresholds t JOIN ranked r ON r.v > t.u
    GROUP BY t.q, t.u
    ORDER BY quantile
"""


@register("mean_residual_life_events", _MRL_SQL)
def mean_residual_life_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # distributed rank over ALL events + broadcast total (r4 audit)
    from lnex_spark.operators.scalable_windows import attach_rank

    ranked = (
        attach_rank(
            ev.select("value", "event_id"),
            [F.col("value").asc(), F.col("event_id").asc()],
            rank_col="rn",
        )
        .crossJoin(F.broadcast(ev.agg(F.count("*").alias("nn"))))
        .select(F.col("value").alias("v"), "rn", "nn")
    )
    qs = ev.sparkSession.createDataFrame(
        [(0.5,), (0.6,), (0.7,), (0.8,), (0.9,)], "q double"
    )
    thresholds = (
        F.broadcast(qs)
        .crossJoin(ranked)
        .groupBy("q")
        .agg(
            F.max(
                F.when(
                    F.col("rn")
                    == F.ceil(F.col("q") * F.col("nn")).cast("long"),
                    F.col("v"),
                )
            ).alias("u")
        )
    )
    return (
        F.broadcast(thresholds)
        .join(ranked, F.col("v") > F.col("u"))
        .groupBy("q", "u")
        .agg(
            F.count("*").cast("long").alias("n_exceed"),
            F.round(F.avg(F.col("v") - F.col("u")), 6).alias("mean_excess"),
        )
        .select(
            F.col("q").alias("quantile"),
            F.round("u", 4).alias("threshold"),
            "n_exceed",
            "mean_excess",
        )
        .orderBy("quantile")
    )
