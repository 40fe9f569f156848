"""Hundred-fifty-seventh oracle-registry module: reliability
engineering on the error-event stream — lifetime-distribution fitting
and reliability growth tracking.

  * weibull_fit_events — Weibull fit of the inter-error gap
    distribution by median-rank regression (the probability-plot
    estimator, fully closed-form unlike the MLE): gaps = successive
    error inter-arrival seconds in (ts, event_id) order ROUNDED to 6,
    sorted ascending with Benard's approximation F_i = (i-0.3)/(n+0.4),
    then OLS of y = ln(-ln(1-F_i)) on x = ln(gap): shape = slope,
    scale = exp(-intercept/shape), plus plot R^2 as the
    goodness-of-fit.  shape < 1 → bursty/infant-mortality failures,
    shape ≈ 1 → memoryless (cross-check: the exponential fit
    underlying littles_law / erlang_c), shape > 1 → wear-out.

  * crow_amsaa_events — Crow-AMSAA (NHPP power-law) reliability
    growth: at the i-th error at cumulative time t_i (seconds since
    the first event), regress ln i on ln t_i → growth exponent beta
    and scale lambda = exp(intercept).  beta < 1 → the system is
    improving (failures decelerating), beta > 1 → deteriorating;
    the Duane-plot slope every SRE postmortem trend report is
    implicitly estimating.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_WEIBULL_SQL = """
    WITH err AS (
      SELECT epoch_us(ts) / 1000000.0 AS t, event_id
      FROM events WHERE event_type = 'error'
    ),
    gaps AS (
      SELECT ROUND(t - LAG(t) OVER (ORDER BY t, event_id), 6) AS g
      FROM err
    ),
    pos AS (
      SELECT g, ROW_NUMBER() OVER (ORDER BY g) AS i,
             COUNT(*) OVER () AS n
      FROM gaps WHERE g IS NOT NULL AND g > 0
    ),
    xy AS (
      SELECT LN(g) AS x,
             LN(-LN(1 - (i - 0.3) / (n + 0.4))) AS y
      FROM pos
    ),
    mom AS (
      SELECT COUNT(*) AS n, AVG(x) AS xb, AVG(y) AS yb,
             SUM(x * y) - COUNT(*) * AVG(x) * AVG(y) AS sxy,
             SUM(x * x) - COUNT(*) * AVG(x) * AVG(x) AS sxx,
             SUM(y * y) - COUNT(*) * AVG(y) * AVG(y) AS syy
      FROM xy
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(sxy / sxx, 6) AS shape,
           ROUND(EXP(-(yb - sxy / sxx * xb) / (sxy / sxx)), 6) AS scale,
           ROUND(sxy * sxy / (sxx * syy), 6) AS r2
    FROM mom
"""


@register("weibull_fit_events", _WEIBULL_SQL)
def weibull_fit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "error")
    err = ev.select(
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1000000.0).alias("t"),
        "event_id",
    )
    # distributed global lag + rank (round-4 window audit: both ran
    # over every error event).  Ties on g permute i among equal-g rows
    # only, which the downstream sums are invariant to.
    from lnex_spark.operators.scalable_windows import attach_rank, attach_shift

    gaps = (
        attach_shift(err, [F.col("t").asc(), F.col("event_id").asc()], ["t"], offset=-1)
        .select(F.round(F.col("t") - F.col("t_lag1"), 6).alias("g"))
        .where(F.col("g").isNotNull() & (F.col("g") > 0))
    )
    pos = attach_rank(gaps, [F.col("g").asc()], rank_col="i").crossJoin(
        F.broadcast(gaps.agg(F.count("*").alias("n")))
    )
    xy = pos.select(
        F.log("g").alias("x"),
        F.log(-F.log(1 - (F.col("i") - 0.3) / (F.col("n") + 0.4))).alias("y"),
    )
    mom = xy.agg(
        F.count("*").alias("n"),
        F.avg("x").alias("xb"),
        F.avg("y").alias("yb"),
        (F.sum(F.col("x") * F.col("y")) - F.count("*") * F.avg("x") * F.avg("y")).alias("sxy"),
        (F.sum(F.col("x") * F.col("x")) - F.count("*") * F.avg("x") * F.avg("x")).alias("sxx"),
        (F.sum(F.col("y") * F.col("y")) - F.count("*") * F.avg("y") * F.avg("y")).alias("syy"),
    )
    slope = F.col("sxy") / F.col("sxx")
    return mom.select(
        F.col("n").cast("long").alias("n"),
        F.round(slope, 6).alias("shape"),
        F.round(
            F.exp(-(F.col("yb") - slope * F.col("xb")) / slope), 6
        ).alias("scale"),
        F.round(
            F.col("sxy") * F.col("sxy") / (F.col("sxx") * F.col("syy")), 6
        ).alias("r2"),
    )


_CROW_SQL = """
    WITH t0 AS (
      SELECT MIN(epoch_us(ts)) / 1000000.0 AS t0 FROM events
    ),
    err AS (
      SELECT epoch_us(ts) / 1000000.0 - (SELECT t0 FROM t0) AS t, event_id
      FROM events WHERE event_type = 'error'
    ),
    seq AS (
      SELECT t, ROW_NUMBER() OVER (ORDER BY t, event_id) AS i
      FROM err WHERE t > 0
    ),
    xy AS (SELECT LN(t) AS x, LN(CAST(i AS DOUBLE)) AS y FROM seq),
    mom AS (
      SELECT COUNT(*) AS n, AVG(x) AS xb, AVG(y) AS yb,
             SUM(x * y) - COUNT(*) * AVG(x) * AVG(y) AS sxy,
             SUM(x * x) - COUNT(*) * AVG(x) * AVG(x) AS sxx,
             SUM(y * y) - COUNT(*) * AVG(y) * AVG(y) AS syy
      FROM xy
    )
    SELECT CAST(n AS BIGINT) AS n_failures,
           ROUND(sxy / sxx, 6) AS beta,
           ROUND(EXP(yb - sxy / sxx * xb), 6) AS lambda,
           ROUND(sxy * sxy / (sxx * syy), 6) AS r2
    FROM mom
"""


@register("crow_amsaa_events", _CROW_SQL)
def crow_amsaa_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    t0 = ev.agg(
        (F.min(F.unix_micros(F.col("ts").cast("timestamp"))) / 1000000.0).alias("t0")
    )
    err = (
        ev.where(F.col("event_type") == "error")
        .crossJoin(F.broadcast(t0))
        .select(
            (
                F.unix_micros(F.col("ts").cast("timestamp")) / 1000000.0
                - F.col("t0")
            ).alias("t"),
            "event_id",
        )
        .where(F.col("t") > 0)
    )
    from lnex_spark.operators.scalable_windows import attach_rank

    seq = attach_rank(
        err, [F.col("t").asc(), F.col("event_id").asc()], rank_col="i"
    ).select("t", "i")
    xy = seq.select(
        F.log("t").alias("x"), F.log(F.col("i").cast("double")).alias("y")
    )
    mom = xy.agg(
        F.count("*").alias("n"),
        F.avg("x").alias("xb"),
        F.avg("y").alias("yb"),
        (F.sum(F.col("x") * F.col("y")) - F.count("*") * F.avg("x") * F.avg("y")).alias("sxy"),
        (F.sum(F.col("x") * F.col("x")) - F.count("*") * F.avg("x") * F.avg("x")).alias("sxx"),
        (F.sum(F.col("y") * F.col("y")) - F.count("*") * F.avg("y") * F.avg("y")).alias("syy"),
    )
    slope = F.col("sxy") / F.col("sxx")
    return mom.select(
        F.col("n").cast("long").alias("n_failures"),
        F.round(slope, 6).alias("beta"),
        F.round(F.exp(F.col("yb") - slope * F.col("xb")), 6).alias("lambda"),
        F.round(
            F.col("sxy") * F.col("sxy") / (F.col("sxx") * F.col("syy")), 6
        ).alias("r2"),
    )
