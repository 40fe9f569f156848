"""Oracle pairs that run ``operators.scalable_windows``.

  * rate_ratio_events — weekend-vs-weekday error rate ratio with
    the EXACT conditional test: given k1 + k2 total errors, k1 is
    Binomial(k, p0 = T1/(T1+T2)) under equal rates, so the p-value
    is an exact binomial tail — computed with the cumulative
    ln-binomial window machinery (no normal approximation, valid at
    any count).  Reports the rate ratio, its exact two-sided
    p-value, and the mid-p variant (the less-conservative standard
    in modern epi).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_RR_SQL = """
    WITH lab AS (
      SELECT CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS wkend,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS err
      FROM events
    ),
    agg AS (
      SELECT SUM(CASE WHEN wkend = 1 THEN err ELSE 0 END) AS k1,
             SUM(CASE WHEN wkend = 0 THEN err ELSE 0 END) AS k2,
             SUM(CASE WHEN wkend = 1 THEN 1 ELSE 0 END) AS t1,
             SUM(CASE WHEN wkend = 0 THEN 1 ELSE 0 END) AS t2
      FROM lab
    ),
    p0 AS (
      SELECT k1, k2, t1, t2, k1 + k2 AS k,
             CAST(t1 AS DOUBLE) / (t1 + t2) AS p
      FROM agg
    ),
    grid AS (
      SELECT p0.k, p0.p, p0.k1, j.j
      FROM p0 JOIN (SELECT UNNEST(range(0, 1000000)) AS j) j
        ON j.j <= p0.k
    ),
    lnc AS (
      SELECT k, p, k1, j,
             SUM(CASE WHEN j = 0 THEN 0.0
                      ELSE LN(CAST(k - j + 1 AS DOUBLE) / j) END)
               OVER (ORDER BY j
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS lnck
      FROM grid
    ),
    pmf AS (
      SELECT j, k1,
             EXP(lnck + j * LN(p) + (k - j) * LN(1 - p)) AS prob
      FROM lnc
    ),
    tails AS (
      SELECT SUM(CASE WHEN j <= (SELECT k1 FROM p0) THEN prob END) AS lo,
             SUM(CASE WHEN j >= (SELECT k1 FROM p0) THEN prob END) AS hi,
             SUM(CASE WHEN j = (SELECT k1 FROM p0) THEN prob END) AS at
      FROM pmf
    )
    SELECT CAST(p.k1 AS BIGINT) AS weekend_errors,
           CAST(p.k2 AS BIGINT) AS weekday_errors,
           ROUND((CAST(p.k1 AS DOUBLE) / p.t1)
                 / (CAST(p.k2 AS DOUBLE) / p.t2), 6) AS rate_ratio,
           ROUND(LEAST(2 * LEAST(t.lo, t.hi), 1), 6) AS exact_p_two_sided,
           ROUND(LEAST(2 * LEAST(t.lo - t.at / 2, t.hi - t.at / 2), 1), 6)
             AS midp_two_sided
    FROM p0 p CROSS JOIN tails t
"""


@register("rate_ratio_events", _RR_SQL)
def rate_ratio_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # Spark dayofweek: 1=Sunday..7=Saturday; DuckDB: 0=Sunday..6=Saturday.
    wkend = F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0)
    lab = ev.select(
        wkend.alias("wkend"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("err"),
    )
    agg = lab.agg(
        F.sum(F.when(F.col("wkend") == 1, F.col("err")).otherwise(0)).alias("k1"),
        F.sum(F.when(F.col("wkend") == 0, F.col("err")).otherwise(0)).alias("k2"),
        F.sum(F.when(F.col("wkend") == 1, 1).otherwise(0)).alias("t1"),
        F.sum(F.when(F.col("wkend") == 0, 1).otherwise(0)).alias("t2"),
    )
    row = agg.collect()[0]
    k1, k2, t1, t2 = (int(row[c]) for c in ("k1", "k2", "t1", "t2"))
    k = k1 + k2
    p = t1 / (t1 + t2)
    js = ev.sparkSession.range(0, k + 1).select(F.col("id").alias("j"))
    # the support table has k+1 rows (k = total error count — raw
    # scale): distributed prefix sum of the log terms (round-4 audit)
    from lnex_spark.operators.scalable_windows import attach_rank

    lnc = attach_rank(
        js,
        [F.col("j").asc()],
        rank_col="_rn",
        cumsum_of=F.when(F.col("j") == 0, 0.0).otherwise(
            F.log(
                (F.lit(k) - F.col("j") + 1).cast("double")
                / F.when(F.col("j") != 0, F.col("j"))
            )
        ),
        cumsum_col="lnck",
    ).select("j", "lnck")
    import math

    pmf = lnc.select(
        "j",
        F.exp(
            F.col("lnck")
            + F.col("j") * math.log(p)
            + (F.lit(k) - F.col("j")) * math.log(1 - p)
        ).alias("prob"),
    )
    tails = pmf.agg(
        F.sum(F.when(F.col("j") <= k1, F.col("prob"))).alias("lo"),
        F.sum(F.when(F.col("j") >= k1, F.col("prob"))).alias("hi"),
        F.sum(F.when(F.col("j") == k1, F.col("prob"))).alias("at"),
    )
    rr = (k1 / t1) / (k2 / t2)
    return tails.select(
        F.lit(k1).cast("long").alias("weekend_errors"),
        F.lit(k2).cast("long").alias("weekday_errors"),
        F.round(F.lit(rr), 6).alias("rate_ratio"),
        F.round(
            F.least(2 * F.least("lo", "hi"), F.lit(1.0)), 6
        ).alias("exact_p_two_sided"),
        F.round(
            F.least(
                2
                * F.least(
                    F.col("lo") - F.col("at") / 2,
                    F.col("hi") - F.col("at") / 2,
                ),
                F.lit(1.0),
            ),
            6,
        ).alias("midp_two_sided"),
    )
