"""Fifty-fifth oracle-registry module: higher moments, inequality
decomposition, and weighted quantiles.

  * moments_events — per-type skewness and excess kurtosis written
    as explicit raw moments (population form), sidestepping the
    sample-vs-population and bias-correction divergences between the
    engines' built-in skewness()/kurtosis() — an exact formula on
    both sides.
    One hash aggregate; moments are map-side combinable.

  * theil_decomp_events — the Theil-T inequality index of the value
    column decomposed into BETWEEN-type and WITHIN-type components
    (T = T_between + Σ share_g · T_g): the additive-decomposition
    property is what makes Theil the drill-down inequality measure
    (unlike Gini, covered by gini_lorenz_customers).
    Two hash aggregates over positive values.

  * weighted_median_lineitem — the quantity-weighted median of
    extended price as an exact cumulative-weight row pick under a
    fully-specified ordering: the first row whose running weight
    reaches half the total — integer weights, so the threshold
    comparison is exact.  Complements the unweighted exact pick
    (scalable_median_price).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_MOMENTS_SQL = """
    WITH raw AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(value) AS s1,
             SUM(value * value) AS s2,
             SUM(value * value * value) AS s3,
             SUM(value * value * value * value) AS s4
      FROM events GROUP BY event_type
    ),
    mom AS (
      SELECT event_type, n,
             s1 / n AS m1,
             s2 / n - (s1 / n) * (s1 / n) AS v
      FROM raw
    )
    SELECT r.event_type, r.n,
           ROUND(m.m1, 6) AS mean,
           ROUND(sqrt(m.v), 6) AS stddev_pop,
           ROUND((r.s3 / r.n - 3 * m.m1 * m.v - m.m1 * m.m1 * m.m1)
                 / (sqrt(m.v) * m.v), 6) AS skewness,
           ROUND((r.s4 / r.n - 4 * m.m1 * r.s3 / r.n + 6 * m.m1 * m.m1 * r.s2 / r.n
                  - 3 * m.m1 * m.m1 * m.m1 * m.m1) / (m.v * m.v) - 3, 6) AS ex_kurtosis
    FROM raw r JOIN mom m ON r.event_type = m.event_type
"""


@register("moments_events", _MOMENTS_SQL)
def moments_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    v = F.col("value")
    raw = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.sum(v * v * v).alias("s3"),
        F.sum(v * v * v * v).alias("s4"),
    )
    m1 = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - m1 * m1
    return raw.select(
        "event_type",
        "n",
        F.round(m1, 6).alias("mean"),
        F.round(F.sqrt(var), 6).alias("stddev_pop"),
        F.round(
            (F.col("s3") / F.col("n") - 3 * m1 * var - m1 * m1 * m1) / (F.sqrt(var) * var),
            6,
        ).alias("skewness"),
        F.round(
            (
                F.col("s4") / F.col("n")
                - 4 * m1 * F.col("s3") / F.col("n")
                + 6 * m1 * m1 * F.col("s2") / F.col("n")
                - 3 * m1 * m1 * m1 * m1
            )
            / (var * var)
            - 3,
            6,
        ).alias("ex_kurtosis"),
    )


_THEIL_SQL = """
    WITH pos AS (SELECT event_type, value FROM events WHERE value > 0),
    tot AS (SELECT COUNT(*) AS n, AVG(value) AS mu FROM pos),
    per_g AS (
      SELECT event_type, COUNT(*) AS ng, AVG(value) AS mug,
             SUM((value / (SELECT mu FROM tot)) * ln(value / (SELECT mu FROM tot))) AS tsum
      FROM pos GROUP BY event_type
    ),
    total_t AS (
      SELECT SUM(tsum) / (SELECT n FROM tot) AS t_total FROM per_g
    ),
    between_t AS (
      SELECT SUM((ng * mug / ((SELECT n FROM tot) * (SELECT mu FROM tot)))
                 * ln(mug / (SELECT mu FROM tot))) AS t_between
      FROM per_g
    )
    SELECT ROUND(t.t_total, 6) AS theil_total,
           ROUND(b.t_between, 6) AS theil_between,
           ROUND(t.t_total - b.t_between, 6) AS theil_within
    FROM total_t t, between_t b
"""


@register("theil_decomp_events", _THEIL_SQL)
def theil_decomp_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value") > 0)
    tot = ev.agg(F.count("*").alias("n"), F.avg("value").alias("mu"))
    withmu = ev.crossJoin(tot)
    per_g = withmu.groupBy("event_type", "n", "mu").agg(
        F.count("*").alias("ng"),
        F.avg("value").alias("mug"),
        F.sum((F.col("value") / F.col("mu")) * F.log(F.col("value") / F.col("mu"))).alias("tsum"),
    )
    agg = per_g.agg(
        (F.sum("tsum") / F.first("n")).alias("t_total"),
        F.sum(
            (F.col("ng") * F.col("mug") / (F.col("n") * F.col("mu")))
            * F.log(F.col("mug") / F.col("mu"))
        ).alias("t_between"),
    )
    return agg.select(
        F.round("t_total", 6).alias("theil_total"),
        F.round("t_between", 6).alias("theil_between"),
        F.round(F.col("t_total") - F.col("t_between"), 6).alias("theil_within"),
    )


_WMED_SQL = """
    WITH w AS (
      SELECT l_extendedprice AS price,
             CAST(l_quantity AS BIGINT) AS wt,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    cum AS (
      SELECT price,
             SUM(wt) OVER (ORDER BY price, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             (SELECT SUM(wt) FROM w) AS tw
      FROM w
    )
    SELECT ROUND(MIN(price), 6) AS weighted_median,
           CAST(MIN(tw) AS BIGINT) AS total_weight
    FROM cum WHERE cw * 2 >= tw
"""


@register("weighted_median_lineitem", _WMED_SQL)
def weighted_median_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median: global cumulative-weight pick.  The
    single global window is presentation-scale here; the 100 TB form
    is the two-pass bucketed selection already proven by
    scalable_median_price (histogram of weight per price bucket →
    locate the half-weight bucket → in-bucket pick)."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").cast("long").alias("wt"),
        "l_orderkey",
        "l_linenumber",
    )
    tot = li.agg(F.sum("wt").alias("tw"))
    # distributed integer prefix sum over ALL lineitems (r4 audit) —
    # exact, order-independent
    from lnex_spark.operators.scalable_windows import attach_rank

    cum = attach_rank(
        li,
        [F.col("price").asc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()],
        rank_col="_rn",
        cumsum_of="wt",
        cumsum_col="cw",
    ).select("price", "cw").crossJoin(tot)
    return cum.filter(F.col("cw") * 2 >= F.col("tw")).agg(
        F.round(F.min("price"), 6).alias("weighted_median"),
        F.min("tw").alias("total_weight"),
    )
