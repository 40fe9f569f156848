"""Oracle pairs that run ``operators.scalable_windows``.

  * freshness_age_events — Age-of-Information of the purchase-event
    "feed": if a dashboard shows the latest purchase, its staleness
    sawtooths between updates; time-average age = sum(gap_i^2 / 2) /
    span (exact for the sawtooth), plus peak age = max gap and the
    95th-percentile gap by explicit rank pick.  The metric that
    distinguishes "updates arrive often on average" from "there are
    2-hour holes" — SLA language for pipeline freshness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_FRESH_SQL = """
    WITH upd AS (
      SELECT epoch_us(ts) / 1000000.0 AS t, event_id
      FROM events WHERE event_type = 'purchase'
    ),
    gaps AS (
      SELECT t - LAG(t) OVER (ORDER BY t, event_id) AS g
      FROM upd
    ),
    ok AS (SELECT g FROM gaps WHERE g IS NOT NULL),
    span AS (
      SELECT MAX(t) - MIN(t) AS span FROM upd
    ),
    ranked AS (
      SELECT g, ROW_NUMBER() OVER (ORDER BY g) AS rn,
             COUNT(*) OVER () AS nn
      FROM ok
    )
    SELECT CAST(MAX(nn) AS BIGINT) AS n_updates,
           ROUND(SUM(g * g) / 2 / (SELECT span FROM span), 6) AS avg_age_s,
           ROUND(MAX(g), 6) AS peak_age_s,
           ROUND(MAX(CASE WHEN rn = CAST(CEIL(0.95 * nn) AS BIGINT)
                          THEN g END), 6) AS p95_gap_s
    FROM ranked
"""


@register("freshness_age_events", _FRESH_SQL)
def freshness_age_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    upd = ev.select(
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1000000.0).alias("t"),
        "event_id",
    )
    # distributed global lag + rank over purchase events (round-4
    # window audit); g-ties permute ranks among equal gaps only, which
    # the rank-based quantile pick is invariant to
    from lnex_spark.operators.scalable_windows import attach_rank, attach_shift

    gaps = (
        attach_shift(upd, [F.col("t").asc(), F.col("event_id").asc()], ["t"], offset=-1)
        .select((F.col("t") - F.col("t_lag1")).alias("g"))
        .where(F.col("g").isNotNull())
    )
    span = upd.agg((F.max("t") - F.min("t")).alias("span"))
    ranked = attach_rank(gaps, [F.col("g").asc()], rank_col="rn").crossJoin(
        F.broadcast(gaps.agg(F.count("*").alias("nn")))
    )
    return (
        ranked.crossJoin(F.broadcast(span))
        .agg(
            F.max("nn").cast("long").alias("n_updates"),
            F.round(
                F.sum(F.col("g") * F.col("g")) / 2 / F.max("span"), 6
            ).alias("avg_age_s"),
            F.round(F.max("g"), 6).alias("peak_age_s"),
            F.round(
                F.max(
                    F.when(
                        F.col("rn") == F.ceil(0.95 * F.col("nn")).cast("long"),
                        F.col("g"),
                    )
                ),
                6,
            ).alias("p95_gap_s"),
        )
    )
