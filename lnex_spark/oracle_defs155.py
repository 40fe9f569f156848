"""Oracle pairs that run ``operators.scalable_windows``.

  * lindley_backlog_events — single-server queue backlog replay over
    the full event stream via the unrolled Lindley recursion: work
    c_t = value arrives at each event, the server drains at r = 1.2x
    the long-run arrival rate (total value ROUNDED to 2 first / span;
    identical r both engines).  With S_t = cumsum(c) - r * t_seconds
    in (ts, event_id) order, backlog q_t = S_t - running_min(S_t) —
    the max(0, q + c - r dt) recursion becomes two window scans, no
    iteration.  Reports max/mean backlog and the busy fraction: the
    capacity-planning twin of littles_law_events that sees BURSTS,
    not just averages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_LINDLEY_SQL = """
    WITH base AS (
      SELECT epoch_us(ts) / 1000000.0 AS t, value AS c, event_id
      FROM events
    ),
    span AS (
      SELECT ROUND(SUM(c), 2) AS total, MAX(t) - MIN(t) AS dur FROM base
    ),
    r AS (SELECT 1.2 * total / dur AS r FROM span),
    s AS (
      SELECT t, event_id,
             CAST(SUM(CAST(c AS DECIMAL(18,4))) OVER (ORDER BY t, event_id)
                  AS DOUBLE) - (SELECT r FROM r) * t
               AS s
      FROM base
    ),
    q AS (
      SELECT s - MIN(s) OVER (ORDER BY t, event_id) AS q FROM s
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND((SELECT r FROM r), 6) AS drain_rate,
           ROUND(MAX(q), 2) AS max_backlog,
           ROUND(AVG(q), 2) AS mean_backlog,
           ROUND(AVG(CASE WHEN q > 1e-9 THEN 1.0 ELSE 0.0 END), 6)
             AS busy_frac
    FROM q
"""


@register("lindley_backlog_events", _LINDLEY_SQL)
def lindley_backlog_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1000000.0).alias("t"),
        F.col("value").alias("c"),
        "event_id",
    )
    span = base.agg(
        F.round(F.sum("c"), 2).alias("total"),
        (F.max("t") - F.min("t")).alias("dur"),
    ).select((1.2 * F.col("total") / F.col("dur")).alias("r"))
    # distributed prefix sum + running min over ALL events (r4 audit)
    from lnex_spark.operators.scalable_windows import (
        attach_rank,
        attach_running_extremum,
    )

    order = [F.col("t").asc(), F.col("event_id").asc()]
    s = (
        attach_rank(
            base.crossJoin(F.broadcast(span)),
            order,
            rank_col="_rn",
            # DECIMAL prefix sum: stored values sit on the 4-decimal
            # grid, so the decimal cumsum is exact and order-
            # independent — the distributed partial-sum order cannot
            # shift a rounded cent (cf. the q7/q10 money idiom)
            cumsum_of=F.col("c").cast("decimal(18,4)"),
            cumsum_col="_cumc",
        )
        .withColumn("s", F.col("_cumc").cast("double") - F.col("r") * F.col("t"))
        .drop("_rn", "_cumc")
    )
    q = attach_running_extremum(s, order, "s", out_col="_mins", kind="min").withColumn(
        "q", F.col("s") - F.col("_mins")
    )
    return q.agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.max("r"), 6).alias("drain_rate"),
        F.round(F.max("q"), 2).alias("max_backlog"),
        F.round(F.avg("q"), 2).alias("mean_backlog"),
        F.round(
            F.avg(F.when(F.col("q") > 1e-9, 1.0).otherwise(0.0)), 6
        ).alias("busy_frac"),
    )
