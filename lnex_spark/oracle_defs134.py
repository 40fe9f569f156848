"""Oracle pairs that run ``operators.scalable_windows``.

  * littles_law_events — Little's law L = λW verified as data over
    30-min-gap user sessions: λW comes from the session table
    (arrival rate × mean duration), while L is INDEPENDENTLY
    computed by sweep-line integration — explode every session into
    (+1 at start, −1 at end) boundary deltas, running-cumsum the
    concurrency, integrate concurrency × interval length over the
    observation window.  The two derivations agree exactly up to
    float noise; the sweep-line running sum is the
    same bounded boundary-sized global window as the KS op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


_GAP_S = 1800


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_LITTLE_SQL = f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) / 1000000.0 AS t FROM events
    ),
    gapped AS (
      SELECT user_id, t,
             CASE WHEN t - LAG(t) OVER (PARTITION BY user_id ORDER BY t)
                       > {_GAP_S} OR
                       LAG(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM ev
    ),
    sess_id AS (
      SELECT user_id, t,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM gapped
    ),
    sessions AS (
      SELECT user_id, sid, MIN(t) AS t0, MAX(t) AS t1
      FROM sess_id GROUP BY user_id, sid
    ),
    win AS (SELECT MIN(t0) AS w0, MAX(t1) AS w1, COUNT(*) AS n_sessions,
                   SUM(t1 - t0) AS total_dur
            FROM sessions),
    deltas AS (
      SELECT t0 AS t, 1 AS d FROM sessions
      UNION ALL
      SELECT t1 AS t, -1 AS d FROM sessions
    ),
    sweep AS (
      SELECT t, SUM(d) OVER (ORDER BY t, d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc,
             LEAD(t) OVER (ORDER BY t, d) AS nxt
      FROM deltas
    ),
    integral AS (
      SELECT SUM(conc * (nxt - t)) AS area FROM sweep WHERE nxt IS NOT NULL
    )
    SELECT CAST(w.n_sessions AS BIGINT) AS n_sessions,
           ROUND(w.n_sessions / (w.w1 - w.w0) * 3600, 6) AS lambda_per_hour,
           ROUND(w.total_dur / w.n_sessions / 3600, 6) AS w_hours,
           ROUND(w.total_dur / (w.w1 - w.w0), 6) AS l_littles,
           ROUND(i.area / (w.w1 - w.w0), 6) AS l_sweep
    FROM win w CROSS JOIN integral i
"""


@register("littles_law_events", _LITTLE_SQL)
def littles_law_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000.0).alias("t"),
    )
    wu = Window.partitionBy("user_id").orderBy("t")
    gapped = e.withColumn(
        "new_s",
        F.when(
            (F.col("t") - F.lag("t").over(wu) > _GAP_S)
            | F.lag("t").over(wu).isNull(),
            1,
        ).otherwise(0),
    )
    sess_id = gapped.withColumn(
        "sid",
        F.sum("new_s").over(wu.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sessions = sess_id.groupBy("user_id", "sid").agg(
        F.min("t").alias("t0"), F.max("t").alias("t1")
    )
    win = sessions.agg(
        F.min("t0").alias("w0"),
        F.max("t1").alias("w1"),
        F.count("*").alias("n_sessions"),
        F.sum(F.col("t1") - F.col("t0")).alias("total_dur"),
    )
    deltas = sessions.select(
        F.col("t0").alias("t"), F.lit(1).alias("d")
    ).unionAll(sessions.select(F.col("t1").alias("t"), F.lit(-1).alias("d")))
    # the boundary table is 2 x n_sessions rows — session count is
    # raw-scale, so the sweep uses the distributed prefix sum + a
    # rank self-join for the lead (round-4 window audit).  (t, d)
    # ties only permute rows whose lead gap is zero, so the area
    # integral is invariant to the tie-break.
    from lnex_spark.operators.scalable_windows import attach_rank

    sw = attach_rank(
        deltas,
        [F.col("t").asc(), F.col("d").asc()],
        rank_col="_rn",
        cumsum_of="d",
        cumsum_col="conc",
    )
    nxt = sw.select((F.col("_rn") - 1).alias("_rno"), F.col("t").alias("nxt"))
    sweep = sw.join(nxt, sw["_rn"] == nxt["_rno"], "left").select(
        "t", "conc", "nxt"
    )
    integral = sweep.filter(F.col("nxt").isNotNull()).agg(
        F.sum(F.col("conc") * (F.col("nxt") - F.col("t"))).alias("area")
    )
    span = F.col("w1") - F.col("w0")
    return win.crossJoin(F.broadcast(integral)).select(
        F.col("n_sessions").cast("long").alias("n_sessions"),
        F.round(F.col("n_sessions") / span * 3600, 6).alias(
            "lambda_per_hour"
        ),
        F.round(F.col("total_dur") / F.col("n_sessions") / 3600, 6).alias(
            "w_hours"
        ),
        F.round(F.col("total_dur") / span, 6).alias("l_littles"),
        F.round(F.col("area") / span, 6).alias("l_sweep"),
    )
