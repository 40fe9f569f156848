"""Oracle pairs that run ``operators.scalable_windows``.

  * sprt_events — Wald sequential probability-ratio test replayed
    over the click/view stream in (ts, event_id) order: H0 p=0.5 vs
    H1 p=0.55 for the click share, per-observation log-likelihood
    increment x ln(p1/p0) + (1-x) ln(q1/q0) accumulated by one window
    scan, boundaries ±ln(19) (alpha = beta = 0.05).  Reports the
    first boundary crossing (index, time-fraction of the stream,
    decision) and the final LLR — the always-valid early-stopping
    monitor that fixed-horizon ab_test_events cannot provide.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_P0, _P1 = 0.5, 0.55
_LW = math.log(_P1 / _P0)
_LL = math.log((1 - _P1) / (1 - _P0))
_BOUND = math.log(19.0)


_SPRT_SQL = f"""
    WITH obs AS (
      SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS x,
             ts, event_id
      FROM events WHERE event_type IN ('click', 'view')
    ),
    llr AS (
      SELECT ROW_NUMBER() OVER (ORDER BY ts, event_id) AS i,
             SUM(x * CAST({_LW!r} AS DOUBLE)
                 + (1 - x) * CAST({_LL!r} AS DOUBLE))
               OVER (ORDER BY ts, event_id) AS l
      FROM obs
    ),
    n AS (SELECT COUNT(*) AS n, MAX(l) AS _ml FROM llr),
    final AS (
      SELECT l AS final_llr FROM llr ORDER BY i DESC LIMIT 1
    ),
    crossing AS (
      SELECT i, l FROM llr
      WHERE l >= {_BOUND!r} OR l <= -{_BOUND!r}
      ORDER BY i LIMIT 1
    )
    SELECT CAST(n.n AS BIGINT) AS n,
           CAST(c.i AS BIGINT) AS stop_at,
           ROUND(CAST(c.i AS DOUBLE) / n.n, 6) AS stop_frac,
           CASE WHEN c.l >= {_BOUND!r} THEN 'accept_h1'
                WHEN c.l <= -{_BOUND!r} THEN 'accept_h0'
                ELSE NULL END AS decision,
           ROUND(c.l, 6) AS llr_at_stop,
           ROUND(f.final_llr, 6) AS final_llr
    FROM n CROSS JOIN final f LEFT JOIN crossing c ON TRUE
"""


@register("sprt_events", _SPRT_SQL)
def sprt_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view")
    )
    obs = ev.select(
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("x"),
        "ts",
        "event_id",
    )
    # distributed rank + prefix LLR over all click/view events
    # (round-4 window audit).  The per-step term is one of two
    # constants, so the prefix sum is c1*k + c2*(i-k) up to float
    # association — crossings sit far from the ulp scale.
    from lnex_spark.operators.scalable_windows import attach_rank

    llr = attach_rank(
        obs,
        [F.col("ts").asc(), F.col("event_id").asc()],
        rank_col="i",
        cumsum_of=F.col("x") * _LW + (1 - F.col("x")) * _LL,
        cumsum_col="l",
    ).select("i", "l")
    n = llr.agg(F.count("*").alias("n"))
    final = llr.orderBy(F.desc("i")).limit(1).select(
        F.col("l").alias("final_llr")
    )
    crossing = (
        llr.where((F.col("l") >= _BOUND) | (F.col("l") <= -_BOUND))
        .orderBy("i")
        .limit(1)
        .select(F.col("i").alias("ci"), F.col("l").alias("cl"))
    )
    return (
        n.crossJoin(F.broadcast(final))
        .join(F.broadcast(crossing), F.lit(True), "left")
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("ci").cast("long").alias("stop_at"),
            F.round(F.col("ci").cast("double") / F.col("n"), 6).alias("stop_frac"),
            F.when(F.col("cl") >= _BOUND, "accept_h1")
            .when(F.col("cl") <= -_BOUND, "accept_h0")
            .alias("decision"),
            F.round("cl", 6).alias("llr_at_stop"),
            F.round("final_llr", 6).alias("final_llr"),
        )
    )
