"""Oracle pairs that run ``operators.scalable_windows``.

  * theilsen_events — Theil-Sen robust slope of the daily value
    series: the median of all pairwise slopes, as an exact ordered
    row pick under a fully-specified (slope, day_a, day_b) order.
    Pairs are quadratic in DAYS (a month → ~465 pairs), not rows —
    the robust complement of the regr_* least-squares family.

  * psm_events — propensity-score matching: md5 user arms, score =
    pre-period mean value, each treated user matched to the nearest
    control score via the two-directional IGNORE-NULLS window pick
    (a nearest-event pick applied to the score axis, no quadratic treated×control join), ATT = mean post-period
    difference against the matched control.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_TS_SQL = """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, AVG(value) AS x FROM events GROUP BY 1
    ),
    idx AS (
      SELECT x, datediff('day', DATE '2024-01-01', d) AS t FROM daily
    ),
    slopes AS (
      SELECT (b.x - a.x) / (b.t - a.t) AS slope, a.t AS ta, b.t AS tb
      FROM idx a JOIN idx b ON b.t > a.t
    ),
    ranked AS (
      SELECT slope,
             row_number() OVER (ORDER BY slope, ta, tb) AS rk,
             COUNT(*) OVER () AS n
      FROM slopes
    )
    SELECT ROUND(MIN(slope), 6) AS theilsen_slope,
           MIN(n) AS n_pairs
    FROM ranked WHERE rk = CAST(ceil(n / 2.0) AS BIGINT)
"""


@register("theilsen_events", _TS_SQL)
def theilsen_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(F.avg("value").alias("x"))
    idx = daily.select("x", F.datediff(F.col("d"), F.lit("2024-01-01").cast("date")).alias("t"))
    a = idx.select(F.col("x").alias("xa"), F.col("t").alias("ta"))
    b = idx.select(F.col("x").alias("xb"), F.col("t").alias("tb"))
    slopes = a.join(b, F.col("tb") > F.col("ta")).select(
        ((F.col("xb") - F.col("xa")) / (F.col("tb") - F.col("ta"))).alias("slope"),
        "ta",
        "tb",
    )
    # day-pair count grows quadratically with the span: distributed
    # rank + broadcast total (round-4 window audit)
    from lnex_spark.operators.scalable_windows import attach_rank

    ranked = attach_rank(
        slopes,
        [F.col("slope").asc(), F.col("ta").asc(), F.col("tb").asc()],
        rank_col="rk",
    ).crossJoin(F.broadcast(slopes.agg(F.count("*").alias("n"))))
    return ranked.filter(F.col("rk") == F.ceil(F.col("n") / 2.0).cast("long")).agg(
        F.round(F.min("slope"), 6).alias("theilsen_slope"),
        F.min("n").alias("n_pairs"),
    )


# ---------------------------------------------------------------------------
# psm_events
# ---------------------------------------------------------------------------

_PSM_TEMPLATE = """
    WITH users AS (
      SELECT user_id,
             CASE WHEN {bucket} % 2 = 0 THEN 0 ELSE 1 END AS treated,
             AVG(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16' THEN value END) AS score,
             AVG(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16' THEN value END) AS y
      FROM events GROUP BY user_id
    ),
    valid AS (
      SELECT user_id, treated, score, y FROM users
      WHERE score IS NOT NULL AND y IS NOT NULL
    ),
    laned AS (
      SELECT user_id, treated, score, y,
             {lv_prev} OVER (ORDER BY score, user_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_ctrl_y,
             {lv_prev_s} OVER (ORDER BY score, user_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_ctrl_s,
             {fv_next} OVER (ORDER BY score, user_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_ctrl_y,
             {fv_next_s} OVER (ORDER BY score, user_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_ctrl_s
      FROM valid
    ),
    matched AS (
      SELECT user_id, score, y,
             CASE
               WHEN prev_ctrl_s IS NULL THEN next_ctrl_y
               WHEN next_ctrl_s IS NULL THEN prev_ctrl_y
               WHEN abs(score - prev_ctrl_s) <= abs(next_ctrl_s - score) THEN prev_ctrl_y
               ELSE next_ctrl_y
             END AS ctrl_y
      FROM laned WHERE treated = 1
    )
    SELECT COUNT(*) AS n_matched,
           ROUND(AVG(y - ctrl_y), 6) AS att
    FROM matched WHERE ctrl_y IS NOT NULL
"""

_CTRL_Y = "CASE WHEN treated = 0 THEN y END"
_CTRL_S = "CASE WHEN treated = 0 THEN score END"
_BUCKET_DUCK = (
    "CAST(('0x' || substr(md5('did-v1#' || CAST(user_id AS VARCHAR)), 1, 4)) AS INTEGER)"
)
_BUCKET_SPARK = (
    "CAST(conv(substr(md5(concat('did-v1#', CAST(user_id AS STRING))), 1, 4), 16, 10) AS BIGINT)"
)


@register(
    "psm_events",
    _PSM_TEMPLATE.format(
        bucket=_BUCKET_DUCK,
        lv_prev=f"last_value({_CTRL_Y} IGNORE NULLS)",
        lv_prev_s=f"last_value({_CTRL_S} IGNORE NULLS)",
        fv_next=f"first_value({_CTRL_Y} IGNORE NULLS)",
        fv_next_s=f"first_value({_CTRL_S} IGNORE NULLS)",
    ),
)
def psm_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The matching lanes ran last/first_value IGNORE NULLS windows over
    # the whole per-USER table (raw scale) — converted in the round-4
    # window audit to the distributed edge-value pass
    # (scalable_windows.attach_edge_values); the rest reproduces the
    # SQL template's arithmetic exactly.
    from lnex_spark.operators.scalable_windows import attach_edge_values

    ev = _t(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16").cast("date")
    users = ev.groupBy("user_id").agg(
        F.avg(
            F.when(F.col("ts").cast("date") < cutoff, F.col("value"))
        ).alias("score"),
        F.avg(
            F.when(F.col("ts").cast("date") >= cutoff, F.col("value"))
        ).alias("y"),
    ).withColumn(
        "treated",
        F.when(F.expr(_BUCKET_SPARK) % 2 == 0, 0).otherwise(1),
    )
    valid = users.where(F.col("score").isNotNull() & F.col("y").isNotNull())
    ctrl_y = F.when(F.col("treated") == 0, F.col("y"))
    ctrl_s = F.when(F.col("treated") == 0, F.col("score"))
    laned = attach_edge_values(
        valid,
        [F.col("score").asc(), F.col("user_id").asc()],
        [
            (ctrl_y, "prev_ctrl_y", "prev"),
            (ctrl_s, "prev_ctrl_s", "prev"),
            (ctrl_y, "next_ctrl_y", "next"),
            (ctrl_s, "next_ctrl_s", "next"),
        ],
    )
    matched = laned.where(F.col("treated") == 1).select(
        "y",
        F.when(F.col("prev_ctrl_s").isNull(), F.col("next_ctrl_y"))
        .when(F.col("next_ctrl_s").isNull(), F.col("prev_ctrl_y"))
        .when(
            F.abs(F.col("score") - F.col("prev_ctrl_s"))
            <= F.abs(F.col("next_ctrl_s") - F.col("score")),
            F.col("prev_ctrl_y"),
        )
        .otherwise(F.col("next_ctrl_y"))
        .alias("ctrl_y"),
    )
    return matched.where(F.col("ctrl_y").isNotNull()).agg(
        F.count("*").alias("n_matched"),
        F.round(F.avg(F.col("y") - F.col("ctrl_y")), 6).alias("att"),
    )
