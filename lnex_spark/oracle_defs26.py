"""Twenty-sixth oracle-registry module: time-series resampling.

  * resample_locf_events — regularize each user's irregular event
    stream onto a dense hourly grid (generated per-key spine via
    sequence+explode, bounded by span/granularity) and forward-fill
    empty hours with the last observed hourly sum
    (operators/timeseries.resample_hourly_locf).  Unlike a plain
    LOCF fill, which fills nulls at EXISTING rows, resampling materializes the missing rows first, the step
    every equal-spacing consumer (rate math, drift windows, sequence
    models) needs.  Same IGNORE NULLS dialect split as locf: DuckDB
    parses ``last_value(v IGNORE NULLS)``, the Spark side uses
    ``F.last(ignorenulls=True)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_RESAMPLE_SQL = """
    WITH ev AS (SELECT user_id, ts, value FROM events WHERE user_id < 20),
    agg AS (
      SELECT user_id, date_trunc('hour', ts) AS h, sum(value) AS v
      FROM ev GROUP BY 1, 2
    ),
    span AS (
      SELECT user_id, date_trunc('hour', min(ts)) AS h0,
             date_trunc('hour', max(ts)) AS h1
      FROM ev GROUP BY 1
    ),
    spine AS (
      SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM span
    ),
    j AS (
      SELECT s.user_id, s.h, a.v
      FROM spine s LEFT JOIN agg a ON a.user_id = s.user_id AND a.h = s.h
    )
    SELECT user_id, h,
           round(last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS v_filled
    FROM j
"""


@register("resample_locf_events", _RESAMPLE_SQL)
def resample_locf_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.timeseries import resample_hourly_locf

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    return resample_hourly_locf(ev)
