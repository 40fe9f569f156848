"""Oracle pairs that run ``operators.scalable_windows``.

  * conformal_sets_events — split-conformal CLASSIFICATION (the
    set-valued sibling of conformal_events' regression intervals):
    transition probabilities fitted on the first half-month,
    calibration scores = P̂(true next | state) on first-half
    transitions, threshold q = the exact-pick 10th-percentile
    calibration score, prediction set for each state = every type
    with P̂ >= q.  Emits per-state set sizes and the second-half
    empirical coverage, which the conformal guarantee says should
    be near 90% regardless of how wrong the model is — distribution-
    free correctness from exact integer counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_CONF_SQL = """
    WITH ordered AS (
      SELECT event_type AS s,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t,
             ts < TIMESTAMP '2024-01-16' AS first_half
      FROM events
    ),
    cal_trans AS (
      SELECT s, t, COUNT(*) AS c FROM ordered
      WHERE t IS NOT NULL AND first_half GROUP BY s, t
    ),
    cal_marg AS (SELECT s, SUM(c) AS cs FROM cal_trans GROUP BY s),
    p AS (
      SELECT tr.s, tr.t, tr.c * 1.0 / m.cs AS p
      FROM cal_trans tr JOIN cal_marg m ON tr.s = m.s
    ),
    cal_scores AS (
      SELECT COALESCE(p.p, 0.0) AS score
      FROM (SELECT s, t FROM ordered WHERE t IS NOT NULL AND first_half) o
      LEFT JOIN p ON p.s = o.s AND p.t = o.t
    ),
    q AS (
      SELECT score AS thr FROM (
        SELECT score, row_number() OVER (ORDER BY score) AS rk,
               COUNT(*) OVER () AS n
        FROM cal_scores) WHERE rk = CAST(ceil(n * 0.1) AS BIGINT)
    ),
    sets AS (
      SELECT p.s, p.t FROM p CROSS JOIN q WHERE p.p >= q.thr
    ),
    set_sizes AS (
      SELECT s, COUNT(*) AS set_size FROM sets GROUP BY s
    ),
    test AS (
      SELECT o.s, o.t,
             CASE WHEN st.t IS NOT NULL THEN 1 ELSE 0 END AS covered
      FROM (SELECT s, t FROM ordered WHERE t IS NOT NULL AND NOT first_half) o
      LEFT JOIN sets st ON st.s = o.s AND st.t = o.t
    ),
    cov AS (
      SELECT s, COUNT(*) AS n_test, SUM(covered) AS n_cov FROM test GROUP BY s
    )
    SELECT c.s AS state, ss.set_size,
           CAST(c.n_test AS BIGINT) AS n_test,
           ROUND(c.n_cov * 1.0 / c.n_test, 6) AS coverage
    FROM cov c JOIN set_sizes ss ON ss.s = c.s
"""


@register("conformal_sets_events", _CONF_SQL)
def conformal_sets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        F.col("event_type").alias("s"),
        F.lead("event_type").over(w).alias("t"),
        (F.col("ts") < F.lit("2024-01-16").cast("timestamp")).alias("first_half"),
    ).filter(F.col("t").isNotNull())
    cal = ordered.filter("first_half")
    cal_trans = cal.groupBy("s", "t").agg(F.count("*").alias("c"))
    cal_marg = cal_trans.groupBy("s").agg(F.sum("c").alias("cs"))
    p = cal_trans.join(cal_marg, "s").select(
        "s", "t", (F.col("c") * 1.0 / F.col("cs")).alias("p")
    )
    cal_scores = cal.join(p, ["s", "t"], "left").select(
        F.coalesce(F.col("p"), F.lit(0.0)).alias("score")
    )
    # the calibration scores are one row per first-half EVENT (raw
    # scale), so the quantile pick uses the distributed rank (round-4
    # window audit) with the total count as a broadcast scalar; score
    # ties don't affect the selected VALUE at the target rank
    from lnex_spark.operators.scalable_windows import attach_rank

    n_cal = cal_scores.agg(F.count("*").alias("n"))
    q = (
        attach_rank(cal_scores, [F.col("score").asc()], rank_col="rk")
        .crossJoin(F.broadcast(n_cal))
        .filter(F.col("rk") == F.ceil(F.col("n") * 0.1).cast("long"))
        .select(F.col("score").alias("thr"))
    )
    sets = p.crossJoin(q).filter(F.col("p") >= F.col("thr")).select("s", "t")
    set_sizes = sets.groupBy("s").agg(F.count("*").alias("set_size"))
    test = (
        ordered.filter(~F.col("first_half"))
        .join(sets.withColumn("in_set", F.lit(1)), ["s", "t"], "left")
        .select("s", F.coalesce(F.col("in_set"), F.lit(0)).alias("covered"))
    )
    cov = test.groupBy("s").agg(
        F.count("*").alias("n_test"), F.sum("covered").alias("n_cov")
    )
    return cov.join(set_sizes, "s").select(
        F.col("s").alias("state"),
        "set_size",
        F.col("n_test").cast("long").alias("n_test"),
        F.round(F.col("n_cov") * 1.0 / F.col("n_test"), 6).alias("coverage"),
    )
