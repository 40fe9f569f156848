"""Oracle pairs that run ``operators.scalable_windows``.

  * brunner_munzel_events — Brunner-Munzel rank statistic for
    purchase vs view values (scipy convention): tie-stable average
    ranks in the combined sample and within groups, group rank
    variances S_i^2 = var(Rc - Rw), W = n1 n2 (Rbar1c - Rbar2c) /
    (N sqrt(n1 S1^2 + n2 S2^2)), plus the stochastic-superiority
    estimate p_hat = P(X < Y) + 0.5 P(X = Y).  The
    Behrens-Fisher-robust replacement for the Mann-Whitney test,
    which assumes equal shape/variance under H0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_BM_SQL = """
    WITH samp AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 2 END AS g,
             value AS v, event_id
      FROM events WHERE event_type IN ('purchase', 'view')
    ),
    rc AS (
      SELECT g, v, event_id,
             (2.0 * RANK() OVER (ORDER BY v)
              + COUNT(*) OVER (PARTITION BY v) - 1) / 2 AS rcomb,
             (2.0 * RANK() OVER (PARTITION BY g ORDER BY v)
              + COUNT(*) OVER (PARTITION BY g, v) - 1) / 2 AS rwith
      FROM samp
    ),
    gstat AS (
      SELECT r.g, MAX(gr.n) AS n, MAX(gr.rbar) AS rbar,
             SUM(POW(r.rcomb - r.rwith - gr.rbar + (gr.n + 1) / 2.0, 2))
               / (MAX(gr.n) - 1) AS s2
      FROM rc r JOIN (SELECT g, COUNT(*) AS n, AVG(rcomb) AS rbar
                      FROM rc GROUP BY g) gr ON gr.g = r.g
      GROUP BY r.g
    ),
    flat AS (
      SELECT MAX(CASE WHEN g = 1 THEN n END) AS n1,
             MAX(CASE WHEN g = 2 THEN n END) AS n2,
             MAX(CASE WHEN g = 1 THEN rbar END) AS r1,
             MAX(CASE WHEN g = 2 THEN rbar END) AS r2,
             MAX(CASE WHEN g = 1 THEN s2 END) AS s1,
             MAX(CASE WHEN g = 2 THEN s2 END) AS s2_
      FROM gstat
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           ROUND((r2 - (n2 + 1) / 2.0) / n1, 6) AS p_hat,
           ROUND(CAST(n1 AS DOUBLE) * n2 * (r1 - r2) / (n1 + n2)
                 / SQRT(n1 * s1 + n2 * s2_), 6) AS bm_w
    FROM flat
"""


@register("brunner_munzel_events", _BM_SQL)
def brunner_munzel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "view")
    )
    samp = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(2).alias("g"),
        F.col("value").alias("v"),
        "event_id",
    )
    # midranks computed RELATIONALLY (round-4 window audit): the
    # original global rank()/count() windows ran over every sampled
    # event; the midrank of value v is fully determined by the
    # value-level counts — rank(v) = cum(v) - c_eq(v) + 1, midrank =
    # (2*rank + c_eq - 1)/2 — so aggregate per value, distributed
    # prefix-sum over the (distinct-value-sized) tables, and equi-join
    # back.  The 2-group within-rank offset comes from a 2-row table.
    from lnex_spark.operators.scalable_windows import attach_running_sum

    vc = attach_running_sum(
        samp.groupBy("v").agg(F.count("*").alias("ceq")),
        [F.col("v").asc()],
        "ceq",
        out_col="cumv",
    )
    rcomb_tab = vc.select(
        "v",
        ((2.0 * (F.col("cumv") - F.col("ceq") + 1) + F.col("ceq") - 1) / 2).alias(
            "rcomb"
        ),
    )
    gvc = attach_running_sum(
        samp.groupBy("g", "v").agg(F.count("*").alias("ceq")),
        [F.col("g").asc(), F.col("v").asc()],
        "ceq",
        out_col="cumgv",
    )
    goff = (
        gvc.groupBy("g")
        .agg(F.sum("ceq").alias("gtot"))
        .withColumn(
            "goffset",
            F.coalesce(
                F.sum("gtot").over(
                    Window.orderBy("g").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("g", "goffset")  # one row per group (2) — bounded
    )
    rwith_tab = gvc.join(F.broadcast(goff), "g").select(
        "g",
        "v",
        (
            (
                2.0
                * (F.col("cumgv") - F.col("goffset") - F.col("ceq") + 1)
                + F.col("ceq")
                - 1
            )
            / 2
        ).alias("rwith"),
    )
    rc = (
        samp.join(rcomb_tab, "v")
        .join(rwith_tab, ["g", "v"])
        .select("g", "rcomb", "rwith")
    )
    gr = rc.groupBy("g").agg(
        F.count("*").alias("n"), F.avg("rcomb").alias("rbar")
    )
    gstat = (
        rc.join(F.broadcast(gr), "g")
        .groupBy("g")
        .agg(
            F.max("n").alias("n"),
            F.max("rbar").alias("rbar"),
            (
                F.sum(
                    F.pow(
                        F.col("rcomb")
                        - F.col("rwith")
                        - F.col("rbar")
                        + (F.col("n") + 1) / 2.0,
                        2,
                    )
                )
                / (F.max("n") - 1)
            ).alias("s2"),
        )
    )
    m = lambda g, c: F.max(F.when(F.col("g") == g, F.col(c)))
    flat = gstat.agg(
        m(1, "n").alias("n1"),
        m(2, "n").alias("n2"),
        m(1, "rbar").alias("r1"),
        m(2, "rbar").alias("r2"),
        m(1, "s2").alias("s1"),
        m(2, "s2").alias("s2_"),
    )
    return flat.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round((F.col("r2") - (F.col("n2") + 1) / 2.0) / F.col("n1"), 6).alias(
            "p_hat"
        ),
        F.round(
            F.col("n1").cast("double")
            * F.col("n2")
            * (F.col("r1") - F.col("r2"))
            / (F.col("n1") + F.col("n2"))
            / F.sqrt(F.col("n1") * F.col("s1") + F.col("n2") * F.col("s2_")),
            6,
        ).alias("bm_w"),
    )
