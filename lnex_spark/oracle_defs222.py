"""Oracle pairs that run ``operators.scalable_windows``.

  * price_dispersion_parts — law-of-one-price audit: unit price =
    l_extendedprice / l_quantity per line, per-part coefficient of
    variation across its lines (parts with >= 5 lines), then the
    distribution of CVs: mean, the explicit-rank median, the p90,
    and the share of parts with CV > 0.1.  Persistent dispersion in
    identical goods measures search/menu frictions — or, in a data
    pipeline, inconsistent upstream pricing joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_PD_SQL = """
    WITH unit AS (
      SELECT l_partkey, l_extendedprice / l_quantity AS up
      FROM lineitem WHERE l_quantity > 0
    ),
    per_part AS (
      SELECT l_partkey, COUNT(*) AS n,
             SQRT((SUM(up * up) - COUNT(*) * AVG(up) * AVG(up))
                  / (COUNT(*) - 1)) / AVG(up) AS cv
      FROM unit GROUP BY l_partkey
      HAVING COUNT(*) >= 5
    ),
    ranked AS (
      SELECT cv, ROW_NUMBER() OVER (ORDER BY cv, l_partkey) AS rn,
             COUNT(*) OVER () AS nn
      FROM per_part
    )
    SELECT CAST(MAX(nn) AS BIGINT) AS n_parts,
           ROUND(AVG(cv), 6) AS mean_cv,
           ROUND(MAX(CASE WHEN rn = CAST(CEIL(0.5 * nn) AS BIGINT)
                          THEN cv END), 6) AS median_cv,
           ROUND(MAX(CASE WHEN rn = CAST(CEIL(0.9 * nn) AS BIGINT)
                          THEN cv END), 6) AS p90_cv,
           ROUND(AVG(CASE WHEN cv > 0.1 THEN 1.0 ELSE 0.0 END), 6)
             AS share_dispersed
    FROM ranked
"""


@register("price_dispersion_parts", _PD_SQL)
def price_dispersion_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 0)
    unit = li.select(
        "l_partkey", (F.col("l_extendedprice") / F.col("l_quantity")).alias("up")
    )
    per_part = (
        unit.groupBy("l_partkey")
        .agg(
            F.count("*").alias("n"),
            (
                F.sqrt(
                    (
                        F.sum(F.col("up") * F.col("up"))
                        - F.count("*") * F.avg("up") * F.avg("up")
                    )
                    / (F.count("*") - 1)
                )
                / F.avg("up")
            ).alias("cv"),
        )
        .where(F.col("n") >= 5)
    )
    # per-PART table is raw-scale: distributed rank + broadcast total
    # (round-4 window audit)
    from lnex_spark.operators.scalable_windows import attach_rank

    ranked = attach_rank(
        per_part,
        [F.col("cv").asc(), F.col("l_partkey").asc()],
        rank_col="rn",
    ).crossJoin(F.broadcast(per_part.agg(F.count("*").alias("nn"))))
    return ranked.agg(
        F.max("nn").cast("long").alias("n_parts"),
        F.round(F.avg("cv"), 6).alias("mean_cv"),
        F.round(
            F.max(
                F.when(
                    F.col("rn") == F.ceil(0.5 * F.col("nn")).cast("long"),
                    F.col("cv"),
                )
            ),
            6,
        ).alias("median_cv"),
        F.round(
            F.max(
                F.when(
                    F.col("rn") == F.ceil(0.9 * F.col("nn")).cast("long"),
                    F.col("cv"),
                )
            ),
            6,
        ).alias("p90_cv"),
        F.round(
            F.avg(F.when(F.col("cv") > 0.1, 1.0).otherwise(0.0)), 6
        ).alias("share_dispersed"),
    )
