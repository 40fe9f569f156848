"""Oracle pairs that run ``operators.scalable_windows``.

  * xyz_analysis_parts — the ABC×XYZ segmentation of parts: ABC by
    cumulative revenue share (80/95 cuts over parts ordered by
    revenue desc, key-tiebroken), XYZ by the coefficient of
    variation of the part's monthly shipped quantity (X < 0.5 steady,
    Y < 1.0, Z volatile).  The 9-cell matrix with part counts and
    revenue share per cell is THE standard planning artifact: AX
    items get automated replenishment, CZ items get made-to-order —
    composes abc_analysis_orders with a second axis it lacked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_XYZ_SQL = """
    WITH rev AS (
      SELECT l_partkey,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS r
      FROM lineitem GROUP BY l_partkey
    ),
    abc AS (
      SELECT l_partkey, r,
             CAST(SUM(CAST(r AS DECIMAL(18,4))) OVER (ORDER BY r DESC, l_partkey) AS DOUBLE) / CAST(SUM(CAST(r AS DECIMAL(18,4))) OVER () AS DOUBLE)
               AS cumshare
      FROM rev
    ),
    abc_cls AS (
      SELECT l_partkey, r,
             CASE WHEN cumshare <= 0.8 THEN 'A'
                  WHEN cumshare <= 0.95 THEN 'B' ELSE 'C' END AS abc
      FROM abc
    ),
    monthly AS (
      SELECT l_partkey, date_trunc('month', l_shipdate) AS m,
             ROUND(SUM(l_quantity), 2) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    cv AS (
      SELECT l_partkey,
             CASE WHEN COUNT(*) > 1 AND AVG(q) > 0
                  THEN SQRT((SUM(q * q) - COUNT(*) * AVG(q) * AVG(q))
                            / (COUNT(*) - 1)) / AVG(q)
                  ELSE 0 END AS cv
      FROM monthly GROUP BY l_partkey
    ),
    xyz_cls AS (
      SELECT l_partkey,
             CASE WHEN cv < 0.5 THEN 'X'
                  WHEN cv < 1.0 THEN 'Y' ELSE 'Z' END AS xyz
      FROM cv
    ),
    tot AS (SELECT SUM(r) AS tr FROM rev)
    SELECT a.abc, x.xyz,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(SUM(a.r) / (SELECT tr FROM tot), 6) AS revenue_share
    FROM abc_cls a JOIN xyz_cls x ON x.l_partkey = a.l_partkey
    GROUP BY a.abc, x.xyz
    ORDER BY abc, xyz
"""


@register("xyz_analysis_parts", _XYZ_SQL)
def xyz_analysis_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("r")
    )
    # distributed prefix share over the per-PART table (r4 audit):
    # r sits on the cent grid, so a DECIMAL cumsum on both sides keeps
    # the A/B/C threshold comparison exact under any partial-sum order
    from lnex_spark.operators.scalable_windows import attach_rank

    tot = rev.agg(F.sum(F.col("r").cast("decimal(18,4)")).alias("_tot"))
    abc = (
        attach_rank(
            rev,
            [F.desc("r"), F.asc("l_partkey")],
            rank_col="_rn",
            cumsum_of=F.col("r").cast("decimal(18,4)"),
            cumsum_col="_cum",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "l_partkey",
            "r",
            (F.col("_cum").cast("double") / F.col("_tot").cast("double")).alias(
                "cumshare"
            ),
        )
    ).select(
        "l_partkey",
        "r",
        F.when(F.col("cumshare") <= 0.8, "A")
        .when(F.col("cumshare") <= 0.95, "B")
        .otherwise("C")
        .alias("abc"),
    )
    monthly = li.groupBy(
        "l_partkey", F.date_trunc("month", "l_shipdate").alias("m")
    ).agg(F.round(F.sum("l_quantity"), 2).alias("q"))
    cv = monthly.groupBy("l_partkey").agg(
        F.when(
            (F.count("*") > 1) & (F.avg("q") > 0),
            F.sqrt(
                (
                    F.sum(F.col("q") * F.col("q"))
                    - F.count("*") * F.avg("q") * F.avg("q")
                )
                / (F.count("*") - 1)
            )
            / F.avg("q"),
        )
        .otherwise(0.0)
        .alias("cv")
    )
    xyz = cv.select(
        "l_partkey",
        F.when(F.col("cv") < 0.5, "X")
        .when(F.col("cv") < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz"),
    )
    tr = rev.agg(F.sum("r").alias("tr"))
    return (
        abc.join(xyz, "l_partkey")
        .crossJoin(F.broadcast(tr))
        .groupBy("abc", "xyz")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.round(F.sum("r") / F.max("tr"), 6).alias("revenue_share"),
        )
        .orderBy("abc", "xyz")
    )
