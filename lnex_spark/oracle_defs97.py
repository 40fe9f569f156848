"""Oracle pairs that run ``operators.scalable_windows``.

  * energy_distance_docs — the exact two-sample energy distance
    D² = 2·E|X−Y| − E|X−X'| − E|Y−Y'| between the en and de n_chars
    distributions, computed in O(n log n) instead of O(n²): union
    both samples, one fully-specified sort, and running
    (count, sum) prefix windows give every Σ|a−b| term from integer
    arithmetic — ties contribute zero so side-ordering at equal
    values cannot change the result.  The metric that upgrades
    KS/Wasserstein to a proper two-sample TEST statistic usable in
    multivariate settings; here pinned exactly from integer sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_ENERGY_SQL = """
    WITH u AS (
      SELECT n_chars AS v, CASE WHEN lang = 'en' THEN 0 ELSE 1 END AS side, doc_id
      FROM documents WHERE lang IN ('en', 'de')
    ),
    runs AS (
      SELECT v, side, doc_id,
             COALESCE(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) OVER w, 0) AS cx,
             COALESCE(SUM(CASE WHEN side = 0 THEN v ELSE 0 END) OVER w, 0) AS sx,
             COALESCE(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) OVER w, 0) AS cy,
             COALESCE(SUM(CASE WHEN side = 1 THEN v ELSE 0 END) OVER w, 0) AS sy,
             row_number() OVER (PARTITION BY side ORDER BY v, doc_id) AS rk_side,
             COALESCE(SUM(v) OVER ws, 0) AS s_side
      FROM u
      WINDOW w AS (ORDER BY v, side, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             ws AS (PARTITION BY side ORDER BY v, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    sums AS (
      SELECT
        SUM(CASE WHEN side = 1 THEN cx * v - sx ELSE 0 END)
          + SUM(CASE WHEN side = 0 THEN cy * v - sy ELSE 0 END) AS sxy_abs,
        SUM(CASE WHEN side = 0 THEN (rk_side - 1) * v - s_side ELSE 0 END) AS sxx_half,
        SUM(CASE WHEN side = 1 THEN (rk_side - 1) * v - s_side ELSE 0 END) AS syy_half,
        SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS n,
        SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS m
      FROM runs
    )
    SELECT CAST(n AS BIGINT) AS n_en, CAST(m AS BIGINT) AS n_de,
           ROUND(2.0 * sxy_abs / (n * m)
                 - 2.0 * sxx_half / (n * n)
                 - 2.0 * syy_half / (m * m), 6) AS energy_dist_sq
    FROM sums
"""


@register("energy_distance_docs", _ENERGY_SQL)
def energy_distance_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("lang").isin("en", "de"))
    u = d.select(
        F.col("n_chars").alias("v"),
        F.when(F.col("lang") == "en", 0).otherwise(1).alias("side"),
        "doc_id",
    )
    # Distributed form (round-4 window audit — the original global
    # sort windows ran over every en/de document).  Two attach passes:
    #   pass 1, ORDER BY (v, side, doc_id): the four cross-side
    #     EXCLUSIVE running sums, derived from inclusive prefix sums
    #     minus the current row's own contribution;
    #   pass 2, ORDER BY (side, v, doc_id): per-side rank and
    #     exclusive running value sum, via global rank/cumsum minus
    #     per-side offsets from a 2-row totals table (the per-side
    #     window would otherwise be two corpus-half partitions).
    # Joined back on the unique doc_id.
    from lnex_spark.operators.scalable_windows import attach_rank

    is0 = F.when(F.col("side") == 0, 1).otherwise(0)
    v0 = F.when(F.col("side") == 0, F.col("v")).otherwise(0)
    is1 = F.when(F.col("side") == 1, 1).otherwise(0)
    v1 = F.when(F.col("side") == 1, F.col("v")).otherwise(0)
    p1 = attach_rank(
        u,
        [F.col("v").asc(), F.col("side").asc(), F.col("doc_id").asc()],
        rank_col="_rn1",
        cumsums=[(is0, "c0i"), (v0, "s0i"), (is1, "c1i"), (v1, "s1i")],
    ).select(
        "doc_id",
        "v",
        "side",
        (F.col("c0i") - is0).alias("cx"),
        (F.col("s0i") - v0).alias("sx"),
        (F.col("c1i") - is1).alias("cy"),
        (F.col("s1i") - v1).alias("sy"),
    )
    p2 = attach_rank(
        u,
        [F.col("side").asc(), F.col("v").asc(), F.col("doc_id").asc()],
        rank_col="grn",
        cumsum_of="v",
        cumsum_col="vcum",
    )
    side_off = (
        p2.groupBy("side")
        .agg(F.count("*").alias("_n"), F.sum("v").alias("_s"))
        .select(
            "side",
            F.coalesce(
                F.sum("_n").over(
                    Window.orderBy("side").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("rows_before"),
            F.coalesce(
                F.sum("_s").over(
                    Window.orderBy("side").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("v_before"),
        )  # one row per side (2) — bounded
    )
    p2 = p2.join(F.broadcast(side_off), "side").select(
        "doc_id",
        (F.col("grn") - F.col("rows_before")).cast("int").alias("rk_side"),
        (F.col("vcum") - F.col("v") - F.col("v_before")).alias("s_side"),
    )
    runs = p1.join(p2, "doc_id").select(
        "v", "side", "cx", "sx", "cy", "sy", "rk_side", "s_side"
    )
    sums = runs.agg(
        (
            F.sum(
                F.when(F.col("side") == 1, F.col("cx") * F.col("v") - F.col("sx")).otherwise(0)
            )
            + F.sum(
                F.when(F.col("side") == 0, F.col("cy") * F.col("v") - F.col("sy")).otherwise(0)
            )
        ).alias("sxy_abs"),
        F.sum(
            F.when(
                F.col("side") == 0,
                (F.col("rk_side") - 1) * F.col("v") - F.col("s_side"),
            ).otherwise(0)
        ).alias("sxx_half"),
        F.sum(
            F.when(
                F.col("side") == 1,
                (F.col("rk_side") - 1) * F.col("v") - F.col("s_side"),
            ).otherwise(0)
        ).alias("syy_half"),
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("n"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("m"),
    )
    return sums.select(
        F.col("n").cast("long").alias("n_en"),
        F.col("m").cast("long").alias("n_de"),
        F.round(
            2.0 * F.col("sxy_abs") / (F.col("n") * F.col("m"))
            - 2.0 * F.col("sxx_half") / (F.col("n") * F.col("n"))
            - 2.0 * F.col("syy_half") / (F.col("m") * F.col("m")),
            6,
        ).alias("energy_dist_sq"),
    )
