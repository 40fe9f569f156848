"""Oracle pairs that run ``operators.scalable_windows``.

  * gini_lorenz_customers — Lorenz curve at decile resolution plus
    the Gini coefficient over per-customer revenue, using the exact
    rank formula G = 2·Σ i·x_(i) / (n·Σx) − (n+1)/n on a total
    deterministic order (revenue, then custkey — ties broken
    identically in both engines).  The only global window ranks the
    *customer-level aggregate* (customer-sized, not lineitem-sized),
    the same bounded-window discipline as the KS / Mann-Whitney ops;
    at 10^12-turn scale the per-entity aggregate is the shuffle and
    the rank runs over entities, with the decile emission keeping
    the output constant-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_GINI_SQL = """
    WITH rev AS (
      SELECT o_custkey, SUM(o_totalprice) AS revenue
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT revenue,
             ROW_NUMBER() OVER (ORDER BY revenue, o_custkey) AS i,
             COUNT(*) OVER () AS n,
             SUM(revenue) OVER () AS total
      FROM rev
    ),
    gini AS (
      SELECT ROUND(2.0 * SUM(i * revenue) / (MAX(n) * MAX(total))
                   - (MAX(n) + 1.0) / MAX(n), 6) AS gini
      FROM ranked
    ),
    deciled AS (
      SELECT CAST(CEIL(10.0 * i / n) AS BIGINT) AS decile,
             revenue, n, total
      FROM ranked
    ),
    lorenz AS (
      SELECT decile,
             COUNT(*) AS n_customers,
             SUM(revenue) AS decile_revenue,
             MAX(n) AS n, MAX(total) AS total
      FROM deciled GROUP BY decile
    )
    SELECT l.decile,
           l.n_customers,
           ROUND(l.decile_revenue, 2) AS decile_revenue,
           ROUND(SUM(l.n_customers) OVER w * 1.0 / l.n, 6)
             AS cum_pop_share,
           ROUND(SUM(l.decile_revenue) OVER w / l.total, 6)
             AS cum_rev_share,
           g.gini
    FROM lorenz l CROSS JOIN gini g
    WINDOW w AS (ORDER BY l.decile)
"""


@register("gini_lorenz_customers", _GINI_SQL)
def gini_lorenz_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    # distributed rank over the per-CUSTOMER table (customer count is
    # raw-scale at 100 TB) + broadcast totals — round-4 window audit
    from lnex_spark.operators.scalable_windows import attach_rank

    ranked = attach_rank(
        rev, [F.col("revenue").asc(), F.col("o_custkey").asc()], rank_col="i"
    ).crossJoin(
        F.broadcast(
            rev.agg(F.count("*").alias("n"), F.sum("revenue").alias("total"))
        )
    )
    gini = ranked.agg(
        F.round(
            2.0 * F.sum(F.col("i") * F.col("revenue"))
            / (F.max("n") * F.max("total"))
            - (F.max("n") + 1.0) / F.max("n"),
            6,
        ).alias("gini")
    )
    deciled = ranked.select(
        F.ceil(10.0 * F.col("i") / F.col("n")).cast("long").alias("decile"),
        "revenue",
        "n",
        "total",
    )
    lorenz = deciled.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("revenue").alias("decile_revenue"),
        F.max("n").alias("n"),
        F.max("total").alias("total"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return lorenz.crossJoin(F.broadcast(gini)).select(
        "decile",
        "n_customers",
        F.round("decile_revenue", 2).alias("decile_revenue"),
        F.round(
            F.sum("n_customers").over(wc) * 1.0 / F.col("n"), 6
        ).alias("cum_pop_share"),
        F.round(
            F.sum("decile_revenue").over(wc) / F.col("total"), 6
        ).alias("cum_rev_share"),
        "gini",
    )
