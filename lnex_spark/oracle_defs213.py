"""Two-hundred-thirteenth oracle-registry module: data-layout
physics — how sort order turns into I/O, measured on the orders
table with 1000-row "pages" (parquet row-group stand-ins).

  * clustering_factor_orders — index clustering factor of the
    customer key under three physical layouts (sorted by orderkey,
    by custkey, by orderdate): pages touched by an average
    single-customer lookup = avg over customers of distinct pages
    holding their rows.  custkey order → ~1 page per lookup;
    the other layouts → one page per ORDER — the 10-100x read
    amplification that justifies bucketing/Z-ordering the
    conversation table by conv_id at 10^12 turns.

  * zone_map_pruning_orders — min/max zone-map effectiveness for a
    totalprice band predicate (the 80th-90th percentile band by
    explicit rank picks) under the same three layouts: a page can
    be SKIPPED iff its [min, max] misses the band; emits per layout
    the page count and skip fraction.  Sorting by the predicate
    column makes pruning near-perfect; unrelated orders make zone
    maps useless — the quantified case for sort-order-by-filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


_PAGE = 1000


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_LAYOUTS = (
    ("by_orderkey", "o_orderkey"),
    ("by_custkey", "o_custkey"),
    ("by_orderdate", "o_orderdate"),
)


def _cf_sql() -> str:
    parts = []
    for name, col in _LAYOUTS:
        parts.append(
            f"""
      SELECT '{name}' AS layout, o_custkey,
             CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY {col}, o_orderkey) - 1)
                        / {_PAGE}) AS BIGINT) AS page
      FROM orders"""
        )
    union = "\n      UNION ALL".join(parts)
    return f"""
    WITH placed AS ({union}
    ),
    per_cust AS (
      SELECT layout, o_custkey, COUNT(DISTINCT page) AS pages
      FROM placed GROUP BY layout, o_custkey
    ),
    npages AS (
      SELECT layout, COUNT(DISTINCT page) AS total_pages
      FROM placed GROUP BY layout
    )
    SELECT p.layout AS layout,
           ROUND(AVG(CAST(p.pages AS DOUBLE)), 6) AS avg_pages_per_lookup,
           CAST(MAX(n.total_pages) AS BIGINT) AS total_pages,
           ROUND(AVG(CAST(p.pages AS DOUBLE)) / MAX(n.total_pages), 6)
             AS touch_fraction
    FROM per_cust p JOIN npages n ON n.layout = p.layout
    GROUP BY p.layout
    ORDER BY p.layout"""


@register("clustering_factor_orders", _cf_sql())
def clustering_factor_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    # distributed rank per layout over ALL orders (r4 window audit)
    from lnex_spark.operators.scalable_windows import attach_rank

    placed = None
    for name, col in _LAYOUTS:
        p = attach_rank(
            o, [F.col(col).asc(), F.col("o_orderkey").asc()], rank_col="_rn"
        ).select(
            F.lit(name).alias("layout"),
            "o_custkey",
            F.floor((F.col("_rn") - 1) / _PAGE).cast("long").alias("page"),
        )
        placed = p if placed is None else placed.unionByName(p)
    per_cust = placed.groupBy("layout", "o_custkey").agg(
        F.countDistinct("page").alias("pages")
    )
    npages = placed.groupBy("layout").agg(
        F.countDistinct("page").alias("total_pages")
    )
    return (
        per_cust.join(npages, "layout")
        .groupBy("layout")
        .agg(
            F.round(F.avg(F.col("pages").cast("double")), 6).alias(
                "avg_pages_per_lookup"
            ),
            F.max("total_pages").cast("long").alias("total_pages"),
            F.round(
                F.avg(F.col("pages").cast("double")) / F.max("total_pages"), 6
            ).alias("touch_fraction"),
        )
        .orderBy("layout")
    )


def _zm_sql() -> str:
    parts = []
    for name, col in _LAYOUTS:
        parts.append(
            f"""
      SELECT '{name}' AS layout, o_totalprice,
             CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY {col}, o_orderkey) - 1)
                        / {_PAGE}) AS BIGINT) AS page
      FROM orders"""
        )
    union = "\n      UNION ALL".join(parts)
    return f"""
    WITH band AS (
      SELECT MAX(CASE WHEN rn = CAST(CEIL(0.8 * nn) AS BIGINT)
                      THEN o_totalprice END) AS lo,
             MAX(CASE WHEN rn = CAST(CEIL(0.9 * nn) AS BIGINT)
                      THEN o_totalprice END) AS hi
      FROM (SELECT o_totalprice,
                   ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey)
                     AS rn,
                   COUNT(*) OVER () AS nn
            FROM orders)
    ),
    placed AS ({union}
    ),
    zones AS (
      SELECT layout, page, MIN(o_totalprice) AS zmin,
             MAX(o_totalprice) AS zmax
      FROM placed GROUP BY layout, page
    ),
    pruned AS (
      SELECT z.layout,
             COUNT(*) AS total_pages,
             SUM(CASE WHEN z.zmax < (SELECT lo FROM band)
                       OR z.zmin > (SELECT hi FROM band)
                      THEN 1 ELSE 0 END) AS skipped
      FROM zones z GROUP BY z.layout
    )
    SELECT layout,
           CAST(total_pages AS BIGINT) AS total_pages,
           CAST(skipped AS BIGINT) AS pages_skipped,
           ROUND(CAST(skipped AS DOUBLE) / total_pages, 6) AS skip_fraction
    FROM pruned
    ORDER BY layout"""


@register("zone_map_pruning_orders", _zm_sql())
def zone_map_pruning_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    # distributed rank over ALL orders + broadcast total (r4 audit)
    from lnex_spark.operators.scalable_windows import attach_rank

    ranked = attach_rank(
        o.select("o_totalprice", "o_orderkey"),
        [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
        rank_col="rn",
    ).crossJoin(F.broadcast(o.agg(F.count("*").alias("nn"))))
    band = ranked.agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.8 * F.col("nn")).cast("long"),
                F.col("o_totalprice"),
            )
        ).alias("lo"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.9 * F.col("nn")).cast("long"),
                F.col("o_totalprice"),
            )
        ).alias("hi"),
    )
    placed = None
    for name, col in _LAYOUTS:
        p = attach_rank(
            o, [F.col(col).asc(), F.col("o_orderkey").asc()], rank_col="_rn"
        ).select(
            F.lit(name).alias("layout"),
            "o_totalprice",
            F.floor((F.col("_rn") - 1) / _PAGE).cast("long").alias("page"),
        )
        placed = p if placed is None else placed.unionByName(p)
    zones = placed.groupBy("layout", "page").agg(
        F.min("o_totalprice").alias("zmin"),
        F.max("o_totalprice").alias("zmax"),
    )
    pruned = (
        zones.crossJoin(F.broadcast(band))
        .groupBy("layout")
        .agg(
            F.count("*").alias("total_pages"),
            F.sum(
                F.when(
                    (F.col("zmax") < F.col("lo"))
                    | (F.col("zmin") > F.col("hi")),
                    1,
                ).otherwise(0)
            ).alias("skipped"),
        )
    )
    return pruned.select(
        "layout",
        F.col("total_pages").cast("long").alias("total_pages"),
        F.col("skipped").cast("long").alias("pages_skipped"),
        F.round(
            F.col("skipped").cast("double") / F.col("total_pages"), 6
        ).alias("skip_fraction"),
    ).orderBy("layout")
