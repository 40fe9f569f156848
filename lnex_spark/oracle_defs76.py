"""Seventy-sixth oracle-registry module: top-k mergeability and the
dedup operational report.

  * topk_merge_orders — the distributed-top-k contract proved on
    data: top-10 orders by (totalprice, orderkey) computed directly
    vs re-selected from the UNION of each md5-partition's local
    top-10 — identical row sets (TakeOrderedAndProject relies on
    exactly this: local top-k per partition, merge at the driver).
    Emitted as the direct top-10 plus a match flag per rank against
    the merged form.

  * dedup_cluster_sizes_docs — the operational readout of a dedup
    run over the clone-injected corpus: cluster-size histogram,
    singleton rate, duplicate-row share, and the corpus reduction
    if each cluster kept one survivor.  The one-table summary a
    dedup deployment reports after clustering; two hash aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_TOPK_SQL = """
    WITH direct AS (
      SELECT o_orderkey, o_totalprice,
             row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders
    ),
    direct10 AS (SELECT * FROM direct WHERE rk <= 10),
    parts AS (
      SELECT o_orderkey, o_totalprice,
             CAST(('0x' || substr(md5('tk#' || CAST(o_orderkey AS VARCHAR)), 1, 4))
                  AS INTEGER) % 4 AS part
      FROM orders
    ),
    local_topk AS (
      SELECT o_orderkey, o_totalprice FROM (
        SELECT o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY part
                 ORDER BY o_totalprice DESC, o_orderkey) AS lrk
        FROM parts) WHERE lrk <= 10
    ),
    merged10 AS (
      SELECT o_orderkey FROM (
        SELECT o_orderkey,
               row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM local_topk) WHERE rk <= 10
    )
    SELECT d.rk, d.o_orderkey, ROUND(d.o_totalprice, 6) AS totalprice,
           CAST(m.o_orderkey IS NOT NULL AS INTEGER) AS in_merged
    FROM direct10 d LEFT JOIN merged10 m ON d.o_orderkey = m.o_orderkey
"""


@register("topk_merge_orders", _TOPK_SQL)
def topk_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    wd = Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    direct10 = (
        o.select("o_orderkey", "o_totalprice", F.row_number().over(wd).alias("rk"))
        .filter(F.col("rk") <= 10)
    )
    parts = o.select(
        "o_orderkey",
        "o_totalprice",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("tk#"), F.col("o_orderkey").cast("string"))), 1, 4
                ),
                16,
                10,
            ).cast("long")
            % 4
        ).alias("part"),
    )
    wl = Window.partitionBy("part").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    local_topk = parts.select(
        "o_orderkey", "o_totalprice", F.row_number().over(wl).alias("lrk")
    ).filter(F.col("lrk") <= 10)
    merged10 = (
        local_topk.select("o_orderkey", "o_totalprice")
        .select("o_orderkey", F.row_number().over(wd).alias("rk"))
        .filter(F.col("rk") <= 10)
        .select(F.col("o_orderkey").alias("mkey"))
    )
    return direct10.join(
        merged10, direct10["o_orderkey"] == merged10["mkey"], "left"
    ).select(
        "rk",
        "o_orderkey",
        F.round("o_totalprice", 6).alias("totalprice"),
        F.col("mkey").isNotNull().cast("int").alias("in_merged"),
    )


_CLUSTER_SQL = """
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 400
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 400 AND doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 400 AND doc_id % 10 = 0
    ),
    keyed AS (
      SELECT doc_id, md5(lower(trim(text))) AS fp FROM corpus
    ),
    clusters AS (
      SELECT fp, COUNT(*) AS sz FROM keyed GROUP BY fp
    ),
    hist AS (
      SELECT sz, COUNT(*) AS n_clusters, CAST(SUM(sz) AS BIGINT) AS n_rows
      FROM clusters GROUP BY sz
    ),
    tot AS (
      SELECT CAST(SUM(n_rows) AS BIGINT) AS total_rows,
             CAST(SUM(n_clusters) AS BIGINT) AS total_clusters,
             CAST(SUM(CASE WHEN sz = 1 THEN n_clusters ELSE 0 END) AS BIGINT) AS singletons
      FROM hist
    )
    SELECT h.sz AS cluster_size, h.n_clusters, h.n_rows,
           ROUND(t.singletons * 1.0 / t.total_clusters, 6) AS singleton_rate,
           ROUND(1.0 - t.total_clusters * 1.0 / t.total_rows, 6) AS reduction_if_deduped
    FROM hist h, tot t
"""


@register("dedup_cluster_sizes_docs", _CLUSTER_SQL)
def dedup_cluster_sizes_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    corpus = (
        d.select("doc_id", "text")
        .unionByName(
            d.filter(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            d.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id"), "text"
            )
        )
    )
    keyed = corpus.select(F.md5(F.lower(F.trim("text"))).alias("fp"))
    clusters = keyed.groupBy("fp").agg(F.count("*").alias("sz"))
    hist = clusters.groupBy("sz").agg(
        F.count("*").alias("n_clusters"), F.sum("sz").cast("long").alias("n_rows")
    )
    tot = hist.agg(
        F.sum("n_rows").cast("long").alias("total_rows"),
        F.sum("n_clusters").cast("long").alias("total_clusters"),
        F.sum(F.when(F.col("sz") == 1, F.col("n_clusters")).otherwise(0))
        .cast("long")
        .alias("singletons"),
    )
    return hist.crossJoin(tot).select(
        F.col("sz").alias("cluster_size"),
        "n_clusters",
        "n_rows",
        F.round(F.col("singletons") * 1.0 / F.col("total_clusters"), 6).alias("singleton_rate"),
        F.round(1.0 - F.col("total_clusters") * 1.0 / F.col("total_rows"), 6).alias(
            "reduction_if_deduped"
        ),
    )
