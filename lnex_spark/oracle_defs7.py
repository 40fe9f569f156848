"""Oracle pair that runs ``operators.curation``.

  * label_balance_by_split — class composition per train/val/test
    split (a skewed val split invalidates eval) — composes the
    md5-gated split (curation.split_assign) with a two-key aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- class composition per split ----------------------------------------
@register(
    "label_balance_by_split",
    """
    WITH b AS (
      SELECT label,
             CAST(('0x' || substr(md5('split-v1#' || CAST(vec_id AS VARCHAR)), 1, 4)) AS INTEGER) AS bucket
      FROM embeddings
    ),
    s AS (
      SELECT label,
             CASE WHEN bucket < 52428 THEN 'train'
                  WHEN bucket < 58982 THEN 'val'
                  ELSE 'test' END AS split
      FROM b
    ),
    c AS (SELECT split, label, count(*) AS n FROM s GROUP BY 1, 2),
    t AS (SELECT split, sum(n) AS tot FROM c GROUP BY 1)
    SELECT c.split, c.label, c.n, round(c.n * 1.0 / t.tot, 6) AS frac
    FROM c JOIN t ON c.split = t.split
    """,
)
def label_balance_by_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.curation import split_assign

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    s = split_assign(emb, id_col="vec_id")
    c = s.groupBy("split", "label").agg(F.count("*").alias("n"))
    t = c.groupBy("split").agg(F.sum("n").alias("tot"))
    return c.join(F.broadcast(t), "split").select(
        "split", "label", "n", F.round(F.col("n") / F.col("tot"), 6).alias("frac")
    )
