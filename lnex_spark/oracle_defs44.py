"""Oracle pairs that run ``operators.dedup``.

  * intradoc_repeats — the most-repeated 3-gram WITHIN each document
    (docs whose top shingle occurs more than once): the repetition-
    loop detector for model-generated text — it localizes WHICH
    n-gram loops
    per doc.  Non-distinct shingle counts per doc + a deterministic
    top-1 pick.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- most-repeated 3-gram per document -------------------------------------
_REPEATS_SQL = r"""
    WITH d AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents WHERE len(trim(text)) > 0
    ),
    sh AS (
      SELECT doc_id,
             t[CAST(i AS INT)] || ' ' || t[CAST(i+1 AS INT)] || ' '
               || t[CAST(i+2 AS INT)] AS shingle
      FROM d, unnest(range(1, len(t) - 1)) AS r(i)
      WHERE len(t) >= 3
    ),
    cnt AS (SELECT doc_id, shingle, count(*) AS c FROM sh GROUP BY 1, 2)
    SELECT doc_id, shingle, c AS n_repeats FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY c DESC, shingle ASC) AS rk
      FROM cnt) WHERE rk = 1 AND c > 1
"""


@register("intradoc_repeats", _REPEATS_SQL)
def intradoc_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.dedup import _grams

    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("t")
        )
        .where(F.size("t") >= 3)
    )
    sh = d.select("doc_id", F.explode(_grams(F.col("t"), 3)).alias("shingle"))
    cnt = sh.groupBy("doc_id", "shingle").agg(F.count("*").alias("c"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("c").desc(), F.col("shingle").asc()
    )
    return (
        cnt.select("doc_id", "shingle", "c", F.row_number().over(w).alias("rk"))
        .filter((F.col("rk") == 1) & (F.col("c") > 1))
        .select("doc_id", "shingle", F.col("c").alias("n_repeats"))
    )
