"""Oracle pairs that run ``operators.dedup``.

  * containment_pairs_docs — shingle CONTAINMENT |A∩B|/|A| between
    injected half-length fragments and the corpus: the asymmetric
    dedup metric that catches quote/excerpt inclusion where Jaccard
    stays low (a half-doc excerpt has containment 1.0 in its source
    but Jaccard ≈ 0.5 — below every Jaccard dedup threshold).
    Fragments are deterministic prefixes (substring to half length),
    so every fragment's shingles are a contiguous subset of its
    source's and the 1.0 containments are provable by construction;
    the candidate join keys on shared shingles with the fragment set
    as the bounded probe side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- shingle containment of fragments in the corpus ------------------------
_CONTAIN_SQL = r"""
    WITH uni AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             substr(text, 1, CAST(len(text) // 2 AS INT))
      FROM documents WHERE doc_id < 50
    ),
    toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM uni
    ),
    pos AS (
      SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
      FROM toks WHERE len(t) >= 3
    ),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM pos
    ),
    frag AS (SELECT * FROM sh WHERE doc_id >= 1000000),
    base AS (SELECT * FROM sh WHERE doc_id < 1000000),
    sz AS (SELECT doc_id, count(*) AS n FROM frag GROUP BY doc_id),
    common AS (
      SELECT f.doc_id AS frag_id, b.doc_id AS base_id, count(*) AS inter
      FROM frag f JOIN base b ON f.shingle = b.shingle
      GROUP BY 1, 2
    )
    SELECT frag_id, base_id,
           round(inter * 1.0 / sz.n, 6) AS containment
    FROM common JOIN sz ON sz.doc_id = frag_id
    WHERE inter * 1.0 / sz.n >= 0.9
"""


@register("containment_pairs_docs", _CONTAIN_SQL)
def containment_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    frag_src = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr("substring(text, 1, CAST(length(text) DIV 2 AS INT))").alias("text"),
    )
    uni = d.unionByName(frag_src)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    base_arr = uni.select("doc_id", toks.alias("_t")).where(F.size("_t") >= 3)
    from lnex_spark.operators.dedup import _grams

    sh = base_arr.select(
        "doc_id", F.explode(F.array_distinct(_grams(F.col("_t"), 3))).alias("shingle")
    )
    frag = sh.filter(F.col("doc_id") >= 1000000)
    base = sh.filter(F.col("doc_id") < 1000000)
    sz = frag.groupBy("doc_id").agg(F.count("*").alias("n"))
    common = (
        frag.select(F.col("doc_id").alias("frag_id"), "shingle")
        .join(base.select(F.col("doc_id").alias("base_id"), "shingle"), "shingle")
        .groupBy("frag_id", "base_id")
        .agg(F.count("*").alias("inter"))
    )
    j = common.join(
        F.broadcast(sz.select(F.col("doc_id").alias("frag_id"), "n")), "frag_id"
    )
    cont = F.col("inter") * 1.0 / F.col("n")
    return j.select(
        "frag_id", "base_id", F.round(cont, 6).alias("containment")
    ).filter(F.col("containment") >= 0.9)
