"""Oracle pairs that run ``operators.dedup``.

  * minhash_calibration_docs — MinHash estimate vs true shingle
    Jaccard on adjacent-doc pairs: how well does the k=8 signature
    agreement track the exact overlap it approximates?  The
    measurement loop run before trusting MinHash-LSH dedup at corpus
    scale — composes the md5-deterministic signature derivation
    (verified as dedup_minhash_sig) with the exact Jaccard
    (dedup_ngram_jaccard's construction) in one value-checked report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- MinHash estimate vs exact Jaccard calibration -------------------------
_CALIB_SQL = r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents
    ),
    pos AS (
      SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
      FROM toks WHERE len(t) >= 3
    ),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM pos
    ),
    sig AS (
      SELECT doc_id, h, min(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS minhash
      FROM sh, (SELECT unnest(range(0, 8)) AS h)
      GROUP BY doc_id, h
    ),
    agree AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             sum(CASE WHEN a.minhash = b.minhash THEN 1 ELSE 0 END) AS n_agree
      FROM sig a JOIN sig b ON b.doc_id = a.doc_id + 1 AND a.h = b.h
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, count(*) AS n_common
      FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1 AND a.shingle = b.shingle
      GROUP BY 1
    )
    SELECT g.doc_a, g.doc_b, CAST(g.n_agree AS BIGINT) AS n_agree,
           round(g.n_agree / 8.0, 6) AS est_jaccard,
           round(coalesce(i.n_common, 0) * 1.0
                 / (sa.n_sh + sb.n_sh - coalesce(i.n_common, 0)), 6)
             AS true_jaccard,
           round(abs(g.n_agree / 8.0
                 - coalesce(i.n_common, 0) * 1.0
                   / (sa.n_sh + sb.n_sh - coalesce(i.n_common, 0))), 6) AS abs_err
    FROM agree g
    LEFT JOIN inter i ON i.doc_a = g.doc_a
    JOIN sizes sa ON sa.doc_id = g.doc_a
    JOIN sizes sb ON sb.doc_id = g.doc_b
"""


@register("minhash_calibration_docs", _CALIB_SQL)
def minhash_calibration_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-agreement estimate (k=8 md5 minhashes) vs exact
    shingle Jaccard on adjacent-doc pairs — the error report an
    MinHash-LSH deployment checks before trusting its thresholds.
    Both derivations (signatures and exact overlap) are independently
    verified elsewhere (dedup_minhash_sig / dedup_ngram_jaccard);
    this op composes them per pair."""
    from lnex_spark.operators.dedup import minhash_signatures, shingles

    d = _t(spark, sf_dir, "documents")
    sig = minhash_signatures(d, k=8, n=3).withColumn("h", F.col("h").cast("long"))
    a, b = sig.alias("a"), sig.alias("b")
    agree = (
        a.join(
            b,
            (F.col("b.doc_id") == F.col("a.doc_id") + 1)
            & (F.col("a.h") == F.col("b.h")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.sum(
                F.when(F.col("a.minhash") == F.col("b.minhash"), 1).otherwise(0)
            ).alias("n_agree")
        )
    )
    sh = shingles(d, n=3)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sa, sb = sh.alias("sa"), sh.alias("sb")
    inter = (
        sa.join(
            sb,
            (F.col("sb.doc_id") == F.col("sa.doc_id") + 1)
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy(F.col("sa.doc_id").alias("doc_a"))
        .agg(F.count("*").alias("n_common"))
    )
    j = (
        agree.join(inter, "doc_a", "left")
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b")
    )
    nc = F.coalesce(F.col("n_common"), F.lit(0))
    true_j = nc * 1.0 / (F.col("na") + F.col("nb") - nc)
    est = F.col("n_agree") / 8.0
    return j.select(
        "doc_a",
        "doc_b",
        "n_agree",
        F.round(est, 6).alias("est_jaccard"),
        F.round(true_j, 6).alias("true_jaccard"),
        F.round(F.abs(est - true_j), 6).alias("abs_err"),
    )
