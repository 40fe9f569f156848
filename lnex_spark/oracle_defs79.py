"""Oracle pairs that run ``operators.curation``.

  * horvitz_thompson_docs — the Horvitz-Thompson estimator over the
    already-verified deterministic stratified sample
    (stratified_sample_docs gates: md5 bucket < 32768/13107/6554 of
    65536 per language): per-language corpus totals (docs, chars)
    estimated from the sample alone by inverse-inclusion-probability
    weighting, reported against the true totals with relative
    errors.  The arithmetic is exact-deterministic by construction:
    integer sample sums divided ONCE by the rational pi, never
    per-row double accumulation — the estimate a sampling pipeline
    publishes when scanning the full corpus is too expensive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_HT_SQL = """
    WITH gated AS (
      SELECT doc_id, lang, n_chars,
             CAST(('0x' || substr(md5('strat-v1#' || CAST(doc_id AS VARCHAR)), 1, 4))
                  AS INTEGER) AS bucket,
             CASE lang WHEN 'en' THEN 32768 WHEN 'de' THEN 13107 ELSE 6554 END AS thr
      FROM documents
    ),
    sampled AS (
      SELECT lang, COUNT(*) AS s_docs, SUM(n_chars) AS s_chars,
             MIN(thr) AS thr
      FROM gated WHERE bucket < thr GROUP BY lang
    ),
    truth AS (
      SELECT lang, COUNT(*) AS true_docs, SUM(n_chars) AS true_chars
      FROM documents GROUP BY lang
    )
    SELECT t.lang, t.true_docs, CAST(t.true_chars AS BIGINT) AS true_chars,
           ROUND(s.s_docs * 65536.0 / s.thr, 6) AS est_docs,
           ROUND(s.s_chars * 65536.0 / s.thr, 6) AS est_chars,
           ROUND(s.s_docs * 65536.0 / s.thr / t.true_docs - 1.0, 6) AS docs_rel_err,
           ROUND(s.s_chars * 65536.0 / s.thr / t.true_chars - 1.0, 6) AS chars_rel_err
    FROM truth t JOIN sampled s ON t.lang = s.lang
"""


@register("horvitz_thompson_docs", _HT_SQL)
def horvitz_thompson_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    from lnex_spark.operators.curation import hash_bucket

    thr = (
        F.when(F.col("lang") == "en", 32768)
        .when(F.col("lang") == "de", 13107)
        .otherwise(6554)
    )
    gated = d.select(
        "lang", "n_chars", hash_bucket(F.col("doc_id"), "strat-v1").alias("bucket"), thr.alias("thr")
    )
    sampled = (
        gated.filter(F.col("bucket") < F.col("thr"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("s_docs"),
            F.sum("n_chars").alias("s_chars"),
            F.min("thr").alias("thr"),
        )
    )
    truth = d.groupBy("lang").agg(
        F.count("*").alias("true_docs"), F.sum("n_chars").alias("true_chars")
    )
    est_docs = F.col("s_docs") * 65536.0 / F.col("thr")
    est_chars = F.col("s_chars") * 65536.0 / F.col("thr")
    return truth.join(sampled, "lang").select(
        "lang",
        "true_docs",
        "true_chars",
        F.round(est_docs, 6).alias("est_docs"),
        F.round(est_chars, 6).alias("est_chars"),
        F.round(est_docs / F.col("true_docs") - 1.0, 6).alias("docs_rel_err"),
        F.round(est_chars / F.col("true_chars") - 1.0, 6).alias("chars_rel_err"),
    )
