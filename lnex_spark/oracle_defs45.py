"""Forty-fifth oracle-registry module: split leakage.

  * split_leakage_docs — train/val/test LEAKAGE report: exact-dup
    fingerprint groups whose members land in more than one md5-gated
    split (injected here by cloning the first 30 docs with shifted
    doc_ids so the content-hash split assigns some clones
    differently).  The audit that catches eval contamination from
    in-corpus duplication — the internal complement of the external
    benchmark-contamination op; composes two verified derivations
    (split_assign gates + dedup fingerprints).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- duplicate-content split leakage ---------------------------------------
_LEAK_SQL = """
    WITH uni AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 300
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 30
    ),
    assigned AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
             CASE WHEN CAST(('0x' || substr(md5('split-v1#' ||
                    CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) < 52428
                  THEN 'train'
                  WHEN CAST(('0x' || substr(md5('split-v1#' ||
                    CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) < 58982
                  THEN 'val'
                  ELSE 'test' END AS split
      FROM uni
    )
    SELECT fp, count(*) AS n_docs,
           count(DISTINCT split) AS n_splits,
           min(doc_id) AS example_doc
    FROM assigned
    GROUP BY fp
    HAVING count(DISTINCT split) > 1
"""


@register("split_leakage_docs", _LEAK_SQL)
def split_leakage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint groups spanning >1 split.  The md5 gate keys on
    doc_id — which is exactly how leakage happens in practice: split
    by row identity, duplicated CONTENT crosses the boundary.  (The
    fix, splitting on the content hash itself, is what
    split_assign's docstring prescribes; this op measures the cost
    of not doing that.)"""
    from lnex_spark.operators.curation import hash_bucket
    from lnex_spark.operators.textquality import fingerprint

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300).select(
        "doc_id", "text"
    )
    clones = d.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    uni = d.unionByName(clones)
    bucket = hash_bucket(F.col("doc_id"), "split-v1")
    split = (
        F.when(bucket < 52428, "train").when(bucket < 58982, "val").otherwise("test")
    )
    assigned = fingerprint(uni).select("doc_id", "fp", split.alias("split"))
    return (
        assigned.groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("split").alias("n_splits"),
            F.min("doc_id").alias("example_doc"),
        )
        .filter(F.col("n_splits") > 1)
    )
