"""Oracle pairs that run ``operators.similarity``.

  * ann_mrr — mean reciprocal rank of the IVF index against
    brute-force truth: where does each query's TRUE nearest
    neighbor land in the IVF ranking?  Composes the two
    already-value-checked ANN derivations (like ann_recall_at_k),
    so the metric itself is value-checked; emits per-query
    reciprocal ranks plus the corpus MRR.

  * ann_ndcg — nDCG@5 of the IVF ranking with GRADED relevance
    (the truth cosine, already rounded to 6 in both derivations —
    so the gain table is bit-identical across engines): DCG over
    the IVF list at its own ranks, ideal DCG from the truth order.
    Together with recall@k (set overlap), MRR (single-target rank)
    and RRF (fusion), the ANN suite now carries every standard
    retrieval metric family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracle_defs_library import _ANN_IVF_SQL, _ANN_TOPK_SQL
from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_MRR_SQL = f"""
    WITH truth AS ({_ANN_TOPK_SQL}),
    ivf AS ({_ANN_IVF_SQL}),
    top1 AS (SELECT query_id, vec_id AS true_top1 FROM truth WHERE rank = 1),
    hits AS (
      SELECT t.query_id, t.true_top1,
             COALESCE(MIN(i.rank), 0) AS ivf_rank
      FROM top1 t LEFT JOIN ivf i
        ON i.query_id = t.query_id AND i.vec_id = t.true_top1
      GROUP BY t.query_id, t.true_top1
    ),
    rr AS (
      SELECT query_id, true_top1, ivf_rank,
             CASE WHEN ivf_rank = 0 THEN 0.0 ELSE 1.0 / ivf_rank END AS rr
      FROM hits
    )
    SELECT query_id, true_top1, ivf_rank,
           ROUND(rr, 6) AS rr,
           ROUND((SELECT AVG(rr) FROM rr), 6) AS mrr
    FROM rr
"""


@register("ann_mrr", _MRR_SQL)
def ann_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.similarity import cosine_topk_bruteforce, cosine_topk_ivf

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    truth = cosine_topk_bruteforce(e, q, k=5)
    ivf = cosine_topk_ivf(e, q, n_cells=8, nprobe=2, k=5).select(
        F.col("query_id").alias("iq"), F.col("vec_id").alias("iv"), F.col("rank").alias("irank")
    )
    top1 = truth.filter(F.col("rank") == 1).select(
        "query_id", F.col("vec_id").alias("true_top1")
    )
    hits = (
        top1.join(
            ivf,
            (F.col("iq") == F.col("query_id")) & (F.col("iv") == F.col("true_top1")),
            "left",
        )
        .groupBy("query_id", "true_top1")
        .agg(F.coalesce(F.min("irank"), F.lit(0)).cast("long").alias("ivf_rank"))
    )
    rr = hits.select(
        "query_id",
        "true_top1",
        "ivf_rank",
        F.when(F.col("ivf_rank") == 0, 0.0).otherwise(1.0 / F.col("ivf_rank")).alias("rr_raw"),
    )
    mean = rr.agg(F.avg("rr_raw").alias("mrr_raw"))
    return rr.crossJoin(mean).select(
        "query_id",
        "true_top1",
        "ivf_rank",
        F.round("rr_raw", 6).alias("rr"),
        F.round("mrr_raw", 6).alias("mrr"),
    )


_NDCG_SQL = f"""
    WITH truth AS ({_ANN_TOPK_SQL}),
    ivf AS ({_ANN_IVF_SQL}),
    gains AS (
      SELECT i.query_id,
             SUM(COALESCE(t.cosine, 0.0) / log2(i.rank + 1.0)) AS dcg
      FROM ivf i LEFT JOIN truth t
        ON t.query_id = i.query_id AND t.vec_id = i.vec_id
      GROUP BY i.query_id
    ),
    ideal AS (
      SELECT query_id, SUM(cosine / log2(rank + 1.0)) AS idcg
      FROM truth GROUP BY query_id
    )
    SELECT g.query_id,
           ROUND(g.dcg, 6) AS dcg,
           ROUND(i.idcg, 6) AS idcg,
           ROUND(g.dcg / i.idcg, 6) AS ndcg
    FROM gains g JOIN ideal i ON g.query_id = i.query_id
"""


@register("ann_ndcg", _NDCG_SQL)
def ann_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.similarity import cosine_topk_bruteforce, cosine_topk_ivf

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    truth = cosine_topk_bruteforce(e, q, k=5).select(
        F.col("query_id").alias("tq"), F.col("vec_id").alias("tv"), "cosine", "rank"
    )
    ivf = cosine_topk_ivf(e, q, n_cells=8, nprobe=2, k=5).select(
        "query_id", "vec_id", F.col("rank").alias("irank")
    )
    gains = (
        ivf.join(
            truth,
            (F.col("tq") == F.col("query_id")) & (F.col("tv") == F.col("vec_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.sum(
                F.coalesce(F.col("cosine"), F.lit(0.0)) / F.log2(F.col("irank") + 1.0)
            ).alias("dcg")
        )
    )
    ideal = truth.groupBy(F.col("tq").alias("query_id")).agg(
        F.sum(F.col("cosine") / F.log2(F.col("rank") + 1.0)).alias("idcg")
    )
    return gains.join(ideal, "query_id").select(
        "query_id",
        F.round("dcg", 6).alias("dcg"),
        F.round("idcg", 6).alias("idcg"),
        F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
    )
