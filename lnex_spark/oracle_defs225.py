"""Round-3 Arrow fast-path twins, driver-value-checked against the SAME
SQL oracles as their relational forms.

The three BLAS/Arrow kernels added this round (brute-force cosine
top-k, Lloyd k-means, SemDeDup) are exact-output twins of
already-oracle-checked relational operators — so the strongest
possible check is to register each twin against the *identical* SQL
string: the driver then value-hashes the numpy implementation directly
against DuckDB's independent re-derivation, proving the fast path is
not "approximately" the relational one but row-for-row the same.

  * ann_cosine_topk_arrow   — similarity.cosine_topk_bruteforce_arrow:
    per-Arrow-batch X@Q.T matmul + lossless per-batch top-k (the rank
    window sees batches*Q*k rows, never the N*Q corpus product);
  * kmeans_cells_arrow      — clustering.kmeans_lloyd_arrow: one
    zero-shuffle mapInPandas assignment pass per iteration emitting
    per-batch partial sums, tiny partial-merge aggregate, closure-
    shipped centroids;
  * semantic_dedup_embeddings_arrow — similarity.semantic_dedup_arrow:
    zero-shuffle matmul assignment + per-cell X@X.T keeper-order
    triangle prune.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracle_defs2 import _t
from lnex_spark.oracle_defs224 import _SEMDEDUP_SQL
from lnex_spark.oracle_defs_library import _ANN_TOPK_SQL, _CENTROIDS_SQL, _centroid_text
from lnex_spark.oracles import register


@register("ann_cosine_topk_arrow", _ANN_TOPK_SQL)
def ann_cosine_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.similarity import cosine_topk_bruteforce_arrow

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    return cosine_topk_bruteforce_arrow(e, q, k=5).withColumn("rank", F.col("rank").cast("long"))


@register("kmeans_cells_arrow", _CENTROIDS_SQL)
def kmeans_cells_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.clustering import kmeans_lloyd_arrow

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    centroids, assignment = kmeans_lloyd_arrow(e, k=8, iters=3)
    counts = assignment.groupBy("cell_id").agg(F.count("*").alias("n_members"))
    return _centroid_text(
        centroids.join(counts, "cell_id").select(
            "cell_id", "n_members", F.col("cemb").alias("centroid")
        )
    )


@register("semantic_dedup_embeddings_arrow", _SEMDEDUP_SQL)
def semantic_dedup_embeddings_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.similarity import semantic_dedup_arrow

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    uni = e.filter(F.col("vec_id") < 200).unionByName(
        e.filter(F.col("vec_id") < 60).select(
            (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
        )
    )
    return semantic_dedup_arrow(uni, n_cells=8, tau=0.98)
