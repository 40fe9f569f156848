"""Oracle pairs that run ``operators.clustering`` and
``operators.similarity``: clustering quality and rank correlation.

  * silhouette_embeddings — simplified (centroid-based) silhouette
    of the verified k-means clustering: per vector a = distance to
    its own (nearest) centroid, b = distance to the second-nearest,
    s = (b−a)/max(a,b), averaged per cell.  Composes the
    already-value-checked unrolled-Lloyd derivation as a nested CTE
    (the same composition move as ann_recall_at_k), so the quality
    metric of the clustering is itself value-checked.  The
    simplified form is O(n·k) — the full-pairwise silhouette's
    O(n²) is exactly what it exists to avoid at scale.

  * ann_kendall_tau — Kendall rank correlation between the
    brute-force and IVF top-5 rankings per query, over the
    intersection of the two lists: concordant minus discordant
    pairs over m(m−1)/2.  With recall@k (membership), MRR (single
    target), nDCG (graded positions) and RRF (fusion), tau adds the
    order-agreement lens — all integer arithmetic until the final
    ratio.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracle_defs_library import _ANN_IVF_SQL, _ANN_TOPK_SQL, _kmeans_sql
from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_SIL_SQL = f"""
    WITH km AS ({_kmeans_sql()}),
    v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings WHERE vec_id < 300
    ),
    f AS (
      SELECT v.vec_id, km.cell_id, unnest(v.emb) AS x, unnest(km.centroid) AS y
      FROM v, km
    ),
    d AS (
      SELECT vec_id, cell_id, round(sum((x - y) * (x - y)), 6) AS d2
      FROM f GROUP BY vec_id, cell_id
    ),
    ranked AS (
      SELECT vec_id, cell_id, sqrt(d2) AS dist,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell_id ASC) AS rk
      FROM d
    ),
    ab AS (
      SELECT a.vec_id, a.cell_id AS own_cell, a.dist AS a_dist, b.dist AS b_dist
      FROM ranked a JOIN ranked b
        ON a.vec_id = b.vec_id AND a.rk = 1 AND b.rk = 2
    ),
    s AS (
      SELECT own_cell,
             CASE WHEN GREATEST(a_dist, b_dist) = 0 THEN 0.0
                  ELSE (b_dist - a_dist) / GREATEST(a_dist, b_dist) END AS sil
      FROM ab
    )
    SELECT own_cell AS cell_id, COUNT(*) AS n,
           ROUND(AVG(sil), 6) AS avg_silhouette
    FROM s GROUP BY own_cell
"""


@register("silhouette_embeddings", _SIL_SQL)
def silhouette_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from lnex_spark.operators.clustering import kmeans_lloyd

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    centroids, _ = kmeans_lloyd(e, k=8, iters=3)
    v = e.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("emb"),
    )
    d = v.crossJoin(centroids.select("cell_id", F.col("cemb").alias("centroid"))).select(
        "vec_id",
        "cell_id",
        F.round(
            F.aggregate(
                F.zip_with(F.col("emb"), F.col("centroid"), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, z: acc + z,
            ),
            6,
        ).alias("d2"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cell_id"))
    ranked = d.select(
        "vec_id", "cell_id", F.sqrt("d2").alias("dist"), F.row_number().over(w).alias("rk")
    )
    a = ranked.filter(F.col("rk") == 1).select(
        "vec_id", F.col("cell_id").alias("own_cell"), F.col("dist").alias("a_dist")
    )
    b = ranked.filter(F.col("rk") == 2).select("vec_id", F.col("dist").alias("b_dist"))
    ab = a.join(b, "vec_id")
    sil = F.when(F.greatest("a_dist", "b_dist") == 0, 0.0).otherwise(
        (F.col("b_dist") - F.col("a_dist")) / F.greatest("a_dist", "b_dist")
    )
    return (
        ab.select("own_cell", sil.alias("sil"))
        .groupBy(F.col("own_cell").alias("cell_id"))
        .agg(F.count("*").alias("n"), F.round(F.avg("sil"), 6).alias("avg_silhouette"))
    )


_TAU_SQL = f"""
    WITH truth AS ({_ANN_TOPK_SQL}),
    ivf AS ({_ANN_IVF_SQL}),
    common AS (
      SELECT t.query_id, t.vec_id, t.rank AS tr, i.rank AS ir
      FROM truth t JOIN ivf i ON i.query_id = t.query_id AND i.vec_id = t.vec_id
    ),
    pairs AS (
      SELECT a.query_id,
             CASE WHEN (a.tr - b.tr) * (a.ir - b.ir) > 0 THEN 1 ELSE 0 END AS conc
      FROM common a JOIN common b
        ON a.query_id = b.query_id AND a.vec_id < b.vec_id
    )
    SELECT query_id,
           COUNT(*) AS n_pairs,
           CAST(SUM(conc) AS BIGINT) AS concordant,
           ROUND((SUM(conc) - (COUNT(*) - SUM(conc))) * 1.0 / COUNT(*), 6) AS tau
    FROM pairs GROUP BY query_id
"""


@register("ann_kendall_tau", _TAU_SQL)
def ann_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.similarity import cosine_topk_bruteforce, cosine_topk_ivf

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    truth = cosine_topk_bruteforce(e, q, k=5).select(
        "query_id", "vec_id", F.col("rank").alias("tr")
    )
    ivf = cosine_topk_ivf(e, q, n_cells=8, nprobe=2, k=5).select(
        F.col("query_id").alias("iq"), F.col("vec_id").alias("iv"), F.col("rank").alias("ir")
    )
    common = truth.join(
        ivf, (F.col("iq") == F.col("query_id")) & (F.col("iv") == F.col("vec_id"))
    ).select("query_id", "vec_id", "tr", "ir")
    a = common.select(
        F.col("query_id").alias("qa"), F.col("vec_id").alias("va"),
        F.col("tr").alias("tra"), F.col("ir").alias("ira"),
    )
    b = common.select(
        F.col("query_id").alias("qb"), F.col("vec_id").alias("vb"),
        F.col("tr").alias("trb"), F.col("ir").alias("irb"),
    )
    pairs = a.join(b, (F.col("qa") == F.col("qb")) & (F.col("va") < F.col("vb"))).select(
        F.col("qa").alias("query_id"),
        F.when((F.col("tra") - F.col("trb")) * (F.col("ira") - F.col("irb")) > 0, 1)
        .otherwise(0)
        .alias("conc"),
    )
    return pairs.groupBy("query_id").agg(
        F.count("*").alias("n_pairs"),
        F.sum("conc").cast("long").alias("concordant"),
        F.round(
            (F.sum("conc") - (F.count("*") - F.sum("conc"))) * 1.0 / F.count("*"), 6
        ).alias("tau"),
    )
