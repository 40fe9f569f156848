"""Oracle pairs that run ``operators.scalable_windows``.

  * quant_rank_rbo — rank-biased overlap (p = 0.9, truncated at
    depth 5) between the exact-cosine and int8-quantized-cosine
    rankings for query vector 0: RBO = (1−p)·Σ p^{d−1}·|A_d∩B_d|/d
    over depth prefixes, both rankings on rounded scores with id
    tiebreaks.  RBO is TOP-weighted where Kendall/Spearman treat
    every position equally — the right agreement metric for
    retrieval lists, here answering "does int8 storage change what
    the user actually sees".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_RBO_P = 0.9
_RBO_D = 5

_RBO_SQL = f"""
    WITH vecs AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id < 300
    ),
    rng AS (
      SELECT vec_id, v, list_min(v) AS lo,
             (list_max(v) - list_min(v)) AS span
      FROM vecs
    ),
    qv AS (
      SELECT vec_id, v,
             list_transform(v, x -> lo + (span / 255.0)
               * floor((x - lo) / (span / 255.0) + 0.5)) AS vq
      FROM rng WHERE span > 0
    ),
    q AS (SELECT v, vq FROM qv WHERE vec_id = 0),
    scored AS (
      SELECT c.vec_id,
             ROUND(list_dot_product(c.v, q.v)
                   / (sqrt(list_dot_product(c.v, c.v))
                      * sqrt(list_dot_product(q.v, q.v))), 6) AS s_exact,
             ROUND(list_dot_product(c.vq, q.vq)
                   / (sqrt(list_dot_product(c.vq, c.vq))
                      * sqrt(list_dot_product(q.vq, q.vq))), 6) AS s_quant
      FROM qv c CROSS JOIN q WHERE c.vec_id <> 0
    ),
    ra AS (
      SELECT vec_id, row_number() OVER (ORDER BY s_exact DESC, vec_id) AS rk
      FROM scored
    ),
    rb AS (
      SELECT vec_id, row_number() OVER (ORDER BY s_quant DESC, vec_id) AS rk
      FROM scored
    ),
    depths AS (SELECT unnest(range(1, {_RBO_D + 1})) AS d),
    ovl AS (
      SELECT d.d, COUNT(*) AS ov
      FROM depths d
      JOIN ra ON ra.rk <= d.d
      JOIN rb ON rb.vec_id = ra.vec_id AND rb.rk <= d.d
      GROUP BY d.d
    ),
    rbo AS (
      SELECT SUM((1.0 - {_RBO_P}) * pow({_RBO_P}, d.d - 1)
                 * COALESCE(o.ov, 0) * 1.0 / d.d) AS rbo_trunc
      FROM depths d LEFT JOIN ovl o ON o.d = d.d
    )
    SELECT ROUND((SELECT rbo_trunc FROM rbo), 6) AS rbo_at_5,
           (SELECT CAST(COALESCE(ov, 0) AS BIGINT) FROM ovl WHERE d = {_RBO_D})
             AS overlap_at_5
"""


@register("quant_rank_rbo", _RBO_SQL)
def quant_rank_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    vecs = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    rng = vecs.select(
        "vec_id",
        "v",
        F.array_min("v").alias("lo"),
        (F.array_max("v") - F.array_min("v")).alias("span"),
    ).filter(F.col("span") > 0)
    step = F.col("span") / 255.0
    qv = rng.select(
        "vec_id",
        "v",
        F.transform(
            "v", lambda x: F.col("lo") + step * F.floor((x - F.col("lo")) / step + 0.5)
        ).alias("vq"),
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    q = qv.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("q_v"), F.col("vq").alias("q_vq")
    )
    scored = (
        qv.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            F.round(
                dot(F.col("v"), F.col("q_v"))
                / (
                    F.sqrt(dot(F.col("v"), F.col("v")))
                    * F.sqrt(dot(F.col("q_v"), F.col("q_v")))
                ),
                6,
            ).alias("s_exact"),
            F.round(
                dot(F.col("vq"), F.col("q_vq"))
                / (
                    F.sqrt(dot(F.col("vq"), F.col("vq")))
                    * F.sqrt(dot(F.col("q_vq"), F.col("q_vq")))
                ),
                6,
            ).alias("s_quant"),
        )
    )
    # two distributed ranks over the embedding corpus (round-4 audit)
    from lnex_spark.operators.scalable_windows import attach_rank

    ra = attach_rank(
        scored, [F.desc("s_exact"), F.asc("vec_id")], rank_col="rk_a"
    ).select("vec_id", "rk_a")
    rb = attach_rank(
        scored, [F.desc("s_quant"), F.asc("vec_id")], rank_col="rk_b"
    ).select(F.col("vec_id").alias("vb"), "rk_b")
    depths = spark.range(1, _RBO_D + 1).select(F.col("id").cast("int").alias("d"))
    overlaps = (
        depths.join(ra, ra["rk_a"] <= depths["d"])
        .join(rb, (rb["vb"] == ra["vec_id"]) & (rb["rk_b"] <= depths["d"]))
        .groupBy("d")
        .agg(F.count("*").alias("ov"))
    )
    rbo = (
        depths.join(overlaps, "d", "left")
        .select(
            (
                (1.0 - _RBO_P)
                * F.pow(F.lit(_RBO_P), F.col("d") - 1)
                * F.coalesce(F.col("ov"), F.lit(0))
                * 1.0
                / F.col("d")
            ).alias("term"),
            "d",
            "ov",
        )
    )
    agg = rbo.agg(
        F.round(F.sum("term"), 6).alias("rbo_at_5"),
        F.max(F.when(F.col("d") == _RBO_D, F.coalesce(F.col("ov"), F.lit(0))))
        .cast("long")
        .alias("overlap_at_5"),
    )
    return agg
