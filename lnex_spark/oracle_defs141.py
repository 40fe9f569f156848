"""Oracle pairs that run ``operators.scalable_windows``.

  * average_precision_docs — average precision (the area under the
    precision-recall curve in its standard step form):
    AP = Σ_k P@k · rel_k / n_pos over the corpus ranked by score
    descending with a deterministic doc_id tiebreak.  Complements
    auc_nchars_en_docs: ROC-AUC is prevalence-blind, AP is the
    rare-positive metric a filtering pipeline actually tunes on.
    The rank is a global window over the *eval* relation — in
    production this runs on the labeled eval slice (bounded), never
    the full corpus; the scorer itself stays embarrassingly
    parallel.  Also emits precision@100 from the same ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_SCORED_SQL = """
      SELECT doc_id,
             1.0 / (1.0 + exp(-(n_chars - 400) / 150.0)) AS p,
             CAST(lang = 'en' AS INTEGER) AS y
      FROM documents
"""

_AP_SQL = f"""
    WITH scored AS ({_SCORED_SQL}),
    ranked AS (
      SELECT y,
             ROW_NUMBER() OVER (ORDER BY p DESC, doc_id) AS k,
             SUM(y) OVER (ORDER BY p DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp_at_k
      FROM scored
    ),
    npos AS (SELECT SUM(y) AS n_pos FROM scored)
    SELECT CAST(n.n_pos AS BIGINT) AS n_pos,
           ROUND(SUM(CASE WHEN r.y = 1
                     THEN r.tp_at_k * 1.0 / r.k ELSE 0 END) / n.n_pos, 6)
             AS average_precision,
           ROUND(SUM(CASE WHEN r.k <= 100 THEN r.y ELSE 0 END) / 100.0, 6)
             AS precision_at_100
    FROM ranked r CROSS JOIN npos n
    GROUP BY n.n_pos
"""


@register("average_precision_docs", _AP_SQL)
def average_precision_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        (1.0 / (1.0 + F.exp(-(F.col("n_chars") - 400) / 150.0))).alias("p"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    # distributed rank + prefix-sum over ALL documents (round-4 audit)
    from lnex_spark.operators.scalable_windows import attach_rank

    ranked = attach_rank(
        scored,
        [F.desc("p"), F.asc("doc_id")],
        rank_col="k",
        cumsum_of="y",
        cumsum_col="tp_at_k",
    ).select("y", "k", "tp_at_k")
    npos = scored.agg(F.sum("y").alias("n_pos"))
    return (
        ranked.crossJoin(F.broadcast(npos))
        .groupBy("n_pos")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("y") == 1,
                        F.col("tp_at_k") * 1.0 / F.col("k"),
                    ).otherwise(0.0)
                )
                / F.col("n_pos"),
                6,
            ).alias("average_precision"),
            F.round(
                F.sum(F.when(F.col("k") <= 100, F.col("y")).otherwise(0))
                / 100.0,
                6,
            ).alias("precision_at_100"),
        )
        .select(
            F.col("n_pos").cast("long").alias("n_pos"),
            "average_precision",
            "precision_at_100",
        )
    )
