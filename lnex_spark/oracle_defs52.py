"""Oracle pairs that run ``operators.scalable_windows``.

  * gains_curve_docs — decile cumulative-gains / lift of the
    deterministic logistic score from calibration_bins_docs against
    the lang='en' label: rank by score (doc_id tiebreak → ntile is
    engine-stable), per decile capture rate and lift.  The
    model-triage complement of the AUC and calibration ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_GAINS_SQL = """
    WITH scored AS (
      SELECT doc_id,
             1.0 / (1.0 + exp(-(n_chars - 400) / 150.0)) AS p,
             CAST(lang = 'en' AS INTEGER) AS y
      FROM documents
    ),
    deciled AS (
      SELECT y, ntile(10) OVER (ORDER BY p DESC, doc_id) AS decile FROM scored
    ),
    per_dec AS (
      SELECT decile, COUNT(*) AS n, SUM(y) AS n_pos FROM deciled GROUP BY decile
    ),
    tot AS (SELECT SUM(n) AS tn, SUM(n_pos) AS tp FROM per_dec)
    SELECT decile, n, CAST(n_pos AS BIGINT) AS n_pos,
           ROUND(SUM(n_pos) OVER w * 1.0 / tp, 6) AS cum_capture,
           ROUND((SUM(n_pos) OVER w * 1.0 / SUM(n) OVER w) / (tp * 1.0 / tn), 6) AS cum_lift
    FROM per_dec, tot
    WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@register("gains_curve_docs", _GAINS_SQL)
def gains_curve_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        (1.0 / (1.0 + F.exp(-(F.col("n_chars") - 400) / 150.0))).alias("p"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    # distributed NTILE over ALL documents (round-4 window audit):
    # global rank + arithmetic tiling against the broadcast total
    from lnex_spark.operators.scalable_windows import attach_rank, ntile_expr

    deciled = (
        attach_rank(scored, [F.desc("p"), F.asc("doc_id")], rank_col="_rn")
        .crossJoin(F.broadcast(scored.agg(F.count("*").alias("_nt"))))
        .select("y", ntile_expr("_rn", F.col("_nt"), 10).alias("decile"))
    )
    per_dec = deciled.groupBy("decile").agg(
        F.count("*").alias("n"), F.sum("y").alias("n_pos")
    )
    tot = per_dec.agg(F.sum("n").alias("tn"), F.sum("n_pos").alias("tp"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return per_dec.crossJoin(tot).select(
        "decile",
        "n",
        "n_pos",
        F.round(F.sum("n_pos").over(w) * 1.0 / F.col("tp"), 6).alias("cum_capture"),
        F.round(
            (F.sum("n_pos").over(w) * 1.0 / F.sum("n").over(w)) / (F.col("tp") * 1.0 / F.col("tn")),
            6,
        ).alias("cum_lift"),
    )
