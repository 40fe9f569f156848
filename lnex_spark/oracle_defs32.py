"""Oracle pairs that run ``operators.textquality``.

  * lang_confusion_docs — per-class precision/recall/F1 of the
    heuristic language ID against corpus labels: the per-class
    drill-down behind labeler_agreement_docs' single kappa (macro
    metrics need the class rows, not the trace).  Classes appearing
    only as truth ('zh') or only as prediction ('und') get explicit
    zero marginals via outer marginal joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracle_defs29 import _KAPPA_SQL
from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- per-class confusion / F1 of the language labeler ----------------------
_CONF_SQL = (
    _KAPPA_SQL[: _KAPPA_SQL.index("tot AS")]
    + """classes AS (
      SELECT lang AS cls FROM j UNION SELECT pred_lang FROM j
    ),
    tr AS (SELECT lang AS cls, count(*) AS n_true FROM j GROUP BY 1),
    pd AS (SELECT pred_lang AS cls, count(*) AS n_pred FROM j GROUP BY 1),
    tp AS (SELECT lang AS cls, count(*) AS tp FROM j
           WHERE lang = pred_lang GROUP BY 1)
    SELECT c.cls,
           coalesce(n_true, 0) AS n_true,
           coalesce(n_pred, 0) AS n_pred,
           coalesce(tp, 0) AS tp,
           round(CASE WHEN coalesce(n_pred, 0) > 0
                 THEN coalesce(tp, 0) * 1.0 / n_pred ELSE 0 END, 6) AS precision,
           round(CASE WHEN coalesce(n_true, 0) > 0
                 THEN coalesce(tp, 0) * 1.0 / n_true ELSE 0 END, 6) AS recall,
           round(CASE WHEN coalesce(tp, 0) > 0
                 THEN 2.0 * tp / (n_pred + n_true) ELSE 0 END, 6) AS f1
    FROM classes c
    LEFT JOIN tr ON tr.cls = c.cls
    LEFT JOIN pd ON pd.cls = c.cls
    LEFT JOIN tp ON tp.cls = c.cls
"""
)


@register("lang_confusion_docs", _CONF_SQL)
def lang_confusion_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class P/R/F1 of lang_id vs the lang column.  F1 written as
    2·tp/(n_pred+n_true) — the p/r-free algebraic form, well-defined
    whenever tp>0 and exactly 0 otherwise (no 0/0 path)."""
    from lnex_spark.operators.textquality import lang_id

    d = _t(spark, sf_dir, "documents")
    j = lang_id(d).join(d.select("doc_id", "lang"), "doc_id").select(
        "pred_lang", "lang"
    )
    classes = (
        j.select(F.col("lang").alias("cls"))
        .union(j.select("pred_lang"))
        .distinct()
    )
    tr = j.groupBy(F.col("lang").alias("cls")).agg(F.count("*").alias("n_true"))
    pd = j.groupBy(F.col("pred_lang").alias("cls")).agg(F.count("*").alias("n_pred"))
    tp = (
        j.filter(F.col("lang") == F.col("pred_lang"))
        .groupBy(F.col("lang").alias("cls"))
        .agg(F.count("*").alias("tp"))
    )
    out = (
        classes.join(tr, "cls", "left").join(pd, "cls", "left").join(tp, "cls", "left")
    )
    n_true = F.coalesce(F.col("n_true"), F.lit(0))
    n_pred = F.coalesce(F.col("n_pred"), F.lit(0))
    tp_c = F.coalesce(F.col("tp"), F.lit(0))
    return out.select(
        "cls",
        n_true.alias("n_true"),
        n_pred.alias("n_pred"),
        tp_c.alias("tp"),
        F.round(
            F.when(n_pred > 0, tp_c * 1.0 / F.col("n_pred")).otherwise(0.0), 6
        ).alias("precision"),
        F.round(
            F.when(n_true > 0, tp_c * 1.0 / F.col("n_true")).otherwise(0.0), 6
        ).alias("recall"),
        F.round(
            F.when(tp_c > 0, 2.0 * F.col("tp") / (F.col("n_pred") + F.col("n_true")))
            .otherwise(0.0),
            6,
        ).alias("f1"),
    )
