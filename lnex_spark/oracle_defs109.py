"""Oracle pairs that run ``operators.scalable_windows``.

  * budget_selection_docs — greedy quality-per-token selection under
    a 100k-token budget: each doc scored by the deterministic
    logistic quality p, cost = n_chars/4 token estimate, docs ranked
    by value density p/cost (rounded, doc_id tiebreak) and taken
    while the RUNNING token total stays in budget.  The fractional-
    knapsack greedy is optimal-up-to-one-item and — unlike bin
    packing — needs NO sequential state: one ranking window + one
    prefix sum.  This is the "assemble the best corpus that fits
    the training budget" step, reported as per-selection-decile
    aggregates so the output is scale-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_BUDGET = 100_000

_BS_SQL = f"""
    WITH scored AS (
      SELECT doc_id,
             1.0 / (1.0 + exp(-(n_chars - 400) / 150.0)) AS p,
             (n_chars // 4) + 1 AS toks
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, p, toks,
             ROUND(p / toks, 9) AS density,
             row_number() OVER (ORDER BY ROUND(p / toks, 9) DESC, doc_id) AS rk
      FROM scored
    ),
    running AS (
      SELECT doc_id, p, toks, rk,
             SUM(toks) OVER (ORDER BY rk
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_toks
      FROM ranked
    ),
    selected AS (
      SELECT * FROM running WHERE cum_toks <= {_BUDGET}
    ),
    maxr AS (SELECT MAX(rk) AS mr FROM selected)
    SELECT CAST(LEAST((s.rk - 1) * 10 // m.mr, 9) AS INTEGER) AS decile,
           COUNT(*) AS n_docs,
           CAST(SUM(s.toks) AS BIGINT) AS toks,
           ROUND(SUM(s.p), 6) AS total_quality,
           ROUND(MIN(s.p / s.toks), 9) AS min_density
    FROM selected s CROSS JOIN maxr m
    GROUP BY CAST(LEAST((s.rk - 1) * 10 // m.mr, 9) AS INTEGER)
"""


@register("budget_selection_docs", _BS_SQL)
def budget_selection_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        (1.0 / (1.0 + F.exp(-(F.col("n_chars") - 400) / 150.0))).alias("p"),
        (F.floor(F.col("n_chars") / 4).cast("long") + 1).alias("toks"),
    )
    # corpus-wide ranking: distributed rank + prefix-sum (round-4
    # window audit — the sort runs over ALL documents, so it must not
    # pass through a single task)
    from lnex_spark.operators.scalable_windows import attach_rank

    running = attach_rank(
        scored.select(
            "doc_id",
            "p",
            "toks",
            F.round(F.col("p") / F.col("toks"), 9).alias("density"),
        ),
        [F.desc("density"), F.asc("doc_id")],
        rank_col="rk",
        cumsum_of="toks",
        cumsum_col="cum_toks",
    )
    selected = running.filter(F.col("cum_toks") <= _BUDGET)
    maxr = selected.agg(F.max("rk").alias("mr"))
    decile = F.least(
        F.floor((F.col("rk") - 1) * 10 / F.col("mr")).cast("long"), F.lit(9)
    ).cast("int")
    return (
        selected.crossJoin(maxr)
        .groupBy(decile.alias("decile"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").cast("long").alias("toks"),
            F.round(F.sum("p"), 6).alias("total_quality"),
            F.round(F.min(F.col("p") / F.col("toks")), 9).alias("min_density"),
        )
    )
