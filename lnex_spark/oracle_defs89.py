"""Oracle pairs that run ``operators.scalable_windows``.

  * negsample_table_docs — the word2vec negative-sampling table:
    unigram counts raised to the 3/4 power, normalized, and laid out
    as cumulative [lo, hi) probability ranges under a fully-specified
    (p desc, token) order — the inverse-CDF structure skip-gram
    training samples negatives from (md5 uniform → binary search
    over ranges, no alias table needed): the negatives half of the
    SGNS input.  Top-10 rows reported; the cumulative
    ranges are computed over the FULL vocabulary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_NEG_SQL = r"""
    WITH toks AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      FROM documents
    ),
    cnt AS (SELECT tok, COUNT(*) AS c FROM toks WHERE len(tok) > 0 GROUP BY tok),
    sm AS (SELECT tok, c, pow(c * 1.0, 0.75) AS w FROM cnt),
    tot AS (SELECT SUM(w) AS z FROM sm),
    ranked AS (
      SELECT s.tok, s.c, s.w / t.z AS p,
             row_number() OVER (ORDER BY s.w DESC, s.tok) AS rk,
             SUM(s.w / t.z) OVER (ORDER BY s.w DESC, s.tok
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_hi
      FROM sm s, tot t
    )
    SELECT rk, tok, c,
           ROUND(p, 6) AS p,
           ROUND(cum_hi - p, 6) AS cum_lo,
           ROUND(cum_hi, 6) AS cum_hi
    FROM ranked WHERE rk <= 10
"""


@register("negsample_table_docs", _NEG_SQL)
def negsample_table_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    cnt = (
        d.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")
        )
        .filter(F.length("tok") > 0)
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    sm = cnt.select("tok", "c", F.pow(F.col("c") * 1.0, 0.75).alias("w"))
    tot = sm.agg(F.sum("w").alias("z"))
    # vocabulary-sized ranking — Heaps-law unbounded, so distributed
    # rank (round-4 window audit).  The running sum, however, is NOT
    # taken from attach_rank: its bucketed form adds hash-agg partial
    # sums whose order is nondeterministic, so doubles can differ in
    # the last ULP from a sequential window whenever a splitter lands
    # inside the reported head.  Since only rk <= 10 is emitted — and
    # those ARE the first 10 rows of the global order — rank first,
    # filter to the 10-row head, then cumsum with a window bounded by
    # the LITERAL 10, which is sequential left-to-right by
    # construction: deterministic doubles at any splitter choice.
    from lnex_spark.operators.scalable_windows import attach_rank

    ranked = attach_rank(
        sm.crossJoin(tot).withColumn("p", F.col("w") / F.col("z")),
        [F.desc("w"), F.asc("tok")],
        rank_col="rk",
    ).select("tok", "c", "p", "rk")
    head_w = Window.orderBy("rk").rowsBetween(Window.unboundedPreceding, 0)
    return (
        ranked.filter(F.col("rk") <= 10)
        .withColumn("cum_hi", F.sum("p").over(head_w))
        .select(
            "rk",
            "tok",
            "c",
            F.round("p", 6).alias("p"),
            F.round(F.col("cum_hi") - F.col("p"), 6).alias("cum_lo"),
            F.round("cum_hi", 6).alias("cum_hi"),
        )
    )
