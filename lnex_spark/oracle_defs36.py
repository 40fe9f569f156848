"""Oracle pairs that run ``operators.scalable_windows``.

  * sorted_neighborhood_docs — the OTHER classic ER blocking method
    (Hernández & Stolfo's sorted-neighborhood): sort on a content
    prefix key, take pairs within a rank window of 3, report
    reduction and pair completeness against identical-text truth on
    the dup-injected corpus.  Complements blocking_quality
    (MinHash-LSH) so both standard blocking families are measured.
    The global sort is the method's essence — at corpus scale it is
    repartitionByRange + sortWithinPartitions with window-width
    boundary overlap (the layout machinery already evidenced by the
    range-clustering test); here the rank window runs over the
    corpus-sized sorted table directly.

  * rfm_users — recency/frequency/monetary quintile segmentation:
    the standard user-value report.  ntile(5) under fully-specified
    (metric, user_id) orderings so bucket edges are deterministic on
    both engines; the three global ntile windows run over the
    user-count-sized aggregate, not the event table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- sorted-neighborhood blocking quality ----------------------------------
_SN_SQL = """
    WITH uni AS (
      SELECT doc_id, lower(trim(text)) AS norm FROM documents
      UNION ALL
      SELECT doc_id + 1000000, lower(trim(text)) FROM documents WHERE doc_id < 50
    ),
    keyed AS (
      SELECT doc_id, norm, substr(norm, 1, 24) AS sk,
             row_number() OVER (ORDER BY substr(norm, 1, 24), doc_id) AS rn
      FROM uni
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM keyed a JOIN keyed b
        ON b.rn > a.rn AND b.rn <= a.rn + 3
    ),
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM uni a JOIN uni b
        ON a.norm = b.norm AND a.doc_id < b.doc_id
    ),
    caught AS (
      SELECT t.doc_a FROM truth t
      WHERE EXISTS (SELECT 1 FROM cand c
                    WHERE (c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
                       OR (c.doc_a = t.doc_b AND c.doc_b = t.doc_a))
    )
    SELECT (SELECT count(*) FROM cand) AS n_candidates,
           (SELECT count(*) FROM truth) AS n_true_pairs,
           (SELECT count(*) FROM caught) AS n_caught,
           round((SELECT count(*) FROM caught) * 1.0
                 / (SELECT count(*) FROM truth), 6) AS pair_completeness
"""


@register("sorted_neighborhood_docs", _SN_SQL)
def sorted_neighborhood_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.trim("text")).alias("norm")
    )
    uni = d.unionByName(
        d.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "norm"
        )
    )
    keyed = uni.select(
        "doc_id",
        "norm",
        F.substring("norm", 1, 24).alias("sk"),
    )
    # distributed sort-key rank over ALL documents (round-4 audit)
    from lnex_spark.operators.scalable_windows import attach_rank

    keyed = attach_rank(
        keyed, [F.col("sk").asc(), F.col("doc_id").asc()], rank_col="rn"
    ).select("doc_id", "norm", "rn")
    a = keyed.select(F.col("doc_id").alias("doc_a"), F.col("rn").alias("ra"))
    b = keyed.select(F.col("doc_id").alias("doc_b"), F.col("rn").alias("rb"))
    cand = a.join(
        b, (F.col("rb") > F.col("ra")) & (F.col("rb") <= F.col("ra") + 3)
    ).select("doc_a", "doc_b")
    ta = uni.select(F.col("doc_id").alias("doc_a"), F.col("norm").alias("na"))
    tb = uni.select(F.col("doc_id").alias("doc_b"), F.col("norm").alias("nb"))
    truth = ta.join(
        tb, (F.col("na") == F.col("nb")) & (F.col("doc_a") < F.col("doc_b"))
    ).select("doc_a", "doc_b")
    sym = cand.unionByName(
        cand.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    caught = truth.join(sym, ["doc_a", "doc_b"], "left_semi")
    nc = cand.agg(F.count("*").alias("n_candidates"))
    nt = truth.agg(F.count("*").alias("n_true_pairs"))
    ng = caught.agg(F.count("*").alias("n_caught"))
    return (
        nc.crossJoin(nt)
        .crossJoin(ng)
        .select(
            "n_candidates",
            "n_true_pairs",
            "n_caught",
            F.round(F.col("n_caught") * 1.0 / F.col("n_true_pairs"), 6).alias(
                "pair_completeness"
            ),
        )
    )


# --- RFM quintile segmentation ---------------------------------------------
_RFM_SQL = """
    WITH agg AS (
      SELECT user_id,
             date_diff('day', CAST(max(ts) AS DATE),
                       (SELECT CAST(max(ts) AS DATE) FROM events)) AS recency_days,
             count(*) AS frequency,
             round(sum(value), 6) AS monetary
      FROM events GROUP BY user_id
    )
    SELECT user_id, recency_days, frequency, monetary,
           ntile(5) OVER (ORDER BY recency_days DESC, user_id) AS r_score,
           ntile(5) OVER (ORDER BY frequency ASC, user_id) AS f_score,
           ntile(5) OVER (ORDER BY monetary ASC, user_id) AS m_score
    FROM agg
"""


@register("rfm_users", _RFM_SQL)
def rfm_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/frequency/monetary quintiles (5 = best: most recent,
    most frequent, highest spend).  ntile windows run over the
    user-count-sized aggregate under fully-specified orderings."""
    ev = _t(spark, sf_dir, "events")
    corpus_max = ev.agg(F.max(F.col("ts").cast("date")).alias("cm"))
    agg = (
        ev.groupBy("user_id")
        .agg(
            F.max(F.col("ts").cast("date")).alias("last_d"),
            F.count("*").alias("frequency"),
            F.round(F.sum("value"), 6).alias("monetary"),
        )
        .crossJoin(F.broadcast(corpus_max))
        .select(
            "user_id",
            F.datediff("cm", "last_d").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    # three distributed NTILEs over the per-USER table (raw scale at
    # 100 TB): global rank + arithmetic tiling (round-4 window audit)
    from lnex_spark.operators.scalable_windows import attach_rank, ntile_expr

    nt = F.broadcast(agg.agg(F.count("*").alias("_nt")))
    r1 = attach_rank(
        agg, [F.col("recency_days").desc(), F.col("user_id").asc()], rank_col="_r1"
    )
    r2 = attach_rank(
        r1, [F.col("frequency").asc(), F.col("user_id").asc()], rank_col="_r2"
    )
    r3 = attach_rank(
        r2, [F.col("monetary").asc(), F.col("user_id").asc()], rank_col="_r3"
    )
    return r3.crossJoin(nt).select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        ntile_expr("_r1", F.col("_nt"), 5).alias("r_score"),
        ntile_expr("_r2", F.col("_nt"), 5).alias("f_score"),
        ntile_expr("_r3", F.col("_nt"), 5).alias("m_score"),
    )
