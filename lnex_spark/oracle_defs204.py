"""Two-hundred-fourth oracle-registry module: relevance-feedback
retrieval and the cascade-model ranking metric.

  * rocchio_expansion_docs — Rocchio pseudo-relevance feedback for
    the query {spark, join}: rank documents by TF (tf/dl) over the
    query terms, take the top 5 as pseudo-relevant and bottom 5
    scored docs as non-relevant, build the expanded query vector
    q' = a*q + b*centroid(rel) - c*centroid(nonrel) (a=1, b=0.75,
    c=0.15) in tf/dl space over the union vocabulary, and emit the
    10 highest-weight expansion terms (original query terms
    excluded).  The classical query-expansion step — what the
    gazetteer alt-name miner does when a location name needs
    companion context terms.

  * err_ranking_docs — Expected Reciprocal Rank of the same TF
    ranking against graded gains g = 0..3 from n_chars quartiles
    (explicit rank-pick cutoffs): ERR = sum_r (1/r) R_r
    prod_{i<r}(1 - R_i) with R = (2^g - 1)/2^3, computed by the
    cumulative-log trick over the ranked list (top 20).  The
    cascade user model: a very relevant doc at rank 1 SHADOWS
    everything below — which ndcg, by design, does not model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


_Q = ("spark", "join")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_TOKS = """
    toks AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
    ),
    clean AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
    dlen AS (SELECT doc_id, COUNT(*) AS dl FROM clean GROUP BY doc_id),
    tfn AS (
      SELECT c.doc_id, c.tok,
             CAST(COUNT(*) AS DOUBLE) / MAX(d.dl) AS tf
      FROM clean c JOIN dlen d ON d.doc_id = c.doc_id
      GROUP BY c.doc_id, c.tok
    ),
    score AS (
      SELECT doc_id, SUM(tf) AS s
      FROM tfn WHERE tok IN ('spark', 'join')
      GROUP BY doc_id
    ),
    ranked AS (
      SELECT doc_id, s,
             ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS r,
             COUNT(*) OVER () AS nr
      FROM score
    )
"""


_ROCCHIO_SQL = f"""
    WITH {_TOKS},
    rel AS (SELECT doc_id FROM ranked WHERE r <= 5),
    nonrel AS (SELECT doc_id FROM ranked WHERE r > nr - 5),
    rel_cent AS (
      SELECT t.tok, SUM(t.tf) / 5 AS w
      FROM tfn t JOIN rel ON rel.doc_id = t.doc_id
      GROUP BY t.tok
    ),
    non_cent AS (
      SELECT t.tok, SUM(t.tf) / 5 AS w
      FROM tfn t JOIN nonrel ON nonrel.doc_id = t.doc_id
      GROUP BY t.tok
    ),
    vocab AS (
      SELECT tok FROM rel_cent UNION SELECT tok FROM non_cent
    ),
    expanded AS (
      SELECT v.tok,
             (CASE WHEN v.tok IN {_Q!r} THEN 1.0 ELSE 0.0 END)
               + 0.75 * COALESCE(r.w, 0) - 0.15 * COALESCE(nr.w, 0) AS w
      FROM vocab v
      LEFT JOIN rel_cent r ON r.tok = v.tok
      LEFT JOIN non_cent nr ON nr.tok = v.tok
    )
    SELECT tok AS term, ROUND(w, 6) AS weight
    FROM expanded
    WHERE tok NOT IN {_Q!r}
    ORDER BY w DESC, tok
    LIMIT 10
"""


def _tfn_frames(spark: SparkSession, sf_dir: str):
    d = _t(spark, sf_dir, "documents")
    clean = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    dlen = clean.groupBy("doc_id").agg(F.count("*").alias("dl"))
    tfn = (
        clean.join(dlen, "doc_id")
        .groupBy("doc_id", "tok")
        .agg((F.count("*").cast("double") / F.max("dl")).alias("tf"))
    )
    score = (
        tfn.where(F.col("tok").isin(*_Q))
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("s"))
    )
    # distributed rank over the scored docs + broadcast total
    # (round-4 window audit)
    from lnex_spark.operators.scalable_windows import attach_rank

    ranked = attach_rank(
        score, [F.desc("s"), F.asc("doc_id")], rank_col="r"
    ).crossJoin(F.broadcast(score.agg(F.count("*").alias("nr"))))
    return d, tfn, ranked


@register("rocchio_expansion_docs", _ROCCHIO_SQL)
def rocchio_expansion_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d, tfn, ranked = _tfn_frames(spark, sf_dir)
    rel = ranked.where(F.col("r") <= 5).select("doc_id")
    nonrel = ranked.where(F.col("r") > F.col("nr") - 5).select("doc_id")
    rel_cent = (
        tfn.join(rel, "doc_id").groupBy("tok").agg((F.sum("tf") / 5).alias("rw"))
    )
    non_cent = (
        tfn.join(nonrel, "doc_id")
        .groupBy("tok")
        .agg((F.sum("tf") / 5).alias("nw"))
    )
    vocab = rel_cent.select("tok").union(non_cent.select("tok")).distinct()
    expanded = (
        vocab.join(rel_cent, "tok", "left")
        .join(non_cent, "tok", "left")
        .select(
            "tok",
            (
                F.when(F.col("tok").isin(*_Q), 1.0).otherwise(0.0)
                + 0.75 * F.coalesce("rw", F.lit(0.0))
                - 0.15 * F.coalesce("nw", F.lit(0.0))
            ).alias("w"),
        )
    )
    return (
        expanded.where(~F.col("tok").isin(*_Q))
        .select(F.col("tok").alias("term"), F.round("w", 6).alias("weight"))
        .orderBy(F.desc("weight"), "term")
        .limit(10)
    )


_ERR_SQL = f"""
    WITH {_TOKS},
    cuts AS (
      SELECT MAX(CASE WHEN rn = CAST(CEIL(0.25 * nn) AS BIGINT)
                      THEN n_chars END) AS q1,
             MAX(CASE WHEN rn = CAST(CEIL(0.5 * nn) AS BIGINT)
                      THEN n_chars END) AS q2,
             MAX(CASE WHEN rn = CAST(CEIL(0.75 * nn) AS BIGINT)
                      THEN n_chars END) AS q3
      FROM (SELECT n_chars,
                   ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn,
                   COUNT(*) OVER () AS nn
            FROM documents)
    ),
    graded AS (
      SELECT rk.r,
             (POW(2, CASE WHEN d.n_chars > c.q3 THEN 3
                          WHEN d.n_chars > c.q2 THEN 2
                          WHEN d.n_chars > c.q1 THEN 1
                          ELSE 0 END) - 1) / 8.0 AS rr
      FROM ranked rk
      JOIN documents d ON d.doc_id = rk.doc_id
      CROSS JOIN cuts c
      WHERE rk.r <= 20
    ),
    cascade AS (
      SELECT r, rr,
             EXP(COALESCE(SUM(LN(1 - rr))
                   OVER (ORDER BY r
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0)) AS p_reach
      FROM graded WHERE rr < 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_ranked,
           ROUND(SUM(rr * p_reach / r), 6) AS err,
           ROUND(MAX(CASE WHEN r = 1 THEN rr END), 6) AS top1_gain
    FROM cascade
"""


@register("err_ranking_docs", _ERR_SQL)
def err_ranking_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d, tfn, ranked = _tfn_frames(spark, sf_dir)
    from lnex_spark.operators.scalable_windows import attach_rank

    # distributed rank over ALL documents (round-4 window audit)
    nchars = attach_rank(
        d.select("doc_id", "n_chars"),
        [F.col("n_chars").asc(), F.col("doc_id").asc()],
        rank_col="rn",
    ).crossJoin(F.broadcast(d.agg(F.count("*").alias("nn"))))
    cuts = nchars.agg(
        *[
            F.max(
                F.when(
                    F.col("rn") == F.ceil(q * F.col("nn")).cast("long"),
                    F.col("n_chars"),
                )
            ).alias(name)
            for q, name in [(0.25, "q1"), (0.5, "q2"), (0.75, "q3")]
        ]
    )
    graded = (
        ranked.where(F.col("r") <= 20)
        .join(d.select("doc_id", "n_chars"), "doc_id")
        .crossJoin(F.broadcast(cuts))
        .select(
            "r",
            (
                (
                    F.pow(
                        F.lit(2.0),
                        F.when(F.col("n_chars") > F.col("q3"), 3)
                        .when(F.col("n_chars") > F.col("q2"), 2)
                        .when(F.col("n_chars") > F.col("q1"), 1)
                        .otherwise(0),
                    )
                    - 1
                )
                / 8.0
            ).alias("rr"),
        )
        .where(F.col("rr") < 1)
    )
    wprev = Window.orderBy("r").rowsBetween(Window.unboundedPreceding, -1)
    cascade = graded.select(
        "r",
        "rr",
        F.exp(
            F.coalesce(F.sum(F.log(1 - F.col("rr"))).over(wprev), F.lit(0.0))
        ).alias("p_reach"),
    )
    return cascade.agg(
        F.count("*").cast("long").alias("n_ranked"),
        F.round(
            F.sum(F.col("rr") * F.col("p_reach") / F.col("r")), 6
        ).alias("err"),
        F.round(F.max(F.when(F.col("r") == 1, F.col("rr"))), 6).alias(
            "top1_gain"
        ),
    )
