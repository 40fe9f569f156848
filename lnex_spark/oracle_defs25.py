"""Twenty-fifth oracle-registry module: blocking evaluation, KG link
prediction, and sparse TF-IDF cosine.

  * blocking_quality_docs — the evaluation report for a candidate
    generator (MinHash-LSH bands vs exact shingle-Jaccard truth):
    reduction ratio (how much of the quadratic pair space the
    blocking pruned) and pair completeness (recall of true near-dup
    pairs — the LSH guarantee).  The report itself is three counts +
    one semi join over pair-sized inputs (operators/dedup.
    blocking_quality); candidates and truth reuse the exact md5-LSH
    and Jaccard derivations already value-checked by
    dedup_lsh_pairs_sql / dedup_ngram_jaccard.
  * link_prediction_events — common-neighbors + Adamic-Adar scores
    for non-adjacent node pairs of the co-occurrence graph
    (operators/graph.link_prediction_scores): the edge-suggestion
    features behind KG cluster completion.  One shared-neighbor
    self-join (tri_count's join class) + anti-join + broadcast degree
    join + hash agg.
  * tfidf_cosine_docs — sparse TF-IDF cosine over adjacent doc pairs
    (operators/textstats.tfidf_cosine_adjacent): the sparse-vector
    dot product as a term-keyed join, never a dense materialization;
    the adjacency restriction stands in for any candidate-pair
    source.

Reference parity note: none exist in LNEx (SURVEY.md §0); all three
are corpus-scale machinery around its KG semantics (blocking guards
the dedup pass, link prediction extends the co-mention graph, sparse
cosine is the classic IR similarity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- blocking quality (LSH candidates vs exact-Jaccard truth) -------------
_BLOCKQ_SQL = r"""
    WITH uni AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 100
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50
    ),
    toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM uni),
    pos AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3),
    sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM pos),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT doc_a, doc_b FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.8
    ),
    sigs AS (
      SELECT doc_id, h, min(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS minhash
      FROM sh, (SELECT unnest(range(0, 8)) AS h)
      GROUP BY doc_id, h
    ),
    banded AS (
      SELECT doc_id, h % 4 AS band,
             md5(string_agg(minhash, '|' ORDER BY minhash)) AS band_key
      FROM sigs GROUP BY doc_id, h % 4
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    counts AS (
      SELECT (SELECT count(*) FROM uni) AS n_docs,
             (SELECT count(*) FROM cand) AS n_candidates,
             (SELECT count(*) FROM truth) AS n_true,
             (SELECT count(*) FROM cand JOIN truth USING (doc_a, doc_b)) AS n_caught
    )
    SELECT n_docs, n_candidates, n_true, n_caught,
           round(1.0 - n_candidates / (n_docs * (n_docs - 1) / 2.0), 6) AS reduction_ratio,
           round(n_caught * 1.0 / n_true, 6) AS pair_completeness
    FROM counts
"""


@register("blocking_quality_docs", _BLOCKQ_SQL)
def blocking_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.dedup import (
        blocking_quality,
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.filter(F.col("doc_id") < 100)
    dup = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    uni = base.unionByName(dup)
    cands = lsh_candidate_pairs(minhash_signatures(uni, k=8, n=3), bands=4)
    truth = jaccard_pairs(uni, n=3, threshold=0.8)
    return blocking_quality(cands, truth, uni)


# --- KG link prediction (common neighbors + Adamic-Adar) -------------------
_LINKPRED_SQL = """
    WITH ev AS (
      SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hb
      FROM events WHERE user_id < 40
    ),
    e0 AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM ev a JOIN ev b
        ON a.event_type = b.event_type AND a.hb = b.hb AND a.user_id < b.user_id
    ),
    u0 AS (SELECT u AS a, v AS b FROM e0 UNION SELECT v, u FROM e0),
    deg AS (SELECT a AS z, count(*) AS deg FROM u0 GROUP BY a),
    cand AS (
      SELECT e1.a AS x, e2.a AS y, e1.b AS z
      FROM u0 e1 JOIN u0 e2 ON e1.b = e2.b AND e1.a < e2.a
    ),
    cand2 AS (
      SELECT c.x, c.y, c.z FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM u0 u WHERE u.a = c.x AND u.b = c.y)
    )
    SELECT x, y, count(*) AS cn,
           round(sum(CASE WHEN d.deg >= 2 THEN 1.0 / ln(d.deg) ELSE 0 END), 6) AS aa
    FROM cand2 JOIN deg d ON d.z = cand2.z
    GROUP BY x, y
"""


@register("link_prediction_events", _LINKPRED_SQL)
def link_prediction_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.graph import link_prediction_scores

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 40)
        .select("user_id", "event_type", F.date_trunc("hour", "ts").alias("hb"))
        .distinct()
    )
    a, b = ev.alias("a"), ev.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.hb") == F.col("b.hb"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("doc_a"), F.col("b.user_id").alias("doc_b"))
        .distinct()
    )
    return link_prediction_scores(edges)


# --- sparse TF-IDF cosine over adjacent doc pairs ---------------------------
_TFIDF_COS_SQL = r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      FROM documents WHERE doc_id < 300
    ),
    toks_ne AS (SELECT doc_id, tok FROM toks WHERE len(tok) > 0),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks_ne GROUP BY 1, 2),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
    w AS (
      SELECT tf.doc_id, tf.tok, tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS w
      FROM tf JOIN df USING (tok) CROSS JOIN n
    ),
    norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS doc_a, sum(a.w * b.w) AS dot
      FROM w a JOIN w b ON b.doc_id = a.doc_id + 1 AND b.tok = a.tok
      GROUP BY a.doc_id
    )
    SELECT d.doc_a, d.doc_a + 1 AS doc_b,
           round(d.dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM dots d
    JOIN norms na ON na.doc_id = d.doc_a
    JOIN norms nb ON nb.doc_id = d.doc_a + 1
"""


@register("tfidf_cosine_docs", _TFIDF_COS_SQL)
def tfidf_cosine_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.textstats import tfidf_cosine_adjacent

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return tfidf_cosine_adjacent(d)
