"""Oracle pairs for the corpus statistics in ``operators.textstats``:
TF-IDF top terms, Okapi BM25 scoring and PMI co-occurrence pairs —
built-in tokenize, hash aggregates and broadcast joins, no UDFs.
Identical column aliases on both sides, floats rounded identically
before hashing, rankings ordered on the rounded value with an id
tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_SQL_TOKS = r"""
    toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      FROM documents WHERE doc_id < 300
    ),
    toks_ne AS (SELECT doc_id, tok FROM toks WHERE len(tok) > 0)
"""


# --- corpus stats: TF-IDF top term per document -------------------------
@register(
    "tfidf_top_terms",
    f"""
    WITH {_SQL_TOKS},
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks_ne GROUP BY 1, 2),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
    scored AS (
      SELECT tf.doc_id, tf.tok, tf.tf,
             round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS score
      FROM tf JOIN df USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok, tf, score FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.textstats import tfidf_top_terms as op

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return op(docs)


# --- corpus stats: Okapi BM25 -------------------------------------------
@register(
    "bm25_scores",
    f"""
    WITH {_SQL_TOKS},
    dl AS (SELECT doc_id, count(*) AS dl FROM toks_ne GROUP BY 1),
    stats AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl),
    qtf AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks_ne
      WHERE tok IN ('join', 'spark', 'stream') GROUP BY 1, 2
    ),
    qdf AS (SELECT tok, count(*) AS df FROM qtf GROUP BY 1),
    idf AS (
      SELECT tok, ln(1 + (s.n_docs - df + 0.5) / (df + 0.5)) AS idf
      FROM qdf CROSS JOIN stats s
    ),
    parts AS (
      SELECT q.doc_id,
             i.idf * (q.tf * 2.2)
               / (q.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl)) AS part
      FROM qtf q JOIN idf i USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats s
    )
    SELECT doc_id, round(sum(part), 6) AS bm25 FROM parts GROUP BY 1
    """,
)
def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.textstats import bm25 as op

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return op(docs, ["join", "spark", "stream"])


# --- corpus stats: PMI co-occurrence ------------------------------------
@register(
    "pmi_copairs",
    r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      FROM documents WHERE doc_id < 150
    ),
    d AS (SELECT DISTINCT doc_id, tok FROM toks WHERE len(tok) > 0),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM d),
    marg AS (SELECT tok, count(*) AS n_tok FROM d GROUP BY 1),
    pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_ab
      FROM d a JOIN d b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY 1, 2 HAVING count(*) >= 40
    )
    SELECT tok_a, tok_b, n_ab,
           round(ln(n_ab * 1.0 * n.n_docs / (ma.n_tok * mb.n_tok)), 6) AS pmi
    FROM pairs
    JOIN marg ma ON ma.tok = tok_a
    JOIN marg mb ON mb.tok = tok_b
    CROSS JOIN n
    """,
)
def pmi_copairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.textstats import pmi_pairs as op

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return op(docs, min_pair_count=40)
