"""Oracle pairs that run ``operators.textquality``,
``operators.textstats``.

  * bpe_merges_docs — byte-pair-encoding merge induction
    (textstats.bpe_merges): the first 3 learned merges over the
    frequency-weighted word vocabulary.  Tokenizer TRAINING as a
    Spark job — the iterative-algorithm class (like PageRank)
    applied to the op a training-data pipeline runs before
    any token counting is meaningful.  The lhs != rhs candidate
    restriction makes "merge all occurrences" overlap-free and hence
    exactly relational; the DuckDB twin unrolls all three rounds,
    including the data-dependent top-pair choice, as nested CTEs —
    so the value check covers the whole training loop, merge
    decisions included.

  * labeler_agreement_docs — Cohen's kappa between the engine's
    heuristic language ID and the corpus ``lang`` column: the
    annotation-QA statistic (chance-corrected agreement) every
    labeling pipeline reports.  Marginal products via one tiny
    per-label join; the kappa formula is written identically on both
    engines over exact integer counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracle_defs_library import _dd_word_count
from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- BPE merge induction (unrolled training loop) --------------------------
def _bpe_round(prev: str, r: int) -> str:
    """One unrolled BPE round: pair counts → top pair → merge-apply."""
    return f"""
    p{r} AS (
      SELECT a, b, sum(wf) AS cnt FROM (
        SELECT wf, sym AS a,
               lead(sym) OVER (PARTITION BY word ORDER BY pos) AS b
        FROM {prev})
      WHERE b IS NOT NULL AND a <> b GROUP BY a, b
    ),
    m{r} AS (SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1),
    x{r} AS (
      SELECT word, wf, pos, sym, a, b, hit,
             lag(hit) OVER (PARTITION BY word ORDER BY pos) AS prev_hit
      FROM (
        SELECT s.word, s.wf, s.pos, s.sym, m.a, m.b,
               coalesce(s.sym = m.a AND
                 lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) = m.b,
                 FALSE) AS hit
        FROM {prev} s CROSS JOIN m{r} m)
    ),
    s{r} AS (
      SELECT word, wf,
             row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
             CASE WHEN hit THEN a || b ELSE sym END AS sym
      FROM x{r} WHERE NOT coalesce(prev_hit, FALSE)
    )"""


_BPE_SQL = (
    r"""
    WITH words AS (
      SELECT w AS word, count(*) AS wf FROM (
        SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    s0 AS (
      SELECT word, wf, i AS pos, substr(word, CAST(i AS INT), 1) AS sym
      FROM words, unnest(range(1, len(word) + 1)) AS t(i)
    ),"""
    + ",".join(_bpe_round(f"s{r - 1}", r) for r in range(1, 4))
    + """
    SELECT 1 AS rank, a AS lhs, b AS rhs, CAST(cnt AS BIGINT) AS freq FROM m1
    UNION ALL SELECT 2, a, b, CAST(cnt AS BIGINT) FROM m2
    UNION ALL SELECT 3, a, b, CAST(cnt AS BIGINT) FROM m3
    """
)


@register("bpe_merges_docs", _BPE_SQL)
def bpe_merges_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.textstats import bpe_merges

    return bpe_merges(_t(spark, sf_dir, "documents"), rounds=3)


# --- Cohen's kappa: heuristic lang-id vs corpus labels ---------------------
_KAPPA_SQL = f"""
    WITH hits AS (
      SELECT doc_id,
        {_dd_word_count('der')} + {_dd_word_count('die')} + {_dd_word_count('und')} + {_dd_word_count('ist')} + {_dd_word_count('nicht')} AS h_de,
        {_dd_word_count('the')} + {_dd_word_count('and')} + {_dd_word_count('of')} + {_dd_word_count('to')} + {_dd_word_count('is')} AS h_en,
        {_dd_word_count('el')} + {_dd_word_count('los')} + {_dd_word_count('que')} + {_dd_word_count('por')} + {_dd_word_count('una')} AS h_es,
        {_dd_word_count('le')} + {_dd_word_count('la')} + {_dd_word_count('et')} + {_dd_word_count('les')} + {_dd_word_count('des')} AS h_fr
      FROM documents
    ),
    preds AS (
      SELECT doc_id,
             CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                  WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
                  WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                  WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                  ELSE 'fr' END AS pred_lang
      FROM hits
    ),
    j AS (
      SELECT p.pred_lang, d.lang FROM preds p JOIN documents d USING (doc_id)
    ),
    tot AS (
      SELECT count(*) AS n,
             sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) AS agree
      FROM j
    ),
    pr AS (SELECT pred_lang AS lab, count(*) AS n_pred FROM j GROUP BY 1),
    gt AS (SELECT lang AS lab, count(*) AS n_true FROM j GROUP BY 1),
    pe AS (SELECT sum(n_pred * n_true) AS pp FROM pr JOIN gt USING (lab))
    SELECT n AS n_docs,
           round(agree * 1.0 / n, 6) AS po,
           round(pp * 1.0 / (n * n), 6) AS pe_chance,
           round((agree * 1.0 / n - pp * 1.0 / (n * n))
                 / (1 - pp * 1.0 / (n * n)), 6) AS kappa
    FROM tot CROSS JOIN pe
"""


@register("labeler_agreement_docs", _KAPPA_SQL)
def labeler_agreement_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chance-corrected inter-labeler agreement (Cohen's kappa) between
    lang_id's marker-stopword heuristic and the ground-truth lang
    column.  Marginals that appear on only one side (e.g. 'zh' — no
    markers, never predicted) contribute zero to the chance term via
    the inner marginal join, exactly as in the textbook formula."""
    from lnex_spark.operators.textquality import lang_id

    d = _t(spark, sf_dir, "documents")
    j = lang_id(d).join(d.select("doc_id", "lang"), "doc_id").select(
        "pred_lang", "lang"
    )
    tot = j.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("pred_lang") == F.col("lang"), 1).otherwise(0)).alias(
            "agree"
        ),
    )
    pr = j.groupBy(F.col("pred_lang").alias("lab")).agg(F.count("*").alias("n_pred"))
    gt = j.groupBy(F.col("lang").alias("lab")).agg(F.count("*").alias("n_true"))
    pe = (
        pr.join(gt, "lab")
        .agg(F.sum(F.col("n_pred") * F.col("n_true")).alias("pp"))
    )
    po_expr = F.col("agree") * 1.0 / F.col("n")
    pe_expr = F.col("pp") * 1.0 / (F.col("n") * F.col("n"))
    return tot.crossJoin(pe).select(
        F.col("n").alias("n_docs"),
        F.round(po_expr, 6).alias("po"),
        F.round(pe_expr, 6).alias("pe_chance"),
        F.round((po_expr - pe_expr) / (1 - pe_expr), 6).alias("kappa"),
    )
