"""Oracle pairs that run ``operators.textquality``.

  * mcnemar_docs — McNemar's paired test on the held-out docs:
    the marker-word heuristic vs naive Bayes against the corpus
    label, discordant counts b (heuristic right, NB wrong) and
    c (heuristic wrong, NB right), continuity-corrected
    chi2 = (|b-c|-1)^2/(b+c).  THE correct significance test for
    "is classifier B better than A" on one eval set — two accuracy
    numbers alone ignore that the errors are paired.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_NB_CTES = r"""
    bounds AS (SELECT MAX(doc_id) AS mx FROM documents),
    docs AS (
      SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS t,
             (doc_id * 10) // (b.mx + 1) < 7 AS in_train
      FROM documents, bounds b
    ),
    train_tok AS (
      SELECT lang, unnest(t) AS w FROM docs WHERE in_train
    ),
    cwl AS (SELECT lang, w, COUNT(*) AS c FROM train_tok GROUP BY lang, w),
    nl AS (SELECT lang, SUM(c) AS n FROM cwl GROUP BY lang),
    prior AS (
      SELECT lang, COUNT(*) AS nd FROM docs WHERE in_train GROUP BY lang
    ),
    ntr AS (SELECT SUM(nd) AS nd_tot FROM prior),
    vocab AS (SELECT COUNT(DISTINCT w) AS v FROM cwl),
    test_tok AS (
      SELECT doc_id, lang AS true_lang, unnest(t) AS w
      FROM docs WHERE NOT in_train
    ),
    scored AS (
      SELECT tt.doc_id, tt.true_lang, p.lang AS cand,
             ROUND(SUM(ln((COALESCE(c.c, 0) + 1.0) / (n.n + v.v)))
                   + ln(p.nd * 1.0 / r.nd_tot), 6) AS s
      FROM test_tok tt
      CROSS JOIN prior p
      JOIN nl n ON n.lang = p.lang
      CROSS JOIN vocab v
      CROSS JOIN ntr r
      LEFT JOIN cwl c ON c.lang = p.lang AND c.w = tt.w
      GROUP BY tt.doc_id, tt.true_lang, p.lang, p.nd, r.nd_tot
    ),
    nb_pred AS (
      SELECT doc_id, true_lang, cand AS nb_lang
      FROM (SELECT *, ROW_NUMBER() OVER
              (PARTITION BY doc_id ORDER BY s DESC, cand) AS rn
            FROM scored)
      WHERE rn = 1
    )
"""


def _nb_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, true_lang, nb_lang) over the held-out 30%."""
    d = _t(spark, sf_dir, "documents")
    bounds = d.agg(F.max("doc_id").alias("mx"))
    docs = d.crossJoin(F.broadcast(bounds)).select(
        "doc_id",
        "lang",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("t"),
        (F.floor(F.col("doc_id") * 10 / (F.col("mx") + 1)) < 7).alias(
            "in_train"
        ),
    )
    train_tok = docs.filter(F.col("in_train")).select(
        "lang", F.explode("t").alias("w")
    )
    cwl = train_tok.groupBy("lang", "w").agg(F.count("*").alias("c"))
    nl = cwl.groupBy("lang").agg(F.sum("c").alias("n"))
    prior = (
        docs.filter(F.col("in_train"))
        .groupBy("lang")
        .agg(F.count("*").alias("nd"))
    )
    ntr = prior.agg(F.sum("nd").alias("nd_tot"))
    vocab = cwl.agg(F.count_distinct("w").alias("v"))
    test_tok = docs.filter(~F.col("in_train")).select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        F.explode("t").alias("w"),
    )
    # candidate table: |langs| x |vocab| likelihoods — broadcast side
    cand = (
        prior.withColumnRenamed("lang", "cand")
        .join(nl.withColumnRenamed("lang", "cand"), "cand")
        .crossJoin(vocab)
        .crossJoin(ntr)
    )
    scored = (
        test_tok.crossJoin(F.broadcast(cand))
        .join(
            cwl.select(
                F.col("lang").alias("cand"), "w", F.col("c").alias("cwl")
            ),
            ["cand", "w"],
            "left",
        )
        .groupBy("doc_id", "true_lang", "cand", "nd", "nd_tot")
        .agg(
            F.round(
                F.sum(
                    F.log(
                        (F.coalesce(F.col("cwl"), F.lit(0)) + 1.0)
                        / (F.col("n") + F.col("v"))
                    )
                )
                + F.log(F.col("nd") * 1.0 / F.col("nd_tot")),
                6,
            ).alias("s")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("s").desc(), "cand")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "true_lang", F.col("cand").alias("nb_lang"))
    )


def _heur_sql() -> str:
    from lnex_spark.oracle_defs_library import _dd_word_count as wc

    return f"""
    heur_hits AS (
      SELECT doc_id,
        {wc("der")} + {wc("die")} + {wc("und")} + {wc("ist")} + {wc("nicht")} AS h_de,
        {wc("the")} + {wc("and")} + {wc("of")} + {wc("to")} + {wc("is")} AS h_en,
        {wc("el")} + {wc("los")} + {wc("que")} + {wc("por")} + {wc("una")} AS h_es,
        {wc("le")} + {wc("la")} + {wc("et")} + {wc("les")} + {wc("des")} AS h_fr
      FROM documents
    ),
    heur AS (
      SELECT doc_id,
             CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                  WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
                  WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                  WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                  ELSE 'fr' END AS heur_lang
      FROM heur_hits
    )
"""


def _mcnemar_sql() -> str:
    return (
        "WITH "
        + _NB_CTES
        + ","
        + _heur_sql()
        + """
    ,paired AS (
      SELECT p.true_lang,
             CASE WHEN h.heur_lang = p.true_lang THEN 1 ELSE 0 END AS a_ok,
             CASE WHEN p.nb_lang = p.true_lang THEN 1 ELSE 0 END AS b_ok
      FROM nb_pred p JOIN heur h ON p.doc_id = h.doc_id
    )
    SELECT COUNT(*) AS n,
           ROUND(AVG(a_ok), 6) AS acc_heuristic,
           ROUND(AVG(b_ok), 6) AS acc_nb,
           CAST(SUM(CASE WHEN a_ok = 1 AND b_ok = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS b,
           CAST(SUM(CASE WHEN a_ok = 0 AND b_ok = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS c,
           ROUND(CASE WHEN SUM(CASE WHEN a_ok <> b_ok THEN 1 ELSE 0 END) > 0
                 THEN POW(ABS(SUM(CASE WHEN a_ok = 1 AND b_ok = 0 THEN 1
                                       ELSE 0 END)
                            - SUM(CASE WHEN a_ok = 0 AND b_ok = 1 THEN 1
                                       ELSE 0 END)) - 1.0, 2)
                      / SUM(CASE WHEN a_ok <> b_ok THEN 1 ELSE 0 END)
                 ELSE 0.0 END, 6) AS chi2
    FROM paired
"""
    )


@register("mcnemar_docs", _mcnemar_sql())
def mcnemar_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.textquality import lang_id

    d = _t(spark, sf_dir, "documents")
    nb = _nb_pred(spark, sf_dir)
    heur = lang_id(d).select("doc_id", F.col("pred_lang").alias("heur_lang"))
    paired = nb.join(heur, "doc_id").select(
        F.when(F.col("heur_lang") == F.col("true_lang"), 1)
        .otherwise(0)
        .alias("a_ok"),
        F.when(F.col("nb_lang") == F.col("true_lang"), 1)
        .otherwise(0)
        .alias("b_ok"),
    )
    b = F.sum(
        F.when((F.col("a_ok") == 1) & (F.col("b_ok") == 0), 1).otherwise(0)
    )
    c = F.sum(
        F.when((F.col("a_ok") == 0) & (F.col("b_ok") == 1), 1).otherwise(0)
    )
    disc = F.sum(F.when(F.col("a_ok") != F.col("b_ok"), 1).otherwise(0))
    return paired.agg(
        F.count("*").alias("n"),
        F.round(F.avg("a_ok"), 6).alias("acc_heuristic"),
        F.round(F.avg("b_ok"), 6).alias("acc_nb"),
        b.cast("long").alias("b"),
        c.cast("long").alias("c"),
        F.round(
            F.when(disc > 0, F.pow(F.abs(b - c) - 1.0, 2) / disc).otherwise(
                0.0
            ),
            6,
        ).alias("chi2"),
    )
