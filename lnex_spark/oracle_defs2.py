"""Second oracle-registry module: SQL-verified checks for the
imperative islands — the Arrow n-gram matcher, the broadcast-free
relational matcher, the hashtag segmenter, the compat extract API and
the full KG pipeline on either matcher.

The matcher oracle (``m1_ngram_match_sql`` / ``kg_e2e_sql``) works by
pinning a LITERAL gazetteer chosen so that DuckDB can re-derive the
exact match set relationally:

  * names are unigrams/bigrams/one trigram over the documents
    vocabulary; no two multi-token names share a token, so candidate
    spans can only overlap by containment (unigram inside a longer
    match) — the greedy longest-match-wins of the matcher then equals
    the relational "drop unigrams contained in any multi-token match",
    which IS expressible in SQL;
  * input text is restricted to documents (lowercase ASCII words);
    punctuation breaks are *injected* deterministically on both sides
    (" the " -> ", ") so the break semantics of the tokenizer are
    actually exercised;
  * hashtag segmentation / URLs / @mentions don't occur in this input
    (they are covered by unit + property tests; the general matcher
    stays rows-only as ``m1_ngram_match``).

This makes the engine's single most important non-relational operator
value-hash-checked against an independent implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register
from lnex_spark import oracle_defs as _defs1


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ======================================================================
# Literal gazetteer shared by the Spark and SQL sides of the matcher
# oracle. (norm, geo_id, match_type, cat_priority); multi-candidate
# norms exercise L2 scoring: 'spark' -> exact beats augmented,
# 'customer' -> category priority decides, 'vector' -> geo_id tiebreak.
# ======================================================================
ORACLE_GAZ: list[tuple[str, int, int, int]] = [
    ("spark", 1, 1, 3),
    ("spark", 101, 0, 1),
    ("customer", 2, 1, 5),
    ("customer", 102, 1, 2),
    ("vector", 3, 1, 4),
    ("vector", 103, 1, 4),
    ("table hash", 4, 1, 3),
    ("customer join", 5, 1, 3),
    ("slow key", 6, 1, 3),
    ("spark window", 7, 1, 3),
    ("big order group", 8, 1, 3),
]

_GAZ_VALUES = ",\n      ".join(
    f"('{n}', {g}, {mt}, {cp})" for n, g, mt, cp in ORACLE_GAZ
)

# DuckDB token stream equivalent to textproc.tokenize_with_spans on
# this input: words / numbers / single punct chars, in order; the
# injected ',' occupies a list position so n-grams can't cross it.
_SQL_TOKENIZE = r"""
    t AS (
      SELECT doc_id,
             regexp_extract_all(
               regexp_replace(lower(text), ' the ', ', ', 'g'),
               '[a-z][a-z'']*|[0-9][a-z0-9_]*|[^ a-z0-9'']') AS tk
      FROM documents
    ),
    p AS (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM t),
    gaz(norm, geo_id, match_type, cat_priority) AS (VALUES
      __GAZ_VALUES__
    ),
    names AS (SELECT DISTINCT norm, len(string_split(norm, ' ')) AS ntok FROM gaz),
    cand AS (
      SELECT doc_id, i AS s, i AS e, tk[i] AS norm
      FROM p WHERE tk[i] IN (SELECT norm FROM names WHERE ntok = 1)
      UNION ALL
      SELECT doc_id, i, i + 1, tk[i] || ' ' || tk[i+1]
      FROM p WHERE i + 1 <= len(tk)
        AND tk[i] || ' ' || tk[i+1] IN (SELECT norm FROM names WHERE ntok = 2)
      UNION ALL
      SELECT doc_id, i, i + 2, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
      FROM p WHERE i + 2 <= len(tk)
        AND tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] IN (SELECT norm FROM names WHERE ntok = 3)
    ),
    final AS (
      SELECT doc_id, s, e, norm FROM cand WHERE e > s
      UNION ALL
      SELECT u.doc_id, u.s, u.e, u.norm FROM cand u
      WHERE u.e = u.s AND NOT EXISTS (
        SELECT 1 FROM cand m
        WHERE m.doc_id = u.doc_id AND m.e > m.s AND m.s <= u.s AND u.s <= m.e)
    )
""".replace("__GAZ_VALUES__", _GAZ_VALUES)


def _oracle_variants(spark: SparkSession) -> DataFrame:
    rows = [
        (n, g, mt, "poi", 13.0, 80.0, "chennai", cp) for n, g, mt, cp in ORACLE_GAZ
    ]
    return spark.createDataFrame(
        rows,
        "norm string, geo_id long, match_type int, category string, "
        "lat double, lon double, region string, cat_priority int",
    )


def _oracle_struct(spark: SparkSession):
    """The broadcast match structure of the literal gazetteer."""
    from lnex_spark.gazetteer.build import build_match_struct, build_unigram

    struct = build_match_struct((n for n, *_ in ORACLE_GAZ), build_unigram(ORACLE_GAZ))
    return spark.sparkContext.broadcast(struct)


def _docs_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> one-turn transcripts with the same injected breaks
    as the SQL side (' the ' -> ', ')."""
    docs = _t(spark, sf_dir, "documents")
    text2 = F.regexp_replace(F.lower(F.col("text")), " the ", ", ")
    return docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        text2.alias("text"),
    )


def _oracle_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the REAL engine matcher (build_match_struct + the fused
    mapInPandas extraction) over documents with the literal gazetteer."""
    from lnex_spark.operators.extract import extract_mentions_df

    return extract_mentions_df(_docs_as_transcripts(spark, sf_dir), _oracle_struct(spark))


@register(
    "m1_ngram_match_sql",
    f"""
    WITH {_SQL_TOKENIZE}
    SELECT doc_id, norm, count(*) AS n_mentions
    FROM final GROUP BY doc_id, norm
    """,
)
def m1_ngram_match_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bottom-up n-gram matcher, value-checked: per-doc per-name
    mention counts must equal DuckDB's independent relational
    re-derivation (module docstring explains why they're comparable)."""
    m = _oracle_mentions(spark, sf_dir)
    return m.groupBy(
        F.col("conv_id").cast("long").alias("doc_id"), "norm"
    ).agg(F.count("*").alias("n_mentions"))


# linked mentions -> per-span winner (L2) -> canonical vote (L3);
# shared by kg_e2e_sql and kg_e2e_relational_sql.
_SQL_LINK = """
    linked AS (
      SELECT f.doc_id, f.s, f.e, f.norm, g.geo_id, g.match_type, g.cat_priority
      FROM final f JOIN gaz g USING (norm)
    ),
    winners AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY doc_id, s, e
          ORDER BY match_type DESC, cat_priority ASC, geo_id ASC) AS rk
        FROM linked) WHERE rk = 1
    ),
    votes AS (SELECT norm, geo_id, count(*) AS v FROM winners GROUP BY norm, geo_id),
    canon AS (
      SELECT norm, geo_id AS canonical FROM (
        SELECT *, row_number() OVER (
          PARTITION BY norm ORDER BY v DESC, geo_id ASC) AS rk
        FROM votes) WHERE rk = 1
    )
"""


@register(
    "kg_e2e_sql",
    f"""
    WITH {_SQL_TOKENIZE},
    {_SQL_LINK}
    SELECT DISTINCT CAST(w.doc_id AS VARCHAR) || '#0' AS subj,
           'mentionsLocation' AS pred, CAST(c.canonical AS VARCHAR) AS obj
    FROM winners w JOIN canon c ON w.norm = c.norm
    UNION ALL
    SELECT DISTINCT CAST(geo_id AS VARCHAR) AS subj,
           'locatedIn' AS pred, 'chennai' AS obj
    FROM gaz
    """,
)
def kg_e2e_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL KG pipeline (M1 -> L1 -> L2 -> L3 -> K1, mention +
    region triples), value-checked end-to-end against DuckDB."""
    from lnex_spark.operators.link import (
        apply_canonical,
        canonicalize,
        link_mentions,
        score_candidates,
    )
    from lnex_spark.operators.triples import mention_triples, region_triples

    variants = _oracle_variants(spark)
    mentions = _oracle_mentions(spark, sf_dir)
    winners = score_candidates(link_mentions(mentions, variants))
    final = apply_canonical(winners, canonicalize(winners))
    mt = mention_triples(final).select(
        "subj", "pred", F.col("obj").cast("string").alias("obj")
    )
    rt = region_triples(variants).select(
        F.col("subj").cast("string").alias("subj"), "pred", "obj"
    )
    return mt.unionByName(rt)


@register("t3_hashtag_segment_sql", _defs1.T3_SEGMENT_SQL)
def t3_hashtag_segment_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashtag segmentation value-checked against a restricted SQL
    argmax. Soundness of the restriction: hashtags here are two
    corpus-vocabulary words concatenated, every vocabulary word has
    LM count >= 26 of ~28k total, so the correct 2-split scores
    >= (26/T)^2 ~ 8.6e-7 while every split containing an unknown
    fragment is penalized by 10/(T*10^len) factors (< 4e-9 after the
    best possible recursive rescue of the tail) — the full Viterbi's
    argmax therefore always IS the best whole-or-2-split candidate,
    which SQL can enumerate. Tie-break matches the DP: whole word
    first (strict > replaces), then smallest split point."""
    import pandas as pd

    from lnex_spark.operators.textproc import HashtagSegmenter

    d = _t(spark, sf_dir, "documents")
    toks = (
        d.select(F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .count()
    )
    freq = {r[0]: int(r[1]) for r in toks.collect()}
    bc = spark.sparkContext.broadcast(freq)
    arr = F.split(F.lower(F.trim("text")), r"\s+")
    tags = d.filter(F.size(arr) >= 2).select(
        "doc_id",
        F.concat(F.lit("#"), F.element_at(arr, 1), F.element_at(arr, 2)).alias("hashtag"),
    )

    def _seg(s):
        sg = HashtagSegmenter(bc.value)
        return s.map(lambda h: " ".join(sg.segment(h[1:])))

    seg = F.pandas_udf(_seg, "string")
    return tags.select("doc_id", "hashtag", seg(F.col("hashtag")).alias("segmented"))


@register(
    "compat_extract_sets",
    f"""
    WITH {_SQL_TOKENIZE},
    linked AS (
      SELECT f.doc_id, f.s, f.e, f.norm, g.geo_id
      FROM final f JOIN gaz g USING (norm)
    ),
    spans AS (
      SELECT doc_id, s, min(norm) AS norm,
             list_sort(list(DISTINCT geo_id)) AS geo_ids
      FROM linked GROUP BY doc_id, s, e
    )
    SELECT doc_id, norm, array_to_string(geo_ids, ',') AS geo_ids,
           row_number() OVER (PARTITION BY doc_id ORDER BY s ASC) AS span_rank
    FROM spans
    """,
)
def compat_extract_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compat-API extract contract (full candidate sets per span,
    reference return shape) value-checked on the literal gazetteer.
    Span keys are token positions on the SQL side vs char offsets on
    the Spark side, so the checked columns are the per-span candidate
    payload aggregated per doc — same multiset ⟺ same spans. The
    candidate list is compared as a ','-joined string: a list cell
    makes pandas ``sort_values``-based row hashing raise."""
    from lnex_spark import compat
    from lnex_spark.operators.link import best_by_norm
    from lnex_spark.pipeline import GazetteerModel

    variants = _oracle_variants(spark)
    model = GazetteerModel(variants, best_by_norm(variants), _oracle_struct(spark))
    out = compat.extract(model, _docs_as_transcripts(spark, sf_dir))
    # rank spans per doc by char start to align with token-position rank
    w = Window.partitionBy("conv_id").orderBy(F.col("start").asc())
    return out.withColumn("_rk", F.row_number().over(w)).select(
        F.col("conv_id").cast("long").alias("doc_id"),
        F.element_at(F.col("candidate_names"), 1).alias("norm"),
        F.concat_ws(",", F.transform("geo_ids", lambda g: g.cast("string"))).alias("geo_ids"),
        F.col("_rk").alias("span_rank"),
    )


@register(
    "m1_relational_sql",
    f"""
    WITH {_SQL_TOKENIZE}
    SELECT doc_id, norm, count(*) AS n_mentions
    FROM final GROUP BY doc_id, norm
    """,
)
def m1_relational_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BROADCAST-FREE matcher (operators/extract_relational.py —
    tokens → windowed n-grams → distributed semi-join vs the gazetteer
    → exact greedy resolve) against the same independent DuckDB
    re-derivation that checks the broadcast matcher
    (m1_ngram_match_sql): three implementations, one answer."""
    from lnex_spark.operators.extract_relational import extract_mentions_relational

    m = extract_mentions_relational(
        _docs_as_transcripts(spark, sf_dir), _oracle_variants(spark), max_tokens=3
    )
    return m.groupBy(
        F.col("conv_id").cast("long").alias("doc_id"), "norm"
    ).agg(F.count("*").alias("n_mentions"))


@register(
    "kg_e2e_relational_sql",
    f"""
    WITH {_SQL_TOKENIZE},
    {_SQL_LINK}
    SELECT DISTINCT CAST(w.doc_id AS VARCHAR) || '#0' AS subj,
           'mentionsLocation' AS pred, CAST(c.canonical AS VARCHAR) AS obj
    FROM winners w JOIN canon c ON w.norm = c.norm
    """,
)
def kg_e2e_relational_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL KG pipeline with the matcher swapped for the
    broadcast-free relational path (M1rel → L1 → L2 → L3 → K1):
    proves the whole flagship runs gazetteer-as-DataFrame end to end,
    against the same DuckDB derivation as kg_e2e_sql."""
    from lnex_spark.operators.extract_relational import extract_mentions_relational
    from lnex_spark.operators.link import (
        apply_canonical,
        canonicalize,
        link_mentions,
        score_candidates,
    )
    from lnex_spark.operators.triples import mention_triples

    variants = _oracle_variants(spark)
    mentions = extract_mentions_relational(
        _docs_as_transcripts(spark, sf_dir), variants, max_tokens=3
    )
    winners = score_candidates(link_mentions(mentions, variants, hint_broadcast=False))
    final = apply_canonical(winners, canonicalize(winners))
    return mention_triples(final).select(
        "subj", "pred", F.col("obj").cast("string").alias("obj")
    )
