"""Second oracle-registry module: SQL-verified checks for the
imperative islands (the Arrow n-gram matcher and the full KG pipeline)
plus relational coverage added after round 1's first pass (as-of join,
sessionization, grouping sets, percentiles, range join, sketches) and
SQL conversions of the md5-deterministic dedup ops.

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
# shared by kg_e2e_sql and the co-mention oracle in oracle_defs3.
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


@register(
    "first_mention_flags",
    f"""
    WITH {_SQL_TOKENIZE}
    SELECT doc_id, norm,
           (row_number() OVER (PARTITION BY doc_id, norm ORDER BY s ASC) = 1) AS is_first
    FROM final
    """,
)
def first_mention_flags_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the stateful first-mention operator
    (streaming/stateful.py), value-checked on the literal-gazetteer
    mention set. Char-offset order equals token-position order, so the
    rank-1 flag matches the SQL side exactly."""
    from lnex_spark.streaming.stateful import first_mention_flags

    m = _oracle_mentions(spark, sf_dir)
    return first_mention_flags(m).select(
        F.col("conv_id").cast("long").alias("doc_id"), "norm", "is_first"
    )


# ======================================================================
# SQL conversions of the md5-deterministic dedup ops (previously
# rows-only): LSH banding and SimHash are both reproducible in DuckDB.
# ======================================================================


@register("dedup_lsh_pairs_sql", _defs1.LSH_PAIRS_SQL)
def dedup_lsh_pairs_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding, value-checked: the engine's band keys are
    md5-over-sorted-minhashes, reproducible in SQL (dedup.py design)."""
    from lnex_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    sigs = minhash_signatures(d.unionByName(dup), k=8, n=3)
    return lsh_candidate_pairs(sigs, bands=4)


@register("dedup_simhash_sql", _defs1.SIMHASH_SQL)
def dedup_simhash_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups, value-checked: md5-derived 64-bit token
    hashes + majority vote + banded Hamming join, re-derived in SQL.
    NOTE the split semantics: str.split() on single spaces with empty
    tokens removed, mirrored by list_filter(string_split(...))."""
    from lnex_spark.operators.dedup import simhash_near_dups, simhash_signatures

    d = _t(spark, sf_dir, "documents").select("doc_id", "text").filter(F.col("doc_id") < 200)
    dup = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 50)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    sigs = simhash_signatures(d.unionByName(dup))
    return simhash_near_dups(sigs, max_hamming=3).select(
        F.col("doc_a"), F.col("doc_b"), F.col("hamming").cast("long").alias("hamming")
    )


@register(
    "embedding_near_dups_exact",
    """
    WITH uni AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200
      UNION ALL
      SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 50
    ),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.embedding AS ea, b.embedding AS eb
      FROM uni a JOIN uni b ON a.vec_id < b.vec_id
    ),
    flat AS (
      SELECT vec_a, vec_b, unnest(ea) AS x, unnest(eb) AS y FROM pairs
    ),
    dots AS (
      SELECT vec_a, vec_b,
             sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
             sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nx,
             sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) AS ny
      FROM flat GROUP BY vec_a, vec_b
    )
    SELECT vec_a, vec_b, round(dot / greatest(nx * ny, 1e-300), 6) AS cosine
    FROM dots WHERE round(dot / greatest(nx * ny, 1e-300), 6) >= 0.95
    """,
)
def embedding_near_dups_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (non-LSH) embedding near-dup pairs on a bounded subset —
    the correctness baseline the LSH path approximates."""
    from lnex_spark.operators.similarity import _as_double, _cosine

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding").filter(F.col("vec_id") < 200)
    dup = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 50)
        .select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    )
    uni = e.unionByName(dup).select("vec_id", _as_double(F.col("embedding")).alias("emb"))
    a, b = uni.alias("a"), uni.alias("b")
    pairs = a.join(b, F.col("a.vec_id") < F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.round(_cosine(F.col("a.emb"), F.col("b.emb")), 6).alias("cosine"),
    )
    return pairs.filter(F.col("cosine") >= 0.95)


# ======================================================================
# Relational coverage: as-of join, sessionization, grouping sets,
# percentiles, range join, sketch sanity
# ======================================================================


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
    SELECT doc_id, norm, geo_ids,
           row_number() OVER (PARTITION BY doc_id ORDER BY s ASC) AS span_rank
    FROM spans
    """,
)
def compat_extract_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compat-API extract contract (full candidate sets per span,
    reference return shape) value-checked on the literal gazetteer.
    Span keys are token positions on the SQL side vs char offsets on
    the Spark side, so the checked columns are the per-span candidate
    payload aggregated per doc — same multiset ⟺ same spans."""
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
        F.col("geo_ids"),
        F.col("_rk").alias("span_rank"),
    )


_ANN_IVF_SQL = """
    WITH cents AS (
      SELECT CAST(vec_id AS INT) AS cell_id, embedding AS cemb
      FROM embeddings ORDER BY vec_id LIMIT 8
    ),
    flat_vc AS (
      SELECT vec_id, cell_id, unnest(embedding) AS x, unnest(cemb) AS y
      FROM embeddings, cents
    ),
    cos_vc AS (
      SELECT vec_id, cell_id,
             round(sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                   / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                    * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 6) AS csim
      FROM flat_vc GROUP BY vec_id, cell_id
    ),
    assigned AS (
      SELECT vec_id, cell_id FROM (
        SELECT vec_id, cell_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell_id ASC) AS rk
        FROM cos_vc) WHERE rk = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cell_id FROM (
        SELECT vec_id, cell_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell_id ASC) AS rk
        FROM cos_vc WHERE vec_id < 5) WHERE rk <= 2
    ),
    cand AS (
      SELECT p.query_id, a.vec_id
      FROM probes p JOIN assigned a ON a.cell_id = p.cell_id
      WHERE a.vec_id != p.query_id
    ),
    flat_qv AS (
      SELECT c.query_id, c.vec_id, unnest(eq.embedding) AS x, unnest(ev.embedding) AS y
      FROM cand c
      JOIN embeddings eq ON eq.vec_id = c.query_id
      JOIN embeddings ev ON ev.vec_id = c.vec_id
    ),
    scored AS (
      SELECT query_id, vec_id,
             round(sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                   / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                    * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 6) AS cosine
      FROM flat_qv GROUP BY query_id, vec_id
    )
    SELECT query_id, vec_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored) WHERE rank <= 5
    """


@register(
    "ann_cosine_ivf",
    _ANN_IVF_SQL,
)
def ann_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k, value-checked: deterministic
    centroids make the whole assign→probe→re-rank path reproducible
    in SQL."""
    from lnex_spark.operators.similarity import cosine_topk_ivf

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    return cosine_topk_ivf(e, q, n_cells=8, nprobe=2, k=5).withColumn(
        "rank", F.col("rank").cast("long")
    )


@register(
    "asof_join_clicks_errors",
    """
    WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    errors_d AS (
      SELECT user_id, ts, max(event_id) AS err_event_id, max_by(value, event_id) AS err_value
      FROM events WHERE event_type = 'error' GROUP BY user_id, ts
    )
    SELECT c.event_id, c.user_id,
           e.err_event_id AS asof_err_event_id,
           round(e.err_value, 4) AS asof_err_value
    FROM clicks c ASOF LEFT JOIN errors_d e
      ON c.user_id = e.user_id AND c.ts >= e.ts
    """,
)
def asof_join_clicks_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of backward join: for each click, the user's most recent
    error at or before it. Spark side = union+window (operators.asof);
    oracle = DuckDB's native ASOF JOIN."""
    from lnex_spark.operators.asof import asof_join_backward

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    errors = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("err_event_id"),
            F.max_by("value", "event_id").alias("err_value"),
        )
    )
    out = asof_join_backward(clicks, errors, on=["user_id"], ts_col="ts")
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_err_event_id"),
        F.round("asof_err_value", 4).alias("asof_err_value"),
    )


@register(
    "sessionize_events",
    """
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, event_id, ts,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS INT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
           max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
    FROM s GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) + per-session rollup."""
    from lnex_spark.operators.sessions import session_stats, sessionize

    ev = _t(spark, sf_dir, "events")
    return session_stats(sessionize(ev, gap_seconds=1800))


@register(
    "grouping_sets_agg",
    """
    SELECT coalesce(l_returnflag, '∅') AS l_returnflag,
           coalesce(l_linestatus, '∅') AS l_linestatus,
           round(sum(l_extendedprice), 2) AS total
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    return li.sparkSession.sql(
        """
        SELECT coalesce(l_returnflag, '∅') AS l_returnflag,
               coalesce(l_linestatus, '∅') AS l_linestatus,
               round(sum(l_extendedprice), 2) AS total
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        """
    )


@register(
    "percentile_prices",
    """
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
           round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.75), 4) AS p75
    FROM orders GROUP BY o_orderpriority
    """,
)
def percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("o_totalprice", F.lit(0.50)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.75)), 4).alias("p75"),
    )


@register(
    "range_join_bins",
    """
    WITH bins(bin_name, lo, hi) AS (VALUES
      ('tiny', 0.0, 10.0), ('small', 10.0, 25.0), ('large', 25.0, 100.0))
    SELECT bin_name, count(*) AS n, round(sum(l_extendedprice), 2) AS total
    FROM lineitem JOIN bins ON l_quantity >= lo AND l_quantity < hi
    GROUP BY bin_name
    """,
)
def range_join_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join against a tiny broadcast bin table — the
    broadcast-nested-loop form that stays cheap because the build side
    is constant-sized."""
    li = _t(spark, sf_dir, "lineitem")
    bins = li.sparkSession.createDataFrame(
        [("tiny", 0.0, 10.0), ("small", 10.0, 25.0), ("large", 25.0, 100.0)],
        "bin_name string, lo double, hi double",
    )
    return (
        li.join(
            F.broadcast(bins),
            (F.col("l_quantity") >= F.col("lo")) & (F.col("l_quantity") < F.col("hi")),
        )
        .groupBy("bin_name")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("total"))
    )


def _kmeans_sql(iters: int = 3, k: int = 8, dim: int = 64, nvec: int = 300) -> str:
    """Unrolled Lloyd iterations as DuckDB CTEs — possible because the
    engine's k-means is deterministic by construction (rounded
    distances/means, id tiebreaks; operators/clustering.py)."""
    blocks = [
        f"""v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings WHERE vec_id < {nvec}
    )""",
        f"""c0 AS (
      SELECT CAST(vec_id AS INT) AS cell_id,
             list_transform(embedding, x -> round(CAST(x AS DOUBLE), 6)) AS cemb
      FROM embeddings ORDER BY vec_id LIMIT {k}
    )""",
    ]
    for j in range(1, iters + 1):
        p = j - 1
        blocks.append(
            f"""f{j} AS (
      SELECT v.vec_id, c.cell_id, unnest(v.emb) AS x, unnest(c.cemb) AS y
      FROM v, c{p} c
    ),
    d{j} AS (
      SELECT vec_id, cell_id, round(sum((x - y) * (x - y)), 6) AS d
      FROM f{j} GROUP BY vec_id, cell_id
    ),
    a{j} AS (
      SELECT vec_id, cell_id FROM (
        SELECT vec_id, cell_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell_id ASC) AS rk
        FROM d{j}) WHERE rk = 1
    ),
    e{j} AS (
      SELECT a.cell_id, u.i, v.emb[u.i] AS val
      FROM a{j} a JOIN v USING (vec_id), (SELECT unnest(range(1, {dim + 1})) AS i) u
    ),
    m{j} AS (SELECT cell_id, i, round(avg(val), 6) AS m FROM e{j} GROUP BY cell_id, i),
    c{j} AS (SELECT cell_id, list(m ORDER BY i) AS cemb FROM m{j} GROUP BY cell_id)"""
        )
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + f"""
    SELECT c.cell_id, n.n_members, c.cemb AS centroid
    FROM c{iters} c JOIN (SELECT cell_id, count(*) AS n_members FROM a{iters} GROUP BY cell_id) n
      USING (cell_id)
    """
    )


@register("kmeans_cells", _kmeans_sql())
def kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative Lloyd's k-means (3 iterations, deterministic init and
    rounding), value-checked against fully-unrolled SQL iterations."""
    from lnex_spark.operators.clustering import kmeans_lloyd

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    centroids, assignment = kmeans_lloyd(e, k=8, iters=3)
    counts = assignment.groupBy("cell_id").agg(F.count("*").alias("n_members"))
    return centroids.join(counts, "cell_id").select(
        "cell_id", "n_members", F.col("cemb").alias("centroid")
    )


@register(
    "array_funcs_stats",
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents
    )
    SELECT doc_id,
           len(list_filter(toks, x -> len(x) > 4)) AS n_long,
           CAST(list_sum(list_transform(toks, x -> len(x))) AS BIGINT) AS total_chars,
           list_max(list_transform(toks, x -> len(x))) AS max_len,
           list_sort(list_distinct(toks[1:3])) AS head_toks
    FROM t
    """,
)
def array_funcs_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (filter / transform / aggregate
    lambdas, slice, distinct, sort) value-checked against DuckDB's
    list_* equivalents."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    return d.select(
        "doc_id",
        F.size(F.filter(toks, lambda t: F.length(t) > 4)).alias("n_long"),
        F.aggregate(
            F.transform(toks, F.length), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("total_chars"),
        F.array_max(F.transform(toks, F.length)).alias("max_len"),
        F.sort_array(F.array_distinct(F.slice(toks, 1, 3))).alias("head_toks"),
    )


@register(
    "join6_local_supplier_revenue",
    """
    SELECT n_name AS nation,
           cast(round(sum(cast(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def join6_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join (two broadcast dims, customer-supplier
    nation-colocation predicate) + hash agg — the join-reordering /
    broadcast-selection stress case."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "approx_distinct_sanity",
    """
    SELECT count(DISTINCT user_id) AS n_exact, true AS approx_within_5pct
    FROM events
    """,
)
def approx_distinct_sanity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL-sketch sanity: approx_count_distinct must land within 5% of
    exact (the sketch itself can't hash-match another engine, so the
    checked value is the tolerance predicate + the exact count).
    rsd=0.01 so the 5% gate is a ~5-sigma margin — the DEFAULT rsd is
    0.05, which makes a 5% tolerance a one-sigma coin flip (it flipped
    at sf0.1's ~1.5k distinct users)."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.countDistinct("user_id").alias("n_exact"),
        (
            F.abs(F.approx_count_distinct("user_id", rsd=0.01) - F.countDistinct("user_id"))
            <= 0.05 * F.countDistinct("user_id")
        ).alias("approx_within_5pct"),
    )


# --- product quantization (Jégou et al., TPAMI 2011) -------------------
# Shared derivation: embeddings quantized to floor(x * 2^20) int64
# (exact — see similarity._pq_quantize), split into M=8 subspaces of 8
# dims, codebook = subvectors of vec_id < 16, every distance an exact
# integer — so DuckDB re-derives codes and ADC distances identically.
_PQ_BASE_SQL = """
    v AS (
      SELECT vec_id,
             [CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT) for x in embedding] AS qv
      FROM embeddings
    ),
    sub AS (
      SELECT v.vec_id, m.m, v.qv[m.m*8+1 : m.m*8+8] AS s
      FROM v, generate_series(0, 7) AS m(m)
    ),
    cb AS (SELECT m, vec_id AS c, s FROM sub WHERE vec_id < 16),
    dist AS (
      SELECT sub.vec_id, sub.m, cb.c,
             CAST(list_sum(list_transform(sub.s, (x, i) -> (x - cb.s[i]) * (x - cb.s[i]))) AS BIGINT) AS d2
      FROM sub JOIN cb USING (m)
    ),
    codes AS (
      SELECT vec_id, m, c AS code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2 ASC, c ASC) AS rk
        FROM dist) WHERE rk = 1
    )
"""


@register(
    "pq_codes_embeddings",
    f"""
    WITH {_PQ_BASE_SQL}
    SELECT vec_id, CAST(m AS INT) AS m, CAST(code AS INT) AS code FROM codes
    """,
)
def pq_codes_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode (similarity.pq_codes): one zero-shuffle Arrow pass,
    codebook broadcast in the UDF closure, exploded (vec_id, m, code)
    output value-checked against the full SQL re-derivation."""
    from lnex_spark.operators.similarity import pq_codes

    return pq_codes(_t(spark, sf_dir, "embeddings"), m_subspaces=8, n_codes=16)


@register(
    "ann_pq_adc",
    f"""
    WITH {_PQ_BASE_SQL},
    dtq AS (
      SELECT q.vec_id AS query_id, q.m, cb.c,
             CAST(list_sum(list_transform(q.s, (x, i) -> (x - cb.s[i]) * (x - cb.s[i]))) AS BIGINT) AS d2
      FROM sub q JOIN cb USING (m) WHERE q.vec_id < 5
    ),
    adc AS (
      SELECT dtq.query_id, codes.vec_id, CAST(sum(dtq.d2) AS BIGINT) AS adc
      FROM codes JOIN dtq ON codes.m = dtq.m AND codes.code = dtq.c
      WHERE codes.vec_id <> dtq.query_id
      GROUP BY dtq.query_id, codes.vec_id
    )
    SELECT query_id, vec_id, adc, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, vec_id ASC) AS rank
      FROM adc) WHERE rank <= 5
    """,
)
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k (similarity.pq_adc_topk): the
    compressed-exhaustive-scan ANN path alongside brute-force / LSH /
    IVF — per-batch top-k inside one Arrow pass, exact-integer ADC
    values identical to the SQL twin."""
    from lnex_spark.operators.similarity import pq_adc_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    return pq_adc_topk(e, q, m_subspaces=8, n_codes=16, k=5)


@register(
    "ann_ivfpq",
    f"""
    WITH {_PQ_BASE_SQL},
    cents AS (
      SELECT CAST(vec_id AS INT) AS cell_id, embedding AS cemb
      FROM embeddings ORDER BY vec_id LIMIT 8
    ),
    flat_vc AS (
      SELECT vec_id, cell_id, unnest(embedding) AS x, unnest(cemb) AS y
      FROM embeddings, cents
    ),
    cos_vc AS (
      SELECT vec_id, cell_id,
             round(sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                   / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                    * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 6) AS csim
      FROM flat_vc GROUP BY vec_id, cell_id
    ),
    assigned AS (
      SELECT vec_id, cell_id FROM (
        SELECT vec_id, cell_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell_id ASC) AS rk
        FROM cos_vc) WHERE rk = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cell_id FROM (
        SELECT vec_id, cell_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell_id ASC) AS rk
        FROM cos_vc WHERE vec_id < 5) WHERE rk <= 2
    ),
    cand AS (
      SELECT p.query_id, a.vec_id
      FROM probes p JOIN assigned a ON a.cell_id = p.cell_id
      WHERE a.vec_id != p.query_id
    ),
    dtq AS (
      SELECT q.vec_id AS query_id, q.m, cb.c,
             CAST(list_sum(list_transform(q.s, (x, i) -> (x - cb.s[i]) * (x - cb.s[i]))) AS BIGINT) AS d2
      FROM sub q JOIN cb USING (m) WHERE q.vec_id < 5
    ),
    adc AS (
      SELECT c.query_id, c.vec_id, CAST(sum(dtq.d2) AS BIGINT) AS adc
      FROM cand c
      JOIN codes ON codes.vec_id = c.vec_id
      JOIN dtq ON dtq.query_id = c.query_id AND dtq.m = codes.m AND dtq.c = codes.code
      GROUP BY c.query_id, c.vec_id
    )
    SELECT query_id, vec_id, adc, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, vec_id ASC) AS rank
      FROM adc) WHERE rank <= 5
    """,
)
def ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition (similarity.ann_ivfpq_topk): IVF cell probing
    restricts candidates, PQ asymmetric distance re-ranks them — coarse
    and fine quantizer both deterministic, the whole composed index
    value-checked against one SQL re-derivation."""
    from lnex_spark.operators.similarity import ann_ivfpq_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    return ann_ivfpq_topk(e, q, n_cells=8, nprobe=2, m_subspaces=8, n_codes=16, k=5)


# ======================================================================
# KG hierarchy closure + rollup (graph.transitive_closure /
# rollup_by_closure): the locatedIn admin hierarchy stood in by a
# deterministic /8 containment tree over part keys (depth ~4-5 at
# sf0.01 — enough to force multiple path-doubling rounds), closure
# value-checked against DuckDB's recursive-CTE fixpoint and the
# rollup against the closure-join re-derivation.
# ======================================================================
_SQL_PART_TREE = """
    edges AS (
      SELECT p_partkey AS child, CAST(floor(p_partkey / 8) AS BIGINT) AS parent
      FROM part WHERE p_partkey >= 1
    ),
    reach(node, ancestor, depth) AS (
      SELECT child, parent, 1 FROM edges
      UNION
      SELECT r.node, e.parent, r.depth + 1
      FROM reach r JOIN edges e ON e.child = r.ancestor
    ),
    closure AS (
      SELECT node, ancestor, min(depth) AS depth FROM reach GROUP BY node, ancestor
    )
"""


def _part_tree_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") >= 1)
    return p.select(
        F.col("p_partkey").alias("child"),
        F.floor(F.col("p_partkey") / 8).cast("long").alias("parent"),
    )


@register(
    "kg_closure",
    f"""
    WITH RECURSIVE
    {_SQL_PART_TREE}
    SELECT node, ancestor, depth FROM closure
    """,
)
def kg_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of a containment hierarchy by path doubling
    (graph.transitive_closure): every (node, ancestor, min-hop depth)
    pair of the admin tree, closed in O(log depth) self-joins — the
    table a 'mentions anywhere inside X' KG query reads."""
    from lnex_spark.operators.graph import transitive_closure

    return transitive_closure(_part_tree_edges(spark, sf_dir))


@register(
    "kg_closure_rollup",
    f"""
    WITH RECURSIVE
    {_SQL_PART_TREE},
    members AS (
      -- explicit DISTINCT: inside WITH RECURSIVE DuckDB compiles a
      -- bare UNION here with append (recursive-union) semantics
      SELECT DISTINCT node FROM (
        SELECT node FROM closure UNION ALL SELECT ancestor FROM closure
      )
    ),
    with_self AS (
      SELECT node, ancestor FROM closure
      UNION ALL SELECT node, node FROM members
    )
    SELECT w.ancestor, count(*) AS n_facts
    FROM (SELECT l_partkey AS node FROM lineitem) f
    JOIN with_self w USING (node)
    GROUP BY w.ancestor
    """,
)
def kg_closure_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy rollup (graph.rollup_by_closure): fact counts per
    ancestor including all descendants — one broadcast join of the
    fact table against the (depth-bounded) closure-with-self, one
    hash aggregation with map-side partials."""
    from lnex_spark.operators.graph import rollup_by_closure, transitive_closure

    closure = transitive_closure(_part_tree_edges(spark, sf_dir))
    facts = _t(spark, sf_dir, "lineitem").select("l_partkey")
    return rollup_by_closure(facts, closure, "l_partkey")


# ======================================================================
# Triple-set MERGE (incremental.merge_triples): existing = distinct
# (custkey, 'ordered', orderkey) triples; the batch exercises all four
# MERGE cases — retract-existing (%10=0), assert-duplicate (%10=1,
# idempotent), assert-new (%10=2, obj+1000000), retract-absent
# (%10=3, no-op) — final state value-checked against a relational
# NOT EXISTS re-derivation.
# ======================================================================
_SQL_MERGE_BASE = """
    existing AS (
      SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS subj, 'ordered' AS pred,
             o_orderkey AS obj
      FROM orders
    ),
    upd AS (
      SELECT CAST(o_custkey AS VARCHAR) AS subj, 'ordered' AS pred,
             o_orderkey AS obj, 'retract' AS op
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT CAST(o_custkey AS VARCHAR), 'ordered', o_orderkey, 'assert'
      FROM orders WHERE o_orderkey % 10 = 1
      UNION ALL
      SELECT CAST(o_custkey AS VARCHAR), 'ordered', o_orderkey + 1000000, 'assert'
      FROM orders WHERE o_orderkey % 10 = 2
      UNION ALL
      SELECT CAST(o_custkey AS VARCHAR), 'ordered', o_orderkey + 5000000, 'retract'
      FROM orders WHERE o_orderkey % 10 = 3
    ),
    resolved AS (
      SELECT subj, pred, obj,
             max(CASE WHEN op = 'assert' THEN 1 ELSE 0 END) AS is_assert
      FROM upd GROUP BY subj, pred, obj
    )
"""


def _merge_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    o = _t(spark, sf_dir, "orders")
    subj = F.col("o_custkey").cast("string").alias("subj")
    pred = F.lit("ordered").alias("pred")
    existing = o.select(subj, pred, F.col("o_orderkey").alias("obj")).distinct()
    k = F.col("o_orderkey") % 10
    upd = (
        o.filter(k == 0).select(subj, pred, F.col("o_orderkey").alias("obj"), F.lit("retract").alias("op"))
        .unionByName(o.filter(k == 1).select(subj, pred, F.col("o_orderkey").alias("obj"), F.lit("assert").alias("op")))
        .unionByName(o.filter(k == 2).select(subj, pred, (F.col("o_orderkey") + 1000000).alias("obj"), F.lit("assert").alias("op")))
        .unionByName(o.filter(k == 3).select(subj, pred, (F.col("o_orderkey") + 5000000).alias("obj"), F.lit("retract").alias("op")))
    )
    return existing, upd


@register(
    "kg_merge_incremental",
    f"""
    WITH {_SQL_MERGE_BASE}
    SELECT e.subj, e.pred, e.obj FROM existing e
    WHERE NOT EXISTS (
      SELECT 1 FROM resolved r
      WHERE r.subj = e.subj AND r.pred = e.pred AND r.obj = e.obj)
    UNION ALL
    SELECT subj, pred, obj FROM resolved WHERE is_assert = 1
    """,
)
def kg_merge_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assert/retract MERGE into the triple set (broadcast-anti plan:
    the big table is never shuffled), value-checked against the
    relational NOT-EXISTS re-derivation of the final state."""
    from lnex_spark.operators.incremental import merge_triples

    existing, upd = _merge_inputs(spark, sf_dir)
    return merge_triples(existing, upd)
