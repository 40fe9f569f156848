"""Registered (Spark, DuckDB-SQL) operator pairs — see oracles.py.

Each op re-expresses one SURVEY.md §2A operator over the sf testdata
tables. Spark sides call the engine's operator implementations
wherever one exists, so the oracle exercises real engine code. Pairs share exact column names/aliases;
floats are rounded identically on both sides before hashing; ranking
always orders on the rounded value with an id tiebreak so row sets
are bit-comparable.

Ops registered WITHOUT SQL are the genuinely non-relational islands
(broadcast match structure, Arrow matcher, salting, resumable
checkpointing) → they get rows-only checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ======================================================================
# KG-pipeline operators (SURVEY.md §2A)
# ======================================================================


# --- G2 name_normalize -------------------------------------------------
@register(
    "g2_name_normalize",
    """
    SELECT p_partkey,
           trim(regexp_replace(regexp_replace(lower(p_name), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
    FROM part
    """,
)
def g2_name_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(F.col("p_name")), r"[^a-z0-9 ]", " "), r" +", " ")
    )
    return p.select("p_partkey", norm.alias("norm"))


# --- G3 altname_explode: every name variant becomes its own row --------
@register(
    "g3_altname_explode",
    """
    SELECT p_partkey, unnest([p_name, p_brand, p_type]) AS variant
    FROM part
    """,
)
def g3_altname_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.explode(F.array(F.col("p_name"), F.col("p_brand"), F.col("p_type"))).alias("variant"),
    )


# --- G5 gaz_filter: noise predicates + stopword anti-join ---------------
@register(
    "g5_gaz_filter",
    """
    WITH toks AS (
      SELECT p_partkey, unnest(string_split(lower(p_name), ' ')) AS tok FROM part
    )
    SELECT p_partkey, tok FROM toks
    WHERE len(tok) > 0 AND NOT regexp_matches(tok, '^[0-9]+$')
      AND tok NOT IN ('almond','antique','aquamarine','azure','beige','bisque','black','blanched')
    """,
)
def g5_gaz_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    stop = spark.createDataFrame(
        [(w,) for w in ["almond", "antique", "aquamarine", "azure", "beige", "bisque", "black", "blanched"]],
        "tok string",
    )
    toks = p.select("p_partkey", F.explode(F.split(F.lower("p_name"), " ")).alias("tok"))
    toks = toks.filter((F.length("tok") > 0) & (~F.col("tok").rlike(r"^[0-9]+$")))
    return toks.join(F.broadcast(stop), on="tok", how="left_anti")


# --- G6 unigram_lm: token frequency counts ------------------------------
@register(
    "g6_unigram_lm",
    """
    SELECT tok AS word, count(*) AS freq
    FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok FROM documents)
    WHERE len(tok) > 0
    GROUP BY tok
    """,
)
def g6_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word"))
    return toks.filter(F.length("word") > 0).groupBy("word").agg(F.count("*").alias("freq"))


# --- T1 turn_order: ranking window over a skewed stream ----------------
@register(
    "t1_turn_order",
    """
    SELECT user_id, event_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS turn_rank
    FROM events
    """,
)
def t1_turn_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return e.select("user_id", "event_id", F.row_number().over(w).alias("turn_rank"))


# --- T2 preprocess: tweet-style regex cleanup ---------------------------
@register(
    "t2_preprocess",
    """
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
                'https?://[^ ]+|www\\.[^ ]+', ' ', 'g'),
                '@[a-z0-9_]+', ' ', 'g'),
                '\\s+', ' ', 'g')) AS clean_text
    FROM documents
    """,
)
def t2_preprocess(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    c = F.lower(F.col("text"))
    c = F.regexp_replace(c, r"https?://[^ ]+|www\.[^ ]+", " ")
    c = F.regexp_replace(c, r"@[a-z0-9_]+", " ")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return d.select("doc_id", c.alias("clean_text"))


# --- T3 hashtag_segment (rows-only: Viterbi over broadcast LM) ----------
T3_SEGMENT_SQL = r"""
    WITH lm AS (
      SELECT tok AS w, count(*) AS c
      FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok FROM documents)
      WHERE len(tok) > 0 GROUP BY tok
    ),
    tot AS (SELECT sum(c) AS t FROM lm),
    tags AS (
      SELECT doc_id,
             list_extract(string_split_regex(lower(trim(text)), '\s+'), 1)
          || list_extract(string_split_regex(lower(trim(text)), '\s+'), 2) AS body
      FROM documents
      WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 2
    ),
    splits AS (
      SELECT doc_id, body, i,
             substr(body, 1, CAST(i AS INT)) AS head,
             substr(body, CAST(i AS INT) + 1) AS tail
      FROM (SELECT doc_id, body, unnest(range(1, len(body))) AS i FROM tags)
    ),
    cand AS (
      SELECT g.doc_id, g.body, 0 AS i, g.body AS seg,
             CASE WHEN w0.c IS NOT NULL THEN w0.c * 1.0 / t
                  ELSE 10.0 / (t * power(10, len(g.body))) END AS score
      FROM tags g CROSS JOIN tot LEFT JOIN lm w0 ON w0.w = g.body
      UNION ALL
      SELECT s.doc_id, s.body, CAST(s.i AS INT) AS i, s.head || ' ' || s.tail AS seg,
             (CASE WHEN h.c IS NOT NULL THEN h.c * 1.0 / t
                   ELSE 10.0 / (t * power(10, len(s.head))) END)
           * (CASE WHEN tl.c IS NOT NULL THEN tl.c * 1.0 / t
                   ELSE 10.0 / (t * power(10, len(s.tail))) END) AS score
      FROM splits s CROSS JOIN tot
      LEFT JOIN lm h  ON h.w  = s.head
      LEFT JOIN lm tl ON tl.w = s.tail
    )
    SELECT doc_id, '#' || body AS hashtag, seg AS segmented FROM (
      SELECT doc_id, body, seg,
             row_number() OVER (PARTITION BY doc_id, body
                                ORDER BY score DESC, i ASC) AS rk
      FROM cand) WHERE rk = 1
    """


@register("t3_hashtag_segment", T3_SEGMENT_SQL)
def t3_hashtag_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment synthetic hashtags built from document token pairs.

    Value-checked since round 2 (was rows-only): the twin SQL argmax
    in oracle_defs2 (see t3_hashtag_segment_sql's soundness argument)
    is attached here too; the only Spark-side change is the explicit
    size >= 2 guard the SQL side always had."""
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


# --- G7 match_struct (rows-only: broadcast structure contents) ----------
@register("g7_match_struct")
def g7_match_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.data import fixtures as FX
    from lnex_spark.gazetteer.build import build_match_struct, build_unigram, build_variants

    variants = build_variants(FX.gen_gazetteer("chennai"), set(FX.gen_stopwords()))
    st = build_match_struct((v[0] for v in variants), build_unigram(variants))
    rows = [(n, len(n.split(" ")), n in st.prefixes) for n in sorted(st.full_names)]
    return spark.createDataFrame(rows, "norm string, n_tokens int, is_own_prefix boolean")


# --- M1 ngram_match (rows-only: the Arrow matcher island) ---------------
@register("m1_ngram_match")
def m1_ngram_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.data import fixtures as FX
    from lnex_spark.data.derive import transcripts_from_documents
    from lnex_spark.gazetteer.build import build_match_struct, build_unigram, build_variants
    from lnex_spark.operators.extract import extract_mentions_df

    docs = _t(spark, sf_dir, "documents")
    transcripts = transcripts_from_documents(docs, "chennai")
    variants = build_variants(FX.gen_gazetteer("chennai"), set(FX.gen_stopwords()))
    st = build_match_struct((v[0] for v in variants), build_unigram(variants, FX.gen_wordlist()))
    return extract_mentions_df(transcripts, spark.sparkContext.broadcast(st))


# --- M2 overlap_resolve (relational containment form) -------------------
@register(
    "m2_overlap_resolve",
    """
    WITH spans AS (
      SELECT l_orderkey AS grp, l_linenumber AS start,
             l_linenumber + CAST(l_quantity AS BIGINT) % 7 + 1 AS "end"
      FROM lineitem
    ), d AS (SELECT DISTINCT grp, start, "end" FROM spans)
    SELECT x.grp, x.start, x."end" FROM d x
    WHERE NOT EXISTS (
      SELECT 1 FROM d y
      WHERE y.grp = x.grp AND y.start <= x.start AND y."end" >= x."end"
        AND (y."end" - y.start) > (x."end" - x.start)
    )
    """,
)
def m2_overlap_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    spans = li.select(
        F.col("l_orderkey").alias("grp"),
        F.col("l_linenumber").alias("start"),
        (F.col("l_linenumber") + F.col("l_quantity").cast("long") % 7 + 1).alias("end"),
    ).distinct()
    x, y = spans.alias("x"), spans.alias("y")
    contained = (
        (F.col("y.grp") == F.col("x.grp"))
        & (F.col("y.start") <= F.col("x.start"))
        & (F.col("y.end") >= F.col("x.end"))
        & ((F.col("y.end") - F.col("y.start")) > (F.col("x.end") - F.col("x.start")))
    )
    return x.join(y, contained, "left_anti").select("grp", "start", "end")


# --- L1 entity_link: broadcast hash equi-join ---------------------------
@register(
    "l1_entity_link",
    """
    SELECT c_custkey, c_name, n_name AS nation
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    """,
)
def l1_entity_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", "c_name", F.col("n_name").alias("nation")
    )


# --- L2 link_score: deterministic best-candidate ranking ----------------
@register(
    "l2_link_score",
    """
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      FROM orders
    ) WHERE rk = 1
    """,
)
def l2_link_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


# --- L3 canonicalize: two-stage majority vote ----------------------------
@register(
    "l3_canonicalize",
    """
    SELECT o_custkey, o_orderpriority AS canonical FROM (
      SELECT o_custkey, o_orderpriority, count(*) AS votes,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY count(*) DESC, o_orderpriority ASC) AS rk
      FROM orders GROUP BY o_custkey, o_orderpriority
    ) WHERE rk = 1
    """,
)
def l3_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    votes = o.groupBy("o_custkey", "o_orderpriority").agg(F.count("*").alias("votes"))
    w = Window.partitionBy("o_custkey").orderBy(F.col("votes").desc(), F.col("o_orderpriority").asc())
    return (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("o_custkey", F.col("o_orderpriority").alias("canonical"))
    )


# --- K1 triple_emit ------------------------------------------------------
@register(
    "k1_triple_emit",
    """
    SELECT CAST(user_id AS VARCHAR) || '#' || CAST(event_id AS VARCHAR) AS subj,
           'performedEvent' AS pred, event_type AS obj
    FROM events
    """,
)
def k1_triple_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.select(
        F.concat_ws("#", F.col("user_id"), F.col("event_id")).alias("subj"),
        F.lit("performedEvent").alias("pred"),
        F.col("event_type").alias("obj"),
    )


# --- X1 geo_math: haversine + bbox test ----------------------------------
@register(
    "x1_geo_math",
    """
    WITH pts AS (
      SELECT c_custkey,
             (c_custkey % 170) - 85 + 0.25 AS lat, (c_custkey % 350) - 175 + 0.5 AS lon
      FROM customer
    )
    SELECT c_custkey,
           round(2 * 6371.0 * asin(sqrt(
             pow(sin(radians(13.0827 - lat) / 2), 2) +
             cos(radians(lat)) * cos(radians(13.0827)) *
             pow(sin(radians(80.2707 - lon) / 2), 2))), 4) AS dist_km,
           (lat BETWEEN 0 AND 45) AND (lon BETWEEN 60 AND 100) AS in_bbox
    FROM pts
    """,
)
def x1_geo_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.geomath import haversine_km, in_bbox

    c = _t(spark, sf_dir, "customer")
    pts = c.select(
        "c_custkey",
        ((F.col("c_custkey") % 170) - 85 + 0.25).alias("lat"),
        ((F.col("c_custkey") % 350) - 175 + 0.5).alias("lon"),
    )
    return pts.select(
        "c_custkey",
        F.round(haversine_km(F.col("lat"), F.col("lon"), F.lit(13.0827), F.lit(80.2707)), 4).alias("dist_km"),
        in_bbox(F.col("lat"), F.col("lon"), [0.0, 60.0, 45.0, 100.0]).alias("in_bbox"),
    )


# --- X2 skew_salt (rows-only: salted partition balance) ------------------
@register("x2_skew_salt")
def x2_skew_salt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.data.derive import transcripts_from_documents
    from lnex_spark.operators.skew import salt_repartition

    docs = _t(spark, sf_dir, "documents")
    t = transcripts_from_documents(docs, "chennai")
    salted = salt_repartition(t, 16)
    return (
        salted.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.count("*").alias("n_turns"), F.countDistinct("conv_id").alias("n_convs"))
        .orderBy("pid")
    )


# --- X3 checkpoint_lineage (rows-only: manifest of a resumable run) ------
@register("x3_checkpoint_lineage")
def x3_checkpoint_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from lnex_spark.data import fixtures as FX
    from lnex_spark.data.derive import transcripts_from_documents
    from lnex_spark.gazetteer.build import GAZETTEER_SCHEMA
    from lnex_spark.pipeline import build_gazetteer, run_resumable

    docs = _t(spark, sf_dir, "documents")
    t = transcripts_from_documents(docs, "chennai")
    gaz = spark.createDataFrame(FX.gen_gazetteer("chennai"), GAZETTEER_SCHEMA)
    stop = spark.createDataFrame([(w,) for w in FX.gen_stopwords()], "word string")
    wl = spark.createDataFrame(FX.gen_wordlist(), "word string, freq long")
    model = build_gazetteer(spark, gaz, stop, wl)
    with tempfile.TemporaryDirectory() as tmp:
        run_resumable(spark, t, model, f"{tmp}/winners", f"{tmp}/manifest", n_buckets=4)
        m = spark.read.parquet(f"{tmp}/manifest").select("bucket", "batch_id").orderBy("bucket")
        m = spark.createDataFrame(m.collect(), "bucket int, batch_id string")
    return m


# --- E1 eval_pr: precision/recall arithmetic -----------------------------
@register(
    "e1_eval_pr",
    """
    WITH emitted AS (SELECT DISTINCT o_orderkey FROM orders WHERE o_totalprice > 150000),
         gold AS (SELECT DISTINCT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'),
         tp AS (SELECT count(*) AS n FROM emitted JOIN gold USING (o_orderkey))
    SELECT round(tp.n * 1.0 / (SELECT count(*) FROM emitted), 6) AS precision,
           round(tp.n * 1.0 / (SELECT count(*) FROM gold), 6) AS recall
    FROM tp
    """,
)
def e1_eval_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    emitted = o.filter(F.col("o_totalprice") > 150000).select("o_orderkey").distinct()
    gold = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey").distinct()
    tp = emitted.join(gold, "o_orderkey").count()
    return spark.createDataFrame(
        [(round(tp / emitted.count(), 6), round(tp / gold.count(), 6))],
        "precision double, recall double",
    )


# --- flagship (rows-only): full KG pipeline on derived transcripts -------
@register("flagship_kg_triples")
def flagship_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.data import fixtures as FX
    from lnex_spark.data.derive import transcripts_from_documents
    from lnex_spark.gazetteer.build import GAZETTEER_SCHEMA
    from lnex_spark.pipeline import run_pipeline

    docs = _t(spark, sf_dir, "documents")
    t = transcripts_from_documents(docs, "chennai")
    gaz = spark.createDataFrame(FX.gen_gazetteer("chennai"), GAZETTEER_SCHEMA)
    stop = spark.createDataFrame([(w,) for w in FX.gen_stopwords()], "word string")
    wl = spark.createDataFrame(FX.gen_wordlist(), "word string, freq long")
    m, _ = run_pipeline(spark, t, gaz, stop, wl, salt_partitions=8)
    return m


# ======================================================================
# Round-2 additions: dedicated driver-visible checks for the four §2A
# ops the round-1 verdict listed as "exercised only indirectly"
# (G1 gaz_scan, G4 skipgram_augment, M3 offset_align, K2 graph_write).
# Each exercises the REAL engine code path, not a re-derivation.
# ======================================================================


# --- G1 gaz_scan: bbox-scoped gazetteer scan (engine scan_gazetteer) ----
@register(
    "g1_gaz_scan",
    """
    WITH gaz AS (
      SELECT c_custkey AS geo_id, c_name AS name,
             -- CAST: int + decimal literal is DECIMAL in DuckDB, whose
             -- trailing-zero rendering diverges from Spark's DOUBLE
             CAST((c_custkey % 170) - 85 + 0.25 AS DOUBLE) AS lat,
             CAST((c_custkey % 350) - 175 + 0.5 AS DOUBLE) AS lon
      FROM customer
    )
    SELECT geo_id, name, lat, lon FROM gaz
    WHERE lat BETWEEN 0 AND 45 AND lon BETWEEN 60 AND 100
    """,
)
def g1_gaz_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 via the engine's scan_gazetteer (gazetteer/build.py) — bbox
    predicate over a gazetteer-shaped table (reference semantics:
    LNEx/osm_gazetteer.py build_bb_gazetteer ES range query; here a
    pruned columnar scan).  Synthetic lat/lon are exact binary
    fractions (x.25 / y.5) so the float hash cannot diverge."""
    from lnex_spark.gazetteer.build import scan_gazetteer

    c = _t(spark, sf_dir, "customer")
    gaz = c.select(
        F.col("c_custkey").alias("geo_id"),
        F.col("c_name").alias("name"),
        ((F.col("c_custkey") % 170) - 85 + F.lit(0.25)).alias("lat"),
        ((F.col("c_custkey") % 350) - 175 + F.lit(0.5)).alias("lon"),
    )
    return scan_gazetteer(spark, gaz, bbox=[0.0, 60.0, 45.0, 100.0]).select(
        "geo_id", "name", "lat", "lon"
    )


# --- G4 skipgram_augment: the real variants pandas UDF, value-checked ---
def _g4_sql() -> str:
    from lnex_spark.gazetteer.augment import (
        CATEGORY_WORDS,
        MODIFIER_WORDS,
        NAME_STOPWORDS,
    )

    removable = ", ".join(
        f"'{w}'" for w in sorted(CATEGORY_WORDS | MODIFIER_WORDS | NAME_STOPWORDS)
    )
    return f"""
    WITH base AS (
      SELECT p_partkey, list_extract(string_split(lower(p_name), ' '), 1) AS tok
      FROM part
    ),
    ok AS (SELECT * FROM base WHERE tok NOT IN ({removable}))
    SELECT p_partkey,
           unnest(CASE WHEN p_partkey % 2 = 0
                  THEN [tok, tok || ' airport', tok || ' international']
                  ELSE [tok, 'the ' || tok, tok || ' mall'] END) AS variant
    FROM ok
    """


@register("g4_skipgram_augment", _g4_sql())
def g4_skipgram_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 via augment.name_variants, the augmentation the engine's
    gazetteer build runs on the driver (gazetteer/build.build_variants;
    reference: LNEx/gaz_augmentation_and_filtering.py per SURVEY §0).
    Names are constructed with a known removable-token shape
    ("<tok> international airport" / "the <tok> mall") whose full HP
    variant set is enumerable in SQL; lead tokens that are themselves
    removable are excluded on BOTH sides with the same literal list,
    so the subset semantics line up exactly."""
    from lnex_spark.gazetteer.augment import (
        CATEGORY_WORDS,
        MODIFIER_WORDS,
        NAME_STOPWORDS,
        name_variants,
    )

    removable = sorted(CATEGORY_WORDS | MODIFIER_WORDS | NAME_STOPWORDS)
    p = _t(spark, sf_dir, "part")
    base = p.select(
        "p_partkey", F.element_at(F.split(F.lower("p_name"), " "), 1).alias("tok")
    ).filter(~F.col("tok").isin(removable))
    norm = F.when(
        F.col("p_partkey") % 2 == 0,
        F.concat_ws(" ", F.col("tok"), F.lit("international airport")),
    ).otherwise(F.concat_ws(" ", F.lit("the"), F.col("tok"), F.lit("mall")))
    names = base.select("p_partkey", norm.alias("norm")).collect()
    rows = [(r.p_partkey, v) for r in names for v in sorted(name_variants(r.norm, "hp"))]
    return spark.createDataFrame(rows, "p_partkey long, variant string")


# --- M3 offset_align: engine tokenizer spans vs independent SQL offsets --
@register(
    "m3_offset_align",
    r"""
    WITH c AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z]', ' ', 'g'),
                  ' +', ' ', 'g')) AS clean
      FROM documents
    ),
    t AS (
      SELECT doc_id,
             unnest(string_split(clean, ' ')) AS token,
             generate_subscripts(string_split(clean, ' '), 1) AS i
      FROM c WHERE len(clean) > 0
    ),
    o AS (
      SELECT doc_id, token, i,
             CAST(coalesce(sum(len(token) + 1) OVER (
                 PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)
               AS tok_start
      FROM t
    )
    SELECT doc_id, token, tok_start,
           CAST(tok_start + len(token) AS INT) AS tok_end
    FROM o WHERE token <> 'rt'
    """,
)
def m3_offset_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: character-offset alignment of the REAL tokenizer
    (textproc.build_token_stream — the same spans the matcher reports;
    reference: LNEx/tokenizer.py span bookkeeping).  Input is
    constrained to [a-z ]+ single-spaced text so an independent SQL
    cumulative-length derivation predicts every span; the engine's
    'rt' skip-word becomes a break token and is excluded on both
    sides.  Value-checks start/end for every token of every doc."""
    import pandas as pd

    from lnex_spark.operators.textproc import build_token_stream

    d = _t(spark, sf_dir, "documents")
    clean = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower("text"), "[^a-z]", " "), " +", " ")
    )
    src = d.select("doc_id", clean.alias("clean")).filter(F.length("clean") > 0)

    def gen(batches):
        for pdf in batches:
            rows = {"doc_id": [], "token": [], "tok_start": [], "tok_end": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["clean"]):
                for norm, start, end, is_break, _g in build_token_stream(text, None):
                    if not is_break:
                        rows["doc_id"].append(doc_id)
                        rows["token"].append(norm)
                        rows["tok_start"].append(start)
                        rows["tok_end"].append(end)
            out = pd.DataFrame(rows)
            yield out.astype(
                {"doc_id": "int64", "tok_start": "int32", "tok_end": "int32"}
            )

    return src.mapInPandas(
        gen, "doc_id long, token string, tok_start int, tok_end int"
    )


# --- K2 graph_write: partitioned write + readback, value-checked ---------
@register(
    "k2_graph_write",
    """
    SELECT CAST(user_id AS VARCHAR) || '#' || CAST(event_id AS VARCHAR) AS subj,
           'performedEvent' AS pred, event_type AS obj
    FROM events
    UNION ALL
    SELECT CAST(s_suppkey AS VARCHAR) AS subj, 'inNation' AS pred,
           CAST(s_nationkey AS VARCHAR) AS obj
    FROM supplier
    """,
)
def k2_graph_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 via the engine's write_triples (operators/triples.py →
    sources/tableformat.write_table: pred-partitioned parquet locally,
    Iceberg on a cluster).  The check is write-then-READBACK: the
    returned rows are read from the materialized table, so the oracle
    verifies the partitioned write round-trips every triple byte-for-
    byte (partition-column restore included), not just the pre-write
    DataFrame."""
    import os
    import tempfile

    from lnex_spark.operators.triples import write_triples

    e = _t(spark, sf_dir, "events")
    s = _t(spark, sf_dir, "supplier")
    t1 = e.select(
        F.concat_ws("#", "user_id", "event_id").alias("subj"),
        F.lit("performedEvent").alias("pred"),
        F.col("event_type").alias("obj"),
    )
    t2 = s.select(
        F.col("s_suppkey").cast("string").alias("subj"),
        F.lit("inNation").alias("pred"),
        F.col("s_nationkey").cast("string").alias("obj"),
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"lnex_k2_graph_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    write_triples(t1.unionByName(t2), path, partition_cols=["pred"], mode="overwrite")
    return spark.read.parquet(path).select("subj", "pred", "obj")
