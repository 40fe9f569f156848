"""Fifty-fourth oracle-registry module: collaborative filtering,
network assortativity, and LM domain transfer.

  * item_cf_events — item-item collaborative filtering over implicit
    feedback: baskets are (user, day), items the props.k payload
    folded to 20 ids, similarity = co-occurrence cosine
    cooc/sqrt(pop_a*pop_b), top-3 neighbors per item.  The classic
    recsys primitive: one self-join on the basket key (co-partitioned,
    item-pair cardinality bounded by items², not baskets), then a
    keyed top-k window over the tiny similarity table.

  * assortativity_events — degree assortativity of the hour-bucket
    user co-occurrence graph (same edge construction as the verified
    LPA/modularity/triangle ops): Pearson correlation of endpoint
    degrees over all directed edges, in raw-moment form.  Positive r
    = hubs link to hubs; the network-structure diagnostic behind
    skew expectations for graph-shuffle stages.

  * lm_transfer_docs — domain-transfer scoring: an add-one-smoothed
    unigram LM trained on the ENGLISH slice only (vocabulary floor =
    the union vocabulary across languages, so unseen tokens are
    well-defined), then per-language average cross-entropy.  The
    quantified form of "how out-of-domain is corpus B for a model of
    corpus A".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# item_cf_events
# ---------------------------------------------------------------------------

_CF_SQL = """
    WITH fb AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day,
             CAST(json_extract(props, '$.k') AS INTEGER) % 20 AS item
      FROM events
    ),
    pop AS (SELECT item, COUNT(*) AS pop FROM fb GROUP BY item),
    cooc AS (
      SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS c
      FROM fb a JOIN fb b
        ON a.user_id = b.user_id AND a.day = b.day AND a.item <> b.item
      GROUP BY a.item, b.item
    ),
    sims AS (
      SELECT c.item_a, c.item_b,
             ROUND(c.c / sqrt(pa.pop * 1.0 * pb.pop), 6) AS sim
      FROM cooc c
      JOIN pop pa ON pa.item = c.item_a
      JOIN pop pb ON pb.item = c.item_b
    )
    SELECT item_a, item_b, sim, rk FROM (
      SELECT item_a, item_b, sim,
             row_number() OVER (PARTITION BY item_a ORDER BY sim DESC, item_b) AS rk
      FROM sims)
    WHERE rk <= 3
"""


@register("item_cf_events", _CF_SQL)
def item_cf_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    fb = ev.select(
        "user_id",
        F.date_trunc("day", "ts").alias("day"),
        (F.get_json_object("props", "$.k").cast("int") % 20).alias("item"),
    ).distinct()
    pop = fb.groupBy("item").agg(F.count("*").alias("pop"))
    a, b = fb.alias("a"), fb.alias("b")
    cooc = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.day") == F.col("b.day"))
            & (F.col("a.item") != F.col("b.item")),
        )
        .groupBy(F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b"))
        .agg(F.count("*").alias("c"))
    )
    sims = (
        cooc.join(pop.withColumnRenamed("item", "item_a").withColumnRenamed("pop", "pa"), "item_a")
        .join(pop.withColumnRenamed("item", "item_b").withColumnRenamed("pop", "pb"), "item_b")
        .select(
            "item_a",
            "item_b",
            F.round(F.col("c") / F.sqrt(F.col("pa") * 1.0 * F.col("pb")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("item_a").orderBy(F.desc("sim"), "item_b")
    return (
        sims.select("item_a", "item_b", "sim", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 3)
    )


# ---------------------------------------------------------------------------
# assortativity_events
# ---------------------------------------------------------------------------

_ASSORT_SQL = """
    WITH ev AS (
      SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hb
      FROM events WHERE user_id < 40
    ),
    e0 AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM ev a JOIN ev b
        ON a.event_type = b.event_type AND a.hb = b.hb AND a.user_id < b.user_id
    ),
    und AS (SELECT u AS a, v AS b FROM e0 UNION SELECT v, u FROM e0),
    deg AS (SELECT a AS node, COUNT(*) AS d FROM und GROUP BY a),
    pairs AS (
      SELECT da.d * 1.0 AS x, db.d * 1.0 AS y
      FROM und JOIN deg da ON und.a = da.node JOIN deg db ON und.b = db.node
    )
    SELECT CAST(COUNT(*) / 2 AS BIGINT) AS n_edges,
           ROUND((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
                 / sqrt((COUNT(*) * SUM(x * x) - SUM(x) * SUM(x))
                        * (COUNT(*) * SUM(y * y) - SUM(y) * SUM(y))), 6) AS assortativity
    FROM pairs
"""


@register("assortativity_events", _ASSORT_SQL)
def assortativity_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 40)
        .select("user_id", "event_type", F.date_trunc("hour", "ts").alias("hb"))
        .distinct()
    )
    a, b = ev.alias("a"), ev.alias("b")
    e0 = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.hb") == F.col("b.hb"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
    )
    und = e0.select(F.col("u").alias("a"), F.col("v").alias("b")).union(
        e0.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = und.groupBy(F.col("a").alias("node")).agg(F.count("*").alias("d"))
    pairs = (
        und.join(deg.withColumnRenamed("node", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("d", "db"), "b")
        .select((F.col("da") * 1.0).alias("x"), (F.col("db") * 1.0).alias("y"))
    )
    n = F.count("*")
    num = n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")
    den = F.sqrt(
        (n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x"))
        * (n * F.sum(F.col("y") * F.col("y")) - F.sum("y") * F.sum("y"))
    )
    return pairs.agg(
        (F.count("*") / 2).cast("long").alias("n_edges"),
        F.round(num / den, 6).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# lm_transfer_docs
# ---------------------------------------------------------------------------

_TRANSFER_SQL = r"""
    WITH toks AS (
      SELECT lang, t AS tok
      FROM (SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
            FROM documents)
      WHERE len(t) > 0
    ),
    en_counts AS (
      SELECT tok, COUNT(*) AS c FROM toks WHERE lang = 'en' GROUP BY tok
    ),
    en_total AS (SELECT SUM(c) AS n_en FROM en_counts),
    vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM toks)
    SELECT t.lang,
           COUNT(*) AS n_tokens,
           ROUND(AVG(-log2((COALESCE(e.c, 0) + 1.0) / (n_en + v))), 6) AS xent
    FROM toks t
    LEFT JOIN en_counts e ON e.tok = t.tok
    CROSS JOIN en_total CROSS JOIN vocab
    GROUP BY t.lang
"""


@register("lm_transfer_docs", _TRANSFER_SQL)
def lm_transfer_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = (
        d.select("lang", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok"))
        .filter(F.length("tok") > 0)
    )
    en_counts = toks.filter(F.col("lang") == "en").groupBy("tok").agg(F.count("*").alias("c"))
    en_total = en_counts.agg(F.sum("c").alias("n_en"))
    vocab = toks.agg(F.countDistinct("tok").alias("v"))
    return (
        toks.join(en_counts, "tok", "left")
        .crossJoin(en_total)
        .crossJoin(vocab)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.avg(
                    -F.log2((F.coalesce(F.col("c"), F.lit(0)) + 1.0) / (F.col("n_en") + F.col("v")))
                ),
                6,
            ).alias("xent"),
        )
    )
