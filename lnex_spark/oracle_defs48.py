"""Forty-eighth oracle-registry module: count-min sketch, ROC AUC,
and per-domain quota capping.

  * countmin_events — a COUNT-MIN SKETCH (d=3 rows x w=64 buckets,
    md5-derived hash functions) over composite (user, event_type)
    keys, then the point-query estimate min_i(sketch[i][h_i(key)])
    for the top heavy hitters, side by side with the true counts.
    The sketch itself is one fixed-size hash aggregate (192 cells
    regardless of key cardinality — the property that makes it a
    100 TB heavy-hitter pass: shuffle volume is d*w, not ndv), and
    the estimate join is against a broadcastable 192-row table.
    The value check covers the whole derivation on both engines;
    the est >= true one-sided-error invariant is additionally
    asserted as a column.

  * auc_nchars_en_docs — rank-based ROC AUC (Mann-Whitney U with
    average-rank tie handling) of `n_chars` as a score for the
    label lang='en'.  Entirely relational: per-distinct-score
    positive/negative counts, cumulative ranks via one ordered
    window over the DISTINCT-score table (bounded by score
    cardinality, not row count).  The classifier-eval primitive a
    quality-filter deployment runs before trusting a threshold.

  * domain_cap_docs — deterministic per-domain quota: keep at most
    20 documents per language, chosen by md5('cap-v1#'||doc_id)
    order — the domain-cap curation step (e.g. limiting any one
    source's share of a training mix), stable across engines,
    reruns, and repartitioning like the other md5-gated ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# countmin_events
# ---------------------------------------------------------------------------

_CM_D = 3
_CM_W = 64


def _cm_bucket_spark(key, i: int):
    h = F.md5(F.concat(F.lit(f"cm{i}#"), key))
    return F.pmod(F.conv(F.substring(h, 1, 4), 16, 10).cast("long"), F.lit(_CM_W))


def _cm_bucket_sql(key: str, i: int) -> str:
    return (
        f"CAST(('0x' || substr(md5('cm{i}#' || {key}), 1, 4)) AS INTEGER) % {_CM_W}"
    )


_CM_KEY_SQL = "(CAST(user_id AS VARCHAR) || '|' || event_type)"

_COUNTMIN_SQL = f"""
    WITH keyed AS (
      SELECT {_CM_KEY_SQL} AS key FROM events
    ),
    cells AS (
      SELECT 0 AS row_id, {_cm_bucket_sql('key', 0)} AS bucket, key FROM keyed
      UNION ALL
      SELECT 1, {_cm_bucket_sql('key', 1)}, key FROM keyed
      UNION ALL
      SELECT 2, {_cm_bucket_sql('key', 2)}, key FROM keyed
    ),
    sketch AS (
      SELECT row_id, bucket, COUNT(*) AS cell_cnt
      FROM cells GROUP BY row_id, bucket
    ),
    truth AS (
      SELECT key, COUNT(*) AS true_cnt FROM keyed GROUP BY key
    ),
    probes AS (
      SELECT t.key, t.true_cnt, s.cell_cnt
      FROM (
        SELECT key, true_cnt, 0 AS row_id, {_cm_bucket_sql('key', 0)} AS bucket FROM truth
        UNION ALL
        SELECT key, true_cnt, 1, {_cm_bucket_sql('key', 1)} FROM truth
        UNION ALL
        SELECT key, true_cnt, 2, {_cm_bucket_sql('key', 2)} FROM truth
      ) t
      JOIN sketch s ON s.row_id = t.row_id AND s.bucket = t.bucket
    ),
    est AS (
      SELECT key, MIN(true_cnt) AS true_cnt, MIN(cell_cnt) AS cm_est
      FROM probes GROUP BY key
    )
    SELECT key, true_cnt, cm_est,
           CAST(cm_est >= true_cnt AS INTEGER) AS est_ge_true
    FROM est
    ORDER BY true_cnt DESC, key
    LIMIT 20
"""


@register("countmin_events", _COUNTMIN_SQL)
def countmin_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters over (user_id | event_type).

    Build: ONE hash aggregate onto (row_id, bucket) — at most d*w =
    192 groups whatever the key cardinality, so the map-side partials
    collapse almost everything before the (tiny) shuffle.  Probe: the
    distinct-key table takes 3 bucket columns, joins the broadcast
    sketch, and min-reduces — no second pass over the raw events.
    """
    ev = _t(spark, sf_dir, "events")
    keyed = ev.select(
        F.concat(F.col("user_id").cast("string"), F.lit("|"), F.col("event_type")).alias("key")
    )
    cells = keyed.select(
        "key",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("row_id"), _cm_bucket_spark(F.col("key"), i).alias("bucket"))
                for i in range(_CM_D)
            ])
        ).alias("c"),
    ).select("key", "c.row_id", "c.bucket")
    sketch = cells.groupBy("row_id", "bucket").agg(F.count("*").alias("cell_cnt"))
    truth = keyed.groupBy("key").agg(F.count("*").alias("true_cnt"))
    probes = truth.select(
        "key",
        "true_cnt",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("row_id"), _cm_bucket_spark(F.col("key"), i).alias("bucket"))
                for i in range(_CM_D)
            ])
        ).alias("c"),
    ).select("key", "true_cnt", "c.row_id", "c.bucket")
    est = (
        probes.join(F.broadcast(sketch), ["row_id", "bucket"])
        .groupBy("key")
        .agg(F.min("true_cnt").alias("true_cnt"), F.min("cell_cnt").alias("cm_est"))
    )
    return (
        est.select(
            "key",
            "true_cnt",
            "cm_est",
            (F.col("cm_est") >= F.col("true_cnt")).cast("int").alias("est_ge_true"),
        )
        .orderBy(F.desc("true_cnt"), "key")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# auc_nchars_en_docs
# ---------------------------------------------------------------------------

_AUC_SQL = """
    WITH scored AS (
      SELECT n_chars AS score,
             CAST(lang = 'en' AS INTEGER) AS pos
      FROM documents
    ),
    per_score AS (
      SELECT score,
             SUM(pos) AS n_pos,
             COUNT(*) - SUM(pos) AS n_neg,
             COUNT(*) AS cnt
      FROM scored GROUP BY score
    ),
    ranked AS (
      SELECT score, n_pos, n_neg, cnt,
             COALESCE(SUM(cnt) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      FROM per_score
    ),
    sums AS (
      SELECT SUM(n_pos * (below + (cnt + 1) / 2.0)) AS pos_rank_sum,
             SUM(n_pos) AS np, SUM(n_neg) AS nn
      FROM ranked
    )
    SELECT CAST(np AS BIGINT) AS np, CAST(nn AS BIGINT) AS nn,
           ROUND((pos_rank_sum - np * (np + 1) / 2.0) / (np * nn), 6) AS auc
    FROM sums
"""


@register("auc_nchars_en_docs", _AUC_SQL)
def auc_nchars_en_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney ROC AUC of n_chars for lang='en', average-rank
    ties.  The only window runs over the DISTINCT-score table (score
    cardinality, not corpus size); everything else is two hash aggs."""
    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        F.col("n_chars").alias("score"),
        (F.col("lang") == "en").cast("int").alias("pos"),
    )
    per_score = scored.groupBy("score").agg(
        F.sum("pos").alias("n_pos"),
        (F.count("*") - F.sum("pos")).alias("n_neg"),
        F.count("*").alias("cnt"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_score.withColumn("below", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
    sums = ranked.agg(
        F.sum(F.col("n_pos") * (F.col("below") + (F.col("cnt") + 1) / 2.0)).alias("pos_rank_sum"),
        F.sum("n_pos").alias("np"),
        F.sum("n_neg").alias("nn"),
    )
    return sums.select(
        "np",
        "nn",
        F.round(
            (F.col("pos_rank_sum") - F.col("np") * (F.col("np") + 1) / 2.0)
            / (F.col("np") * F.col("nn")),
            6,
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# domain_cap_docs
# ---------------------------------------------------------------------------

_CAP_SQL = """
    WITH keyed AS (
      SELECT doc_id, lang,
             md5('cap-v1#' || CAST(doc_id AS VARCHAR)) AS sk
      FROM documents
    )
    SELECT doc_id, lang, rn FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY sk, doc_id) AS rn
      FROM keyed)
    WHERE rn <= 20
"""


@register("domain_cap_docs", _CAP_SQL)
def domain_cap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quota of 20 docs by md5 order — the domain-cap
    step of a training mix.  One keyed window (partitioned by lang —
    no global ordering anywhere); the md5 key makes the kept set a
    pure function of content, invariant to engine and partitioning."""
    d = _t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        "lang",
        F.md5(F.concat(F.lit("cap-v1#"), F.col("doc_id").cast("string"))).alias("sk"),
    )
    w = Window.partitionBy("lang").orderBy("sk", "doc_id")
    return (
        keyed.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 20)
    )
