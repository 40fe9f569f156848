"""Oracle pairs that run ``operators.curation``,
``operators.scalable_windows``.

  * zipf_slope_docs — least-squares slope of log(freq) vs log(rank)
    over the token frequency table (natural text ≈ -1; generated or
    corrupted text drifts);

  * ks_drift_events — two-sample Kolmogorov-Smirnov statistic between
    the value distributions of two event types, computed relationally
    (running ECDFs over the union, max |F_a - F_b|);

  * label_balance_by_split — class composition per train/val/test
    split (a skewed val split invalidates eval) — composes the
    md5-gated split with a two-key aggregation.

All pure built-ins; each is one or two hash aggs over a scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- Zipf slope: log(freq) ~ log(rank) least squares --------------------
@register(
    "zipf_slope_docs",
    r"""
    WITH toks AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      FROM documents WHERE doc_id < 400
    ),
    tf AS (SELECT tok, count(*) AS c FROM toks WHERE len(tok) > 0 GROUP BY 1),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r FROM tf
    )
    SELECT round(covar_pop(ln(r), ln(c)) / var_pop(ln(r)), 6) AS zipf_slope,
           count(*) AS vocab
    FROM ranked
    """,
)
def zipf_slope_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    toks = d.select(F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok")).filter(
        F.length("tok") > 0
    )
    tf = toks.groupBy("tok").agg(F.count("*").alias("c"))
    # distributed rank over the vocab (Heaps-law unbounded) — r4 audit
    from lnex_spark.operators.scalable_windows import attach_rank

    ranked = attach_rank(
        tf, [F.desc("c"), F.asc("tok")], rank_col="r"
    ).select("c", "r")
    lr, lc = F.log(F.col("r").cast("double")), F.log(F.col("c").cast("double"))
    return ranked.agg(
        F.round(F.covar_pop(lr, lc) / F.var_pop(lr), 6).alias("zipf_slope"),
        F.count("*").alias("vocab"),
    )


# --- two-sample KS statistic between event-type value distributions -----
@register(
    "ks_drift_events",
    """
    WITH s AS (
      SELECT value,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_b
      FROM events WHERE event_type IN ('click', 'error')
    ),
    n AS (SELECT sum(is_a) AS na, sum(is_b) AS nb FROM s),
    e AS (
      SELECT value,
             sum(is_a) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
             sum(is_b) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
      FROM s
    ),
    -- per distinct value keep the LAST running count (ties collapse)
    g AS (SELECT value, max(ca) AS ca, max(cb) AS cb FROM e GROUP BY value)
    SELECT round(max(abs(ca * 1.0 / n.na - cb * 1.0 / n.nb)), 6) AS ks_stat
    FROM g CROSS JOIN n
    """,
)
def ks_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type").isin("click", "error"))
    s = ev.select(
        "value",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("is_a"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("is_b"),
    )
    n = s.agg(F.sum("is_a").alias("na"), F.sum("is_b").alias("nb"))
    # per-VALUE cumulative counts via aggregate + distributed prefix
    # sum (r4 audit): the old per-row global window + max-per-value
    # collapse computed exactly the value-level inclusive cumulative
    from lnex_spark.operators.scalable_windows import attach_rank

    vc = s.groupBy("value").agg(
        F.sum("is_a").alias("a"), F.sum("is_b").alias("b")
    )
    g = attach_rank(
        vc,
        [F.col("value").asc()],
        rank_col="_rn",
        cumsums=[(F.col("a"), "ca"), (F.col("b"), "cb")],
    ).select("value", "ca", "cb")
    return g.crossJoin(F.broadcast(n)).agg(
        F.round(
            F.max(F.abs(F.col("ca") / F.col("na") - F.col("cb") / F.col("nb"))), 6
        ).alias("ks_stat")
    )


# --- class composition per split ----------------------------------------
@register(
    "label_balance_by_split",
    """
    WITH b AS (
      SELECT label,
             CAST(('0x' || substr(md5('split-v1#' || CAST(vec_id AS VARCHAR)), 1, 4)) AS INTEGER) AS bucket
      FROM embeddings
    ),
    s AS (
      SELECT label,
             CASE WHEN bucket < 52428 THEN 'train'
                  WHEN bucket < 58982 THEN 'val'
                  ELSE 'test' END AS split
      FROM b
    ),
    c AS (SELECT split, label, count(*) AS n FROM s GROUP BY 1, 2),
    t AS (SELECT split, sum(n) AS tot FROM c GROUP BY 1)
    SELECT c.split, c.label, c.n, round(c.n * 1.0 / t.tot, 6) AS frac
    FROM c JOIN t ON c.split = t.split
    """,
)
def label_balance_by_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.curation import split_assign

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    s = split_assign(emb, id_col="vec_id")
    c = s.groupBy("split", "label").agg(F.count("*").alias("n"))
    t = c.groupBy("split").agg(F.sum("n").alias("tot"))
    return c.join(F.broadcast(t), "split").select(
        "split", "label", "n", F.round(F.col("n") / F.col("tot"), 6).alias("frac")
    )
