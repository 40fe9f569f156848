"""Fiftieth oracle-registry module: length-bucketed batch planning
and a deterministic bootstrap confidence interval.

  * length_batches_docs — training-batch planning: documents are
    bucketed by 256-char length band, ordered inside each bucket by
    an md5 shuffle key, and grouped into batches of 8; per batch the
    op emits the PADDING WASTE (batch_max_len * n - sum_len), i.e.
    the tokens a fixed-shape training step would burn on padding.
    This is why length-bucketed batching exists; the whole plan is
    one keyed window + one hash agg, both partitioned by bucket.

  * bootstrap_ci_orders — Poisson(1) bootstrap of the mean order
    price, B=32 resamples, fully deterministic: the per-(rep, row)
    resample weight comes from an md5-derived uniform pushed through
    the hardcoded Poisson inverse-CDF thresholds, so both engines
    draw the SAME resamples.  Per-rep sums run on integer cents
    (exact — no float accumulation-order divergence; the division
    happens once per rep).  The interval is an exact ordered pick
    (ranks 2 and 31 of 32) — the distributed-bootstrap shape: one
    explode (B x rows, all codegen), one 32-group aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# length_batches_docs
# ---------------------------------------------------------------------------

_LB_SQL = """
    WITH keyed AS (
      SELECT doc_id, n_chars,
             CAST(floor(n_chars / 256.0) AS BIGINT) AS bucket,
             md5('lb-v1#' || CAST(doc_id AS VARCHAR)) AS sk
      FROM documents
    ),
    placed AS (
      SELECT bucket, n_chars,
             CAST(floor((row_number() OVER (PARTITION BY bucket ORDER BY sk, doc_id) - 1) / 8.0)
                  AS BIGINT) AS batch_id
      FROM keyed
    )
    SELECT bucket, batch_id,
           COUNT(*) AS n_docs,
           MAX(n_chars) AS max_len,
           CAST(SUM(n_chars) AS BIGINT) AS sum_len,
           CAST(MAX(n_chars) * COUNT(*) - SUM(n_chars) AS BIGINT) AS padding_waste
    FROM placed
    GROUP BY bucket, batch_id
"""


@register("length_batches_docs", _LB_SQL)
def length_batches_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        "n_chars",
        F.floor(F.col("n_chars") / 256.0).cast("long").alias("bucket"),
        F.md5(F.concat(F.lit("lb-v1#"), F.col("doc_id").cast("string"))).alias("sk"),
    )
    w = Window.partitionBy("bucket").orderBy("sk", "doc_id")
    placed = keyed.select(
        "bucket",
        "n_chars",
        F.floor((F.row_number().over(w) - 1) / 8.0).cast("long").alias("batch_id"),
    )
    return placed.groupBy("bucket", "batch_id").agg(
        F.count("*").alias("n_docs"),
        F.max("n_chars").alias("max_len"),
        F.sum("n_chars").alias("sum_len"),
        (F.max("n_chars") * F.count("*") - F.sum("n_chars")).alias("padding_waste"),
    )


# ---------------------------------------------------------------------------
# bootstrap_ci_orders
# ---------------------------------------------------------------------------

# Poisson(1) inverse-CDF thresholds (cumulative probabilities for
# k = 0..5); identical decimal literals on both engines.
_POIS = [
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238462",
    "0.9963401531726563",
    "0.9994058151824183",
]


def _pois_case_sql(u: str) -> str:
    branches = "".join(
        f" WHEN {u} < {p} THEN {k}" for k, p in enumerate(_POIS)
    )
    return f"CASE{branches} ELSE 6 END"


_BOOT_SQL = f"""
    WITH cents AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders
    ),
    fanout AS (
      SELECT r.rep, c.price_cents,
             CAST(('0x' || substr(md5('boot' || CAST(r.rep AS VARCHAR) || '#' ||
                    CAST(c.o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0 AS u
      FROM cents c, (SELECT unnest(range(1, 33)) AS rep) r
    ),
    weighted AS (
      SELECT rep, price_cents, {_pois_case_sql('u')} AS w FROM fanout
    ),
    means AS (
      SELECT rep,
             SUM(w * price_cents) / (100.0 * SUM(w)) AS mean_b
      FROM weighted GROUP BY rep
    ),
    ordered AS (
      SELECT mean_b, row_number() OVER (ORDER BY mean_b, rep) AS rk FROM means
    ),
    whole AS (
      SELECT SUM(price_cents) / (100.0 * COUNT(*)) AS mean_all FROM cents
    )
    SELECT 32 AS n_reps,
           ROUND((SELECT mean_b FROM ordered WHERE rk = 2), 6) AS ci_lo,
           ROUND((SELECT mean_b FROM ordered WHERE rk = 31), 6) AS ci_hi,
           ROUND(mean_all, 6) AS mean_all
    FROM whole
"""


@register("bootstrap_ci_orders", _BOOT_SQL)
def bootstrap_ci_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cents = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    fanout = cents.select(
        "price_cents",
        F.explode(F.sequence(F.lit(1), F.lit(32))).alias("rep"),
        F.col("o_orderkey"),
    ).select(
        "rep",
        "price_cents",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("boot"),
                            F.col("rep").cast("string"),
                            F.lit("#"),
                            F.col("o_orderkey").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            / 4294967296.0
        ).alias("u"),
    )
    w_expr = F.lit(6)
    for k in range(len(_POIS) - 1, -1, -1):
        w_expr = F.when(F.col("u") < float(_POIS[k]), F.lit(k)).otherwise(w_expr)
    weighted = fanout.select("rep", "price_cents", w_expr.alias("w"))
    means = weighted.groupBy("rep").agg(
        (F.sum(F.col("w") * F.col("price_cents")) / (100.0 * F.sum("w"))).alias("mean_b")
    )
    ordered = means.select(
        "mean_b", F.row_number().over(Window.orderBy("mean_b", "rep")).alias("rk")
    )
    lo = ordered.filter(F.col("rk") == 2).select(F.col("mean_b").alias("ci_lo"))
    hi = ordered.filter(F.col("rk") == 31).select(F.col("mean_b").alias("ci_hi"))
    whole = cents.agg(
        (F.sum("price_cents") / (100.0 * F.count("*"))).alias("mean_all")
    )
    return (
        whole.crossJoin(lo)
        .crossJoin(hi)
        .select(
            F.lit(32).alias("n_reps"),
            F.round("ci_lo", 6).alias("ci_lo"),
            F.round("ci_hi", 6).alias("ci_hi"),
            F.round("mean_all", 6).alias("mean_all"),
        )
    )
