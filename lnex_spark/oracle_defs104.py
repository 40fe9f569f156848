"""Oracle pairs that run ``operators.scalable_windows``.

  * systematic_sample_orders — every-k-th systematic sampling under
    a fully-specified order (totalprice, orderkey) with a
    deterministic md5 start offset: the sample, its exact integer
    cent mean vs the population mean, and the relative error.
    Systematic sampling is the scan-friendly design (one pass, no
    per-row RNG, perfectly even spacing) — and under a
    VALUE-ordered frame it is implicitly stratified, which the
    error readout makes visible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_SYS_K = 20

_SYS_SQL = f"""
    WITH ranked AS (
      SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rk
      FROM orders
    ),
    start AS (
      SELECT CAST(('0x' || substr(md5('sys-v1'), 1, 4)) AS BIGINT) % {_SYS_K} AS s
    ),
    sampled AS (
      SELECT r.o_orderkey, r.cents
      FROM ranked r CROSS JOIN start st
      WHERE (r.rk - 1) % {_SYS_K} = st.s
    ),
    agg AS (
      SELECT (SELECT COUNT(*) FROM ranked) AS n_pop,
             (SELECT SUM(cents) FROM ranked) AS pop_cents,
             (SELECT COUNT(*) FROM sampled) AS n_samp,
             (SELECT SUM(cents) FROM sampled) AS samp_cents
    )
    SELECT CAST(n_pop AS BIGINT) AS n_pop, CAST(n_samp AS BIGINT) AS n_samp,
           ROUND(pop_cents * 1.0 / n_pop / 100.0, 6) AS pop_mean,
           ROUND(samp_cents * 1.0 / n_samp / 100.0, 6) AS samp_mean,
           ROUND((samp_cents * 1.0 / n_samp) / (pop_cents * 1.0 / n_pop) - 1.0, 6)
             AS rel_err
    FROM agg
"""


@register("systematic_sample_orders", _SYS_SQL)
def systematic_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from lnex_spark.operators.scalable_windows import attach_rank

    o = _t(spark, sf_dir, "orders")
    start = int(hashlib.md5(b"sys-v1").hexdigest()[:4], 16) % _SYS_K
    # distributed global rank (round-4 window audit): the rank runs
    # over ALL orders rows, so it must not shuffle to a single task
    ranked = attach_rank(
        o, [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()], rank_col="rk"
    ).select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "rk",
    )
    sampled = ranked.filter((F.col("rk") - 1) % _SYS_K == start)
    pop = ranked.agg(F.count("*").alias("n_pop"), F.sum("cents").alias("pop_cents"))
    samp = sampled.agg(
        F.count("*").alias("n_samp"), F.sum("cents").alias("samp_cents")
    )
    return pop.crossJoin(samp).select(
        F.col("n_pop").cast("long").alias("n_pop"),
        F.col("n_samp").cast("long").alias("n_samp"),
        F.round(F.col("pop_cents") * 1.0 / F.col("n_pop") / 100.0, 6).alias("pop_mean"),
        F.round(F.col("samp_cents") * 1.0 / F.col("n_samp") / 100.0, 6).alias(
            "samp_mean"
        ),
        F.round(
            (F.col("samp_cents") * 1.0 / F.col("n_samp"))
            / (F.col("pop_cents") * 1.0 / F.col("n_pop"))
            - 1.0,
            6,
        ).alias("rel_err"),
    )
