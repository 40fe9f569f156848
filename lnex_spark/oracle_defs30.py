"""Oracle pairs that run ``operators.curation``,
``operators.scalable_windows``.

  * pack_sequences_docs — greedy first-fit token-budget packing
    (curation.pack_sequences): the LLM training-batch construction
    step.  Sequential state is confined to bounded doc_id shards (one
    applyInPandas island, embarrassingly parallel across shards); the
    DuckDB twin replays the same greedy recurrence as a RECURSIVE CTE
    stepping one doc per iteration across all shards at once — the
    accumulate-with-reset class of computation, value-checked.

  * psi_drift_events — Population Stability Index between the first
    and second half-month of the events timeline, over exact
    row-picked decile edges of the baseline window (no quantile-type
    builtins — edges are ordered-rank value picks, engine-independent
    by construction), with Laplace-smoothed shares so empty current
    bins stay finite.  The binned complement of the KS statistic —
    PSI is what ML monitoring actually alerts on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- greedy sequence packing (recursive-CTE oracle) ------------------------
_PACK_SQL = r"""
    WITH RECURSIVE d AS (
      SELECT doc_id, doc_id // 100 AS shard,
             CASE WHEN len(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
             row_number() OVER (PARTITION BY doc_id // 100 ORDER BY doc_id) AS rn
      FROM documents
    ),
    packed AS (
      SELECT doc_id, shard, n_tokens, rn,
             CAST(0 AS BIGINT) AS bin, n_tokens AS cur
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.doc_id, d.shard, d.n_tokens, d.rn,
             CASE WHEN p.cur + d.n_tokens > 128 THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.cur + d.n_tokens > 128 THEN d.n_tokens
                  ELSE p.cur + d.n_tokens END
      FROM packed p JOIN d ON d.shard = p.shard AND d.rn = p.rn + 1
    )
    SELECT doc_id, shard, bin, n_tokens FROM packed
"""


@register("pack_sequences_docs", _PACK_SQL)
def pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.curation import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), budget=128, shard_size=100)


# --- Population Stability Index over exact decile bins ---------------------
_PSI_SQL = """
    WITH s AS (
      SELECT value, (ts < TIMESTAMP '2024-01-16') AS in_a FROM events
    ),
    a_ranked AS (
      SELECT value, row_number() OVER (ORDER BY value) AS rn
      FROM s WHERE in_a
    ),
    na AS (SELECT count(*) AS n FROM a_ranked),
    ks AS (SELECT unnest(range(1, 10)) AS k),
    edges AS (
      SELECT r.value AS v
      FROM a_ranked r CROSS JOIN na JOIN ks
        ON r.rn = CAST(ceil(k * na.n / 10.0) AS BIGINT)
    ),
    counts AS (SELECT value, in_a, count(*) AS c FROM s GROUP BY 1, 2),
    binned AS (
      SELECT value, in_a, c,
             sum(CASE WHEN value > e.v THEN 1 ELSE 0 END) AS bin
      FROM counts CROSS JOIN edges e GROUP BY value, in_a, c
    ),
    bins AS (
      SELECT bin,
             sum(CASE WHEN in_a THEN c ELSE 0 END) AS n_a,
             sum(CASE WHEN NOT in_a THEN c ELSE 0 END) AS n_b
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM bins)
    SELECT CAST(bin AS BIGINT) AS bin, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round(((n_b + 0.5) / (tb + 5.0) - (n_a + 0.5) / (ta + 5.0))
                 * ln(((n_b + 0.5) / (tb + 5.0)) / ((n_a + 0.5) / (ta + 5.0))), 6)
             AS contrib,
           round(sum(((n_b + 0.5) / (tb + 5.0) - (n_a + 0.5) / (ta + 5.0))
                 * ln(((n_b + 0.5) / (tb + 5.0)) / ((n_a + 0.5) / (ta + 5.0))))
                 OVER (), 6) AS psi_total
    FROM bins CROSS JOIN tot
"""


@register("psi_drift_events", _PSI_SQL)
def psi_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI between the first and second half-month of events: decile
    edges are exact row picks from the baseline window's ordered
    values (rank = ceil(k·n/10)), bin membership is a strict-greater
    count against the 9-row edge table (cross join to a broadcastable
    constant — no per-row subquery), shares are Laplace-smoothed
    (+0.5 per bin).  The global rank window runs over the baseline
    sample only — same bounded-input caveat as the KS op; a
    planet-scale PSI would bucket first."""
    s = _t(spark, sf_dir, "events").select(
        "value", (F.col("ts") < F.lit("2024-01-16").cast("timestamp")).alias("in_a")
    )
    # distributed rank over the baseline events (raw-scale) —
    # round-4 window audit; value ties share the same decile value
    from lnex_spark.operators.scalable_windows import attach_rank

    ranked = attach_rank(
        s.filter("in_a").select("value"), [F.col("value").asc()], rank_col="rn"
    )
    na = ranked.agg(F.count("*").alias("n"))
    ks = spark.range(1, 10).select(F.col("id").alias("k"))
    edges = (
        ranked.crossJoin(F.broadcast(na))
        .join(
            F.broadcast(ks),
            F.col("rn")
            == F.ceil(F.col("k") * F.col("n") / 10.0).cast("long"),
        )
        .select(F.col("value").alias("v"))
    )
    counts = s.groupBy("value", "in_a").agg(F.count("*").alias("c"))
    binned = (
        counts.crossJoin(F.broadcast(edges))
        .groupBy("value", "in_a", "c")
        .agg(F.sum(F.when(F.col("value") > F.col("v"), 1).otherwise(0)).alias("bin"))
    )
    bins = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("in_a"), F.col("c")).otherwise(0)).alias("n_a"),
        F.sum(F.when(~F.col("in_a"), F.col("c")).otherwise(0)).alias("n_b"),
    )
    tot = bins.agg(F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb"))
    pa = (F.col("n_a") + 0.5) / (F.col("ta") + 5.0)
    pb = (F.col("n_b") + 0.5) / (F.col("tb") + 5.0)
    contrib = (pb - pa) * F.log(pb / pa)
    return (
        bins.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_a",
            "n_b",
            F.round(contrib, 6).alias("contrib"),
            F.round(F.sum(contrib).over(Window.partitionBy()), 6).alias("psi_total"),
        )
    )
