"""Fifty-first oracle-registry module: threshold search, probability
calibration, and robust (MAD) outlier flagging.

  * stump_threshold_docs — 1-D decision-stump training: for each
    candidate threshold on a fixed 64-char grid, the information
    gain of splitting documents into (n_chars <= t) vs (> t) for
    the label lang='en', computed from ONE cumulative pass over the
    per-score counts (running sums over a 15-row candidate table —
    no per-candidate rescan), plus an is_best argmax flag.  The
    fixed grid keeps the argmax engine-stable (gain margins are far
    above float noise); this is the split-search inner loop of any
    distributed decision-tree trainer.

  * calibration_bins_docs — reliability diagram + per-bin Brier
    contributions for a deterministic logistic score
    p = sigmoid((n_chars-400)/150) against the lang='en' label:
    decile bins of p, per bin (n, avg confidence, observed positive
    rate, brier sum).  The calibration loop a quality-score
    deployment runs; one hash aggregate.

  * mad_outliers_events — robust outliers per event type: median
    and MAD as EXACT ordered row picks under a fully-specified
    ordering (value, event_id — engine-independent by
    construction), outlier = |v - med| beyond
    3 * 1.4826 * MAD, the heavy-tail-safe form of z-score outliers;
    all windows are type-keyed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# stump_threshold_docs
# ---------------------------------------------------------------------------

_STUMP_SQL = """
    WITH labeled AS (
      SELECT n_chars, CAST(lang = 'en' AS INTEGER) AS pos FROM documents
    ),
    tot AS (
      SELECT COUNT(*) AS n, SUM(pos) AS np FROM labeled
    ),
    grid AS (SELECT unnest(range(1, 16)) * 64 AS t),
    cums AS (
      SELECT g.t,
             (SELECT COUNT(*) FROM labeled l WHERE l.n_chars <= g.t) AS ln,
             (SELECT COALESCE(SUM(pos), 0) FROM labeled l WHERE l.n_chars <= g.t) AS lp
      FROM grid g
    ),
    gains AS (
      SELECT t, ln, lp, tot.n, tot.np,
             (CASE WHEN tot.np IN (0, tot.n) THEN 0.0 ELSE
               -(tot.np * 1.0 / tot.n) * log2(tot.np * 1.0 / tot.n)
               - (1 - tot.np * 1.0 / tot.n) * log2(1 - tot.np * 1.0 / tot.n) END)
             - (CASE WHEN ln = 0 OR lp IN (0, ln) THEN 0.0 ELSE
                 (ln * 1.0 / tot.n) * (
                   -(lp * 1.0 / ln) * log2(lp * 1.0 / ln)
                   - (1 - lp * 1.0 / ln) * log2(1 - lp * 1.0 / ln)) END)
             - (CASE WHEN tot.n - ln = 0 OR (tot.np - lp) IN (0, tot.n - ln) THEN 0.0 ELSE
                 ((tot.n - ln) * 1.0 / tot.n) * (
                   -((tot.np - lp) * 1.0 / (tot.n - ln)) * log2((tot.np - lp) * 1.0 / (tot.n - ln))
                   - (1 - (tot.np - lp) * 1.0 / (tot.n - ln)) * log2(1 - (tot.np - lp) * 1.0 / (tot.n - ln))) END)
             AS ig
      FROM cums, tot
    )
    SELECT t, ln AS n_left, CAST(lp AS BIGINT) AS pos_left, ROUND(ig, 6) AS info_gain,
           CAST(ROUND(ig, 6) = (SELECT MAX(ROUND(ig, 6)) FROM gains) AS INTEGER) AS is_best
    FROM gains
"""


def _entropy(p):
    """Binary entropy of a probability column, 0*log0 := 0."""
    return F.when((p <= 0) | (p >= 1), F.lit(0.0)).otherwise(
        -p * F.log2(p) - (1 - p) * F.log2(1 - p)
    )


@register("stump_threshold_docs", _STUMP_SQL)
def stump_threshold_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame form avoids the correlated subqueries of the oracle:
    per-score counts once, then running sums over the candidate grid
    via a range-join-free cumulative window on the 15-row table."""
    d = _t(spark, sf_dir, "documents")
    labeled = d.select("n_chars", (F.col("lang") == "en").cast("int").alias("pos"))
    tot = labeled.agg(F.count("*").alias("n"), F.sum("pos").alias("np"))
    grid = spark.range(1, 16).select((F.col("id") * 64).alias("t"))
    per_score = labeled.groupBy("n_chars").agg(
        F.count("*").alias("cnt"), F.sum("pos").alias("p")
    )
    # bucket each score onto the grid: counts with n_chars <= t
    joined = grid.join(
        per_score, per_score["n_chars"] <= grid["t"], "left"
    ).groupBy("t").agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("ln"),
        F.coalesce(F.sum("p"), F.lit(0)).alias("lp"),
    )
    g = joined.crossJoin(tot)
    pn = F.col("np") / F.col("n")
    pl = F.col("lp") / F.col("ln")
    rn = F.col("n") - F.col("ln")
    rp = F.col("np") - F.col("lp")
    pr = rp / rn
    ig = (
        _entropy(pn)
        - F.when(F.col("ln") == 0, 0.0).otherwise((F.col("ln") / F.col("n")) * _entropy(pl))
        - F.when(rn == 0, 0.0).otherwise((rn / F.col("n")) * _entropy(pr))
    )
    gains = g.select(
        "t",
        F.col("ln").alias("n_left"),
        F.col("lp").alias("pos_left"),
        F.round(ig, 6).alias("info_gain"),
    )
    best = gains.agg(F.max("info_gain").alias("best_ig"))
    return gains.crossJoin(best).select(
        "t",
        "n_left",
        "pos_left",
        "info_gain",
        (F.col("info_gain") == F.col("best_ig")).cast("int").alias("is_best"),
    )


# ---------------------------------------------------------------------------
# calibration_bins_docs
# ---------------------------------------------------------------------------

_CALIB_SQL = """
    WITH scored AS (
      SELECT 1.0 / (1.0 + exp(-(n_chars - 400) / 150.0)) AS p,
             CAST(lang = 'en' AS INTEGER) AS y
      FROM documents
    ),
    binned AS (
      SELECT LEAST(9, CAST(floor(p * 10) AS INTEGER)) AS bin, p, y FROM scored
    )
    SELECT bin,
           COUNT(*) AS n,
           ROUND(AVG(p), 6) AS avg_conf,
           ROUND(AVG(y * 1.0), 6) AS pos_rate,
           ROUND(SUM((p - y) * (p - y)), 6) AS brier_sum
    FROM binned GROUP BY bin
"""


@register("calibration_bins_docs", _CALIB_SQL)
def calibration_bins_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        (1.0 / (1.0 + F.exp(-(F.col("n_chars") - 400) / 150.0))).alias("p"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    binned = scored.select(
        F.least(F.lit(9), F.floor(F.col("p") * 10).cast("int")).alias("bin"), "p", "y"
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.round(F.avg("p"), 6).alias("avg_conf"),
        F.round(F.avg(F.col("y") * 1.0), 6).alias("pos_rate"),
        F.round(F.sum((F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))), 6).alias("brier_sum"),
    )


# ---------------------------------------------------------------------------
# mad_outliers_events
# ---------------------------------------------------------------------------

_MAD_SQL = """
    WITH ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    med AS (
      SELECT event_type, value AS med
      FROM ranked WHERE rk = CAST(ceil(n / 2.0) AS BIGINT)
    ),
    dev AS (
      SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev, e.event_id
      FROM events e JOIN med m ON e.event_type = m.event_type
    ),
    dranked AS (
      SELECT event_type, med, adev,
             row_number() OVER (PARTITION BY event_type ORDER BY adev, event_id) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM dev
    ),
    mad AS (
      SELECT event_type, med, adev AS mad
      FROM dranked WHERE rk = CAST(ceil(n / 2.0) AS BIGINT)
    )
    SELECT d.event_type,
           ROUND(m.med, 6) AS med,
           ROUND(m.mad, 6) AS mad,
           CAST(SUM(CASE WHEN d.adev > 3 * 1.4826 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           COUNT(*) AS n
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    GROUP BY d.event_type, m.med, m.mad
"""


@register("mad_outliers_events", _MAD_SQL)
def mad_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wc = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(wc).alias("n"),
    )
    med = ranked.filter(
        F.col("rk") == F.ceil(F.col("n") / 2.0).cast("long")
    ).select("event_type", F.col("value").alias("med"))
    dev = ev.join(med, "event_type").select(
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
        "event_id",
    )
    wd = Window.partitionBy("event_type").orderBy("adev", "event_id")
    dranked = dev.select(
        "event_type",
        "med",
        "adev",
        F.row_number().over(wd).alias("rk"),
        F.count("*").over(wc).alias("n"),
    )
    mad = dranked.filter(
        F.col("rk") == F.ceil(F.col("n") / 2.0).cast("long")
    ).select("event_type", F.col("adev").alias("mad"))
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.sum(
                F.when(F.col("adev") > 3 * 1.4826 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
            F.count("*").alias("n"),
        )
        .select(
            "event_type",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            "n_outliers",
            "n",
        )
    )
