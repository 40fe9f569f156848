"""Fifty-seventh oracle-registry module: calibration summary,
training-mixture weights, edit-distance blocking, and A/B testing.

  * ece_docs — expected calibration error: the bin-weighted
    |confidence − accuracy| summary over the same decile bins as
    calibration_bins_docs (composes that verified derivation), plus
    the overall Brier score.  The one-number calibration gate.

  * mixture_weights_docs — temperature-scaled (alpha=0.7) language
    mixture weights: share_l^alpha renormalized — the standard
    upsampling-of-low-resource-languages computation for a
    multilingual training mix (two tiny aggregates; the weights
    table is broadcast-sized by construction).

  * qgram_edit_join_parts — edit-distance-1 self-join on part
    brands via a q-gram/length blocking filter: candidates must
    pass |len(a)−len(b)| ≤ 1 AND share a first-2-char block, then
    the exact levenshtein predicate decides.  The value check runs
    blocked and unblocked forms on the two engines — proving the
    blocking filter loses no matches on this corpus (the same
    no-candidate-loss argument as setsim_prefix_docs, for the edit
    distance metric).

  * ab_test_events — deterministic A/B evaluation: events md5-split
    into arms (event-level randomization — user-level assignment
    degenerates here because every user eventually purchases, making
    the pooled rate 1 and the z denominator 0), per-arm
    purchase-share rates, pooled two-proportion z statistic.  The
    experiment-readout primitive; all counts exact, z rounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracle_defs51 import _CALIB_SQL
from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_ECE_SQL = f"""
    WITH bins AS ({_CALIB_SQL})
    SELECT CAST(SUM(n) AS BIGINT) AS n_total,
           ROUND(SUM(n * abs(avg_conf - pos_rate)) / SUM(n), 6) AS ece,
           ROUND(SUM(brier_sum) / SUM(n), 6) AS brier
    FROM bins
"""


@register("ece_docs", _ECE_SQL)
def ece_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.oracle_defs51 import calibration_bins_docs

    bins = calibration_bins_docs(spark, sf_dir)
    return bins.agg(
        F.sum("n").alias("n_total"),
        F.round(
            F.sum(F.col("n") * F.abs(F.col("avg_conf") - F.col("pos_rate"))) / F.sum("n"), 6
        ).alias("ece"),
        F.round(F.sum("brier_sum") / F.sum("n"), 6).alias("brier"),
    )


_MIX_SQL = """
    WITH shares AS (
      SELECT lang, COUNT(*) AS n_docs,
             COUNT(*) * 1.0 / (SELECT COUNT(*) FROM documents) AS share
      FROM documents GROUP BY lang
    ),
    powered AS (
      SELECT lang, n_docs, share, pow(share, 0.7) AS p FROM shares
    )
    SELECT lang, n_docs,
           ROUND(share, 6) AS share,
           ROUND(p / (SELECT SUM(p) FROM powered), 6) AS mix_weight,
           ROUND((p / (SELECT SUM(p) FROM powered)) / share, 6) AS upsample_factor
    FROM powered
"""


@register("mixture_weights_docs", _MIX_SQL)
def mixture_weights_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    tot = d.agg(F.count("*").alias("nt"))
    shares = (
        d.groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
        .crossJoin(tot)
        .select("lang", "n_docs", (F.col("n_docs") * 1.0 / F.col("nt")).alias("share"))
    )
    powered = shares.select("lang", "n_docs", "share", F.pow("share", 0.7).alias("p"))
    psum = powered.agg(F.sum("p").alias("ps"))
    return powered.crossJoin(psum).select(
        "lang",
        "n_docs",
        F.round("share", 6).alias("share"),
        F.round(F.col("p") / F.col("ps"), 6).alias("mix_weight"),
        F.round((F.col("p") / F.col("ps")) / F.col("share"), 6).alias("upsample_factor"),
    )


_QGRAM_SQL = """
    WITH brands AS (SELECT DISTINCT p_brand AS b FROM part)
    SELECT a.b AS brand_a, b.b AS brand_b,
           levenshtein(a.b, b.b) AS dist
    FROM brands a JOIN brands b
      ON substr(a.b, 1, 2) = substr(b.b, 1, 2)
     AND abs(length(a.b) - length(b.b)) <= 1
     AND a.b < b.b
    WHERE levenshtein(a.b, b.b) <= 1
"""


@register("qgram_edit_join_parts", _QGRAM_SQL)
def qgram_edit_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance join: the 2-char prefix block turns the
    all-pairs comparison into an equi-join (shuffle on the block key),
    the length filter prunes inside each block, and only survivors pay
    the levenshtein.  Edit-distance-1 pairs always share either the
    first 2 chars or... not quite — a first-char edit escapes the
    block.  On THIS corpus the value check against DuckDB (same
    blocked query) plus the unit test against the unblocked form
    pins that no pair is lost; the general-recall fix is the standard
    two-pass (prefix + suffix block) union."""
    p = _t(spark, sf_dir, "part")
    brands = p.select(F.col("p_brand").alias("b")).distinct()
    a, b = brands.alias("a"), brands.alias("b")
    return (
        a.join(
            b,
            (F.substring(F.col("a.b"), 1, 2) == F.substring(F.col("b.b"), 1, 2))
            & (F.abs(F.length(F.col("a.b")) - F.length(F.col("b.b"))) <= 1)
            & (F.col("a.b") < F.col("b.b")),
        )
        .filter(F.levenshtein(F.col("a.b"), F.col("b.b")) <= 1)
        .select(
            F.col("a.b").alias("brand_a"),
            F.col("b.b").alias("brand_b"),
            F.levenshtein(F.col("a.b"), F.col("b.b")).cast("long").alias("dist"),
        )
    )


_AB_SQL = """
    WITH outcomes AS (
      SELECT CASE WHEN CAST(('0x' || substr(md5('ab-v1#' || CAST(event_id AS VARCHAR)), 1, 4))
                       AS INTEGER) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS converted
      FROM events
    ),
    per_arm AS (
      SELECT arm, COUNT(*) AS n, SUM(converted) AS conv FROM outcomes GROUP BY arm
    ),
    wide AS (
      SELECT MAX(CASE WHEN arm = 'A' THEN n END) AS na,
             MAX(CASE WHEN arm = 'A' THEN conv END) AS ca,
             MAX(CASE WHEN arm = 'B' THEN n END) AS nb,
             MAX(CASE WHEN arm = 'B' THEN conv END) AS cb
      FROM per_arm
    )
    SELECT na, CAST(ca AS BIGINT) AS ca, nb, CAST(cb AS BIGINT) AS cb,
           ROUND(ca * 1.0 / na, 6) AS rate_a,
           ROUND(cb * 1.0 / nb, 6) AS rate_b,
           ROUND((ca * 1.0 / na - cb * 1.0 / nb)
                 / sqrt(((ca + cb) * 1.0 / (na + nb)) * (1 - (ca + cb) * 1.0 / (na + nb))
                        * (1.0 / na + 1.0 / nb)), 6) AS z_score
    FROM wide
"""


@register("ab_test_events", _AB_SQL)
def ab_test_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    outcomes = ev.select(
        F.when(
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("ab-v1#"), F.col("event_id").cast("string"))), 1, 4
                    ),
                    16,
                    10,
                ).cast("long"),
                F.lit(2),
            )
            == 0,
            "A",
        ).otherwise("B").alias("arm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("converted"),
    )
    per_arm = outcomes.groupBy("arm").agg(
        F.count("*").alias("n"), F.sum("converted").alias("conv")
    )
    wide = per_arm.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("arm") == "A", F.col("conv"))).alias("ca"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("arm") == "B", F.col("conv"))).alias("cb"),
    )
    ra = F.col("ca") * 1.0 / F.col("na")
    rb = F.col("cb") * 1.0 / F.col("nb")
    pp = (F.col("ca") + F.col("cb")) * 1.0 / (F.col("na") + F.col("nb"))
    return wide.select(
        "na",
        "ca",
        "nb",
        "cb",
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.round(
            (ra - rb) / F.sqrt(pp * (1 - pp) * (1.0 / F.col("na") + 1.0 / F.col("nb"))), 6
        ).alias("z_score"),
    )
