"""Entity linking (L1-L3): the per-mention reference chain, all
relational built-ins.

No build path runs this module. Every one of them links inside the
extraction UDF (operators/extract.extract_linked_df): the broadcast
match structure maps each name to its L2 winner, built on the driver
under the same key as :func:`_top1_by` (gazetteer/build.l2_winners).
That is exact because the L2 score (match_type desc, cat_priority asc,
geo_id asc) reads only the variant row (pipeline.py decision record).

Reference behavior: LNEx returns the full candidate geo-id set per
mention (a dict lookup at match time ≙ a broadcast hash equi-join);
scoring and canonicalization are the KG mandate on top (SURVEY.md §2A
L2/L3). The chain here — ``link_mentions`` over all variants (L1),
``score_candidates`` (L2), ``canonicalize`` + ``apply_canonical`` (L3
corpus vote, the identity on context-free L2 output) — serves the §2A
SQL-twin oracles, perfbench's traced and incremental paths, and the
differential test that pins the in-UDF lookup to it
(tests/test_link_lookup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lnex_spark.gazetteer.build import CANDIDATE_COLS
from lnex_spark.operators.incremental import batch_votes, canonical_from_votes


def _top1_by(df: DataFrame, keys: list[str]) -> DataFrame:
    """Best row per ``keys`` group, all columns kept, under the L2
    linking policy: match_type desc, cat_priority asc, geo_id asc —
    written once here and once for the driver-side lookup
    (gazetteer/build.l2_winners), pinned together by
    tests/test_link_lookup.py. The key is unique per candidate of a
    norm (geo_id), so the pick is deterministic."""
    cols = df.columns
    l2_key = F.struct(
        (-F.col("match_type")).alias("mt"),
        F.col("cat_priority").alias("cp"),
        F.col("geo_id").alias("g"),
    )
    picked = df.groupBy(*keys).agg(
        F.min_by(F.struct(*[F.col(c) for c in cols]), l2_key).alias("_best")
    )
    return picked.select(*[F.col(f"_best.{c}").alias(c) for c in cols])


def link_mentions(
    mentions: DataFrame, variants: DataFrame, hint_broadcast: bool = True
) -> DataFrame:
    """L1: surface form → every gazetteer candidate of each mention
    (broadcast hash join against the variant table).

    ``hint_broadcast=False`` drops the hint for the planet-scale case
    where the gazetteer exceeds broadcast limits — Catalyst then picks
    sort-merge, and results are identical
    (plan-invariance is tested in tests/test_scale_fallbacks.py)."""
    gaz = variants.select(*CANDIDATE_COLS)
    if hint_broadcast:
        gaz = F.broadcast(gaz)
    return mentions.join(gaz, on="norm", how="inner")


def score_candidates(linked: DataFrame) -> DataFrame:
    """L2 reference: keep the best candidate per mention span under the
    same key as the match structure's winners
    (gazetteer/build.l2_winners).

    Top-1-per-group is an AGGREGATION (min_by over a sort-key struct),
    not a ranking window: windows get no map-side partial aggregation,
    so a window would shuffle every candidate row; the agg form
    combines candidates within each map partition and shuffles ~one
    row per mention. The result is identical to the window form
    (asserted by the kg_e2e_sql / flagship oracles)."""
    return _top1_by(linked, ["conv_id", "turn_idx", "start", "end"])


def canonicalize(winners: DataFrame) -> DataFrame:
    """L3 reference: one geo entity per normalized surface form,
    corpus-wide majority vote over L2 winners (ties → smaller geo_id).

    The vote over one batch of winners (incremental.batch_votes, then
    incremental.canonical_from_votes, which holds the tie-break): two
    hash aggregations, both partial+final (same agg-over-window
    rationale as score_candidates)."""
    return canonical_from_votes(batch_votes(winners))


def apply_canonical(winners: DataFrame, canon: DataFrame) -> DataFrame:
    """L3 reference: rewrite every mention to its surface form's
    canonical entity."""
    return (
        winners.join(F.broadcast(canon), on="norm", how="inner")
        .drop("geo_id")
        .withColumnRenamed("canonical_geo_id", "geo_id")
    )
