"""Scale-path fallbacks: results must be plan-invariant.

At planet scale the gazetteer can exceed the broadcast threshold and
Catalyst falls back to a shuffled join for L1 — the RESULTS must not
change. Likewise the match-struct build guards the driver against an
unscoped (planet-sized) gazetteer collect.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lnex_spark.gazetteer import build
from lnex_spark.gazetteer.build import (
    build_match_struct,
    build_unigram,
    build_variants,
    candidate_rows,
    collect_gazetteer,
)
from lnex_spark.operators.link import link_mentions, score_candidates
from tests.conftest import (
    to_spark_gaz,
    to_spark_stopwords,
    to_spark_transcripts,
    to_spark_wordlist,
)


def test_l1_results_identical_under_sort_merge_fallback(spark, fixture_data):
    """link+score output is identical with broadcast joins disabled
    (sort-merge / shuffled-hash path), i.e. correctness does not depend
    on the physical join strategy."""
    from lnex_spark.operators.extract import extract_mentions_df
    from lnex_spark.pipeline import build_gazetteer

    model = build_gazetteer(
        spark,
        to_spark_gaz(spark, fixture_data["gaz"]),
        to_spark_stopwords(spark, fixture_data["stopwords"]),
        to_spark_wordlist(spark, fixture_data["wordlist"]),
    )
    t = to_spark_transcripts(spark, fixture_data["transcripts"])
    mentions = extract_mentions_df(t, model.bc_struct)

    def run(hint: bool) -> list[tuple]:
        out = score_candidates(link_mentions(mentions, model.variants, hint_broadcast=hint))
        cols = sorted(out.columns)
        return sorted(tuple(r) for r in out.select(*cols).collect())

    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    baseline = run(hint=True)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        fallback = run(hint=False)  # no hint + no threshold -> SMJ path
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert baseline == fallback
    assert len(baseline) > 0


def test_match_struct_guard_rejects_unscoped_gazetteer(spark, monkeypatch):
    """The MAX_NAMES guard bounds both the gazetteer collect and the
    variant rows augmentation makes from it."""
    gaz = spark.range(0, 50).select(
        F.col("id").alias("geo_id"),
        F.concat(F.lit("name"), F.col("id"), F.lit(" road")).alias("name"),
        F.lit(None).cast("array<string>").alias("alt_names"),
        F.lit("highway").alias("category"),
        F.lit(13.0).alias("lat"),
        F.lit(80.0).alias("lon"),
        F.lit("chennai").alias("region"),
    )
    monkeypatch.setattr(build, "MAX_NAMES", 10)
    with pytest.raises(ValueError, match="bounding box"):
        collect_gazetteer(gaz)
    monkeypatch.setattr(build, "MAX_NAMES", 100)
    rows = list(collect_gazetteer(gaz))
    assert len(rows) == 50
    # each "nameN road" also spawns "nameN": 100 variant rows
    monkeypatch.setattr(build, "MAX_NAMES", 60)
    with pytest.raises(ValueError, match="bounding box"):
        build_variants(rows, set())
    # under the limit: builds fine
    monkeypatch.setattr(build, "MAX_NAMES", 100)
    variants = build_variants(rows, set())
    struct = build_match_struct(candidate_rows(variants), build_unigram(variants))
    assert len(struct.full_names) == 100


def test_load_guard_rejects_oversized_model(spark, fixture_data, tmp_path, monkeypatch):
    """load_gazetteer_model keeps the build's guard on the names it
    collects from a saved variant table; build_gazetteer reads the same
    module-level limit."""
    from lnex_spark import pipeline

    gaz = to_spark_gaz(spark, fixture_data["gaz"])
    stop = to_spark_stopwords(spark, fixture_data["stopwords"])
    model = pipeline.build_gazetteer(spark, gaz, stop)
    pipeline.save_gazetteer_model(model, str(tmp_path / "model"))
    monkeypatch.setattr(build, "MAX_NAMES", 10)
    with pytest.raises(ValueError, match="bounding box"):
        pipeline.load_gazetteer_model(spark, str(tmp_path / "model"))
    with pytest.raises(ValueError, match="bounding box"):
        pipeline.build_gazetteer(spark, gaz, stop)
