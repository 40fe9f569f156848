"""The dedup-aware extraction path must be byte-identical to the
direct path — extraction is a pure function of the text, so running
it once per distinct text and joining back can only change the plan,
never the rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lnex_spark.operators.extract import extract_mentions_df, extract_mentions_dedup_df
from lnex_spark.pipeline import build_gazetteer, extract_link
from tests.conftest import to_spark_gaz, to_spark_transcripts


@pytest.fixture(scope="module")
def model_and_turns(spark, fixture_data):
    gaz = to_spark_gaz(spark, fixture_data["gaz"])
    stop = spark.createDataFrame([(w,) for w in fixture_data["stopwords"]], "word string")
    wl = spark.createDataFrame(fixture_data["wordlist"], "word string, freq long")
    model = build_gazetteer(spark, gaz, stop, wl)
    turns = to_spark_transcripts(spark, fixture_data["transcripts"])
    # plant heavy duplication: every turn appears 5x under fresh ids,
    # exactly the templated-turn shape the dedup path exists for
    dup = turns
    for i in range(1, 5):
        dup = dup.unionByName(
            turns.withColumn("conv_id", F.concat(F.lit(f"dup{i}-"), F.col("conv_id")))
        )
    return model, turns, dup


def _rows(df):
    return sorted(
        (r.conv_id, r.turn_idx, r.start, r.end, r.surface, r.norm)
        for r in df.collect()
    )


def test_dedup_path_identical_on_fixtures(model_and_turns):
    model, turns, _ = model_and_turns
    direct = _rows(extract_mentions_df(turns, model.bc_struct))
    dedup = _rows(extract_mentions_dedup_df(turns, model.bc_struct))
    assert direct == dedup
    assert len(direct) > 0


def test_dedup_path_identical_on_duplicated_corpus(model_and_turns):
    model, _, dup = model_and_turns
    direct = _rows(extract_mentions_df(dup, model.bc_struct))
    dedup = _rows(extract_mentions_dedup_df(dup, model.bc_struct))
    assert direct == dedup


def test_extract_link_auto_picks_dedup_and_matches(model_and_turns):
    model, _, dup = model_and_turns
    base = extract_link(dup, model).select(
        "conv_id", "turn_idx", "start", "end", "norm", "geo_id"
    )
    auto = extract_link(dup, model, dedup_texts="auto").select(
        "conv_id", "turn_idx", "start", "end", "norm", "geo_id"
    )
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, auto.collect()))


def test_auto_stays_direct_on_unique_corpus(spark, model_and_turns):
    model, turns, _ = model_and_turns
    # unique texts → the auto probe must choose the direct path; output
    # equality again holds either way, so assert on equality plus the
    # probe's decision boundary via a distinct-ratio sanity
    n = turns.count()
    d = turns.select("text").distinct().count()
    assert d / n > 0.6  # fixture corpus is (near-)unique per turn
    base = extract_link(turns, model)
    auto = extract_link(turns, model, dedup_texts="auto")
    assert base.count() == auto.count()
