"""Golden end-to-end test (E1): flagship pipeline vs gold annotations,
triple-level P/R >= 0.95 (BASELINE.json target) — the Spark analogue of
the reference's Chennai/Louisiana/Houston evaluations."""

from __future__ import annotations

import pytest

from lnex_spark.data import fixtures as FX
from lnex_spark.operators.evaluate import gold_triples, precision_recall
from lnex_spark.pipeline import build_gazetteer, extract_link, run_pipeline
from lnex_spark.operators.triples import mention_triples
from tests.conftest import (
    to_spark_gaz,
    to_spark_stopwords,
    to_spark_transcripts,
    to_spark_wordlist,
)


@pytest.fixture(scope="module")
def pipeline_result(spark, fixture_data):
    t_df = to_spark_transcripts(spark, fixture_data["transcripts"])
    m_df, r_df = run_pipeline(
        spark,
        t_df,
        to_spark_gaz(spark, fixture_data["gaz"]),
        to_spark_stopwords(spark, fixture_data["stopwords"]),
        to_spark_wordlist(spark, fixture_data["wordlist"]),
        bbox=FX.EVENTS["chennai"]["bbox"],
        salt_partitions=4,
    )
    return m_df.cache(), r_df


def test_precision_recall(spark, fixture_data, pipeline_result):
    m_df, _ = pipeline_result
    gold_df = spark.createDataFrame(
        fixture_data["gold"],
        "conv_id string, turn_idx int, start int, end int, surface string, geo_id long",
    )
    pr = precision_recall(m_df, gold_triples(gold_df))
    assert pr["precision"] >= 0.95, pr
    assert pr["recall"] >= 0.95, pr


def test_region_triples(pipeline_result, fixture_data):
    _, r_df = pipeline_result
    rows = r_df.collect()
    assert len(rows) == len(fixture_data["gaz"])
    assert all(r["pred"] == "locatedIn" and r["obj"] == "chennai" for r in rows)


def test_mention_offsets_invariant(spark, fixture_data):
    """text[start:end] == surface survives the Arrow round-trip."""
    t_df = to_spark_transcripts(spark, fixture_data["transcripts"])
    model = build_gazetteer(
        spark,
        to_spark_gaz(spark, fixture_data["gaz"]),
        to_spark_stopwords(spark, fixture_data["stopwords"]),
        to_spark_wordlist(spark, fixture_data["wordlist"]),
    )
    final = extract_link(t_df, model)
    joined = final.join(t_df, ["conv_id", "turn_idx"]).select("text", "start", "end", "surface")
    for r in joined.collect():
        assert r["text"][r["start"] : r["end"]] == r["surface"]


def test_determinism_across_parallelism(spark, fixture_data):
    """Same triples at different partition counts (scale-invariance)."""
    t_df = to_spark_transcripts(spark, fixture_data["transcripts"])
    gaz_df = to_spark_gaz(spark, fixture_data["gaz"])
    stop_df = to_spark_stopwords(spark, fixture_data["stopwords"])
    wl_df = to_spark_wordlist(spark, fixture_data["wordlist"])

    def run(nparts):
        m, _ = run_pipeline(
            spark, t_df.repartition(nparts), gaz_df, stop_df, wl_df, salt_partitions=nparts
        )
        return sorted(tuple(r) for r in m.collect())

    assert run(2) == run(7)


@pytest.fixture(scope="module")
def chennai_model(spark, fixture_data):
    return build_gazetteer(
        spark,
        to_spark_gaz(spark, fixture_data["gaz"]),
        to_spark_stopwords(spark, fixture_data["stopwords"]),
    )


@pytest.mark.parametrize("key", ["conv_id", "turn_idx"])
def test_null_subject_key_is_refused(spark, chennai_model, key):
    """A turn with a null conv_id or turn_idx fails extraction with an
    error that names the column. Unchecked, a null conv_id became the
    subject '5' (concat_ws skips nulls) and a null turn_idx failed in
    pandas on a NaN."""
    name = sorted(chennai_model.bc_struct.value.full_names)[0]
    row = {"conv_id": "c1", "turn_idx": 5, "text": f"flooding near {name} now"}
    row[key] = None
    t = spark.createDataFrame([row], "conv_id string, turn_idx int, text string")
    with pytest.raises(Exception, match=f"null {key}"):
        mention_triples(extract_link(t, chennai_model)).collect()
