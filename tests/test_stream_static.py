"""Native stream-static join: ``link_mentions`` runs INSIDE a streaming
query (streaming mentions × static gazetteer variants) and must equal
the batch join on the same data."""

from __future__ import annotations

import pytest

from lnex_spark.pipeline import build_gazetteer
from tests.conftest import (
    to_spark_gaz,
    to_spark_stopwords,
    to_spark_transcripts,
    to_spark_wordlist,
)

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


@pytest.fixture(scope="module")
def model(spark, fixture_data):
    return build_gazetteer(
        spark,
        to_spark_gaz(spark, fixture_data["gaz"]),
        to_spark_stopwords(spark, fixture_data["stopwords"]),
        to_spark_wordlist(spark, fixture_data["wordlist"]),
    )


def test_stream_static_join_matches_batch(spark, fixture_data, model, tmp_path):
    from lnex_spark.operators.extract import extract_mentions_df
    from lnex_spark.operators.link import link_mentions

    src = str(tmp_path / "src")
    to_spark_transcripts(spark, fixture_data["transcripts"]).write.parquet(src)

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
    mentions_stream = extract_mentions_df(
        stream.select("conv_id", "turn_idx", "text"), model.bc_struct
    )
    linked = link_mentions(mentions_stream, model.variants)
    assert linked.isStreaming

    q = (
        linked.writeStream.format("memory")
        .queryName("linked_static")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.table("linked_static")
    batch = link_mentions(
        extract_mentions_df(
            to_spark_transcripts(spark, fixture_data["transcripts"]).select(
                "conv_id", "turn_idx", "text"
            ),
            model.bc_struct,
        ),
        model.variants,
    )
    cols = sorted(batch.columns)
    assert sorted(tuple(r) for r in got.select(*cols).collect()) == sorted(
        tuple(r) for r in batch.select(*cols).collect()
    )
    assert got.count() > 0
