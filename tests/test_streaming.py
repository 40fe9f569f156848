"""Streaming extraction: same operators over a streaming DataFrame,
exercised with a file source + availableNow trigger (deterministic)."""

from __future__ import annotations

import pytest

from lnex_spark.pipeline import build_gazetteer
from lnex_spark.streaming.stream import stream_triples_foreach_batch
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


def test_stream_matches_batch(spark, fixture_data, model, tmp_path):
    from lnex_spark.operators.extract import extract_mentions_df
    from lnex_spark.operators.link import link_mentions, score_candidates

    src = str(tmp_path / "src")
    to_spark_transcripts(spark, fixture_data["transcripts"]).write.parquet(src)

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
    q = stream_triples_foreach_batch(
        stream, model, str(tmp_path / "winners"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    got = spark.read.parquet(str(tmp_path / "winners")).drop("epoch")
    batch = score_candidates(
        link_mentions(
            extract_mentions_df(to_spark_transcripts(spark, fixture_data["transcripts"]), model.bc_struct),
            model.variants,
        )
    )
    cols = sorted(batch.columns)
    assert sorted(tuple(r) for r in got.select(*cols).collect()) == sorted(
        tuple(r) for r in batch.select(*cols).collect()
    )
