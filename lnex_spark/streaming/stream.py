"""Streaming KG build (SURVEY.md §2C).

The extraction stage is stateless per turn (the only shared state —
the gazetteer — is a broadcast), so the streaming variant is the SAME
operators over a streaming DataFrame:

  * ``stream_triples_foreach_batch``: foreachBatch sink that links
    each micro-batch's mentions through the gazetteer model's
    best-per-norm lookup and appends them; epoch id is recorded so
    replayed batches stay idempotent. Linked mentions are final when
    written (context-free L2, see pipeline.py), so no periodic
    canonicalization job runs over the accumulated output.

``link_mentions`` also runs unchanged inside a streaming query: on a
streaming mentions DataFrame it is a stateless stream-static join
against the static gazetteer (tests/test_stream_static.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lnex_spark.operators.extract import extract_mentions_df
from lnex_spark.operators.link import link_mentions


def stream_triples_foreach_batch(
    transcripts_stream: DataFrame,
    model,
    winners_path: str,
    checkpoint_path: str,
    trigger_once: bool = True,
):
    """writeStream with a foreachBatch sink: per micro-batch, run
    extract → link and append the linked mentions partitioned by epoch
    (idempotent on replay: epoch partition is overwritten). Returns the
    StreamingQuery."""

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        mentions = extract_mentions_df(batch_df, model.bc_struct)
        (
            link_mentions(mentions, model.best)
            .withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(winners_path)
        )

    writer = (
        transcripts_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()

