"""Streaming extraction (SURVEY.md §2C — optional beyond the batch
north rule, included for API completeness).

The extraction stage is stateless per turn (the only shared state —
the gazetteer — is a broadcast), so the streaming variant is the SAME
operators over a streaming DataFrame:

  * ``stream_mentions``: readStream → fused extraction mapInPandas →
    per-mention rows. No watermark needed (no aggregation state).
  * ``stream_mention_rates``: windowed mention counts with a watermark
    for late data — the monitoring companion query.
  * ``stream_triples_foreach_batch``: foreachBatch sink that links
    each micro-batch's mentions through the gazetteer model's
    best-per-norm lookup and appends them; epoch id is recorded so
    replayed batches stay idempotent. Linked mentions are final when
    written (context-free L2, see pipeline.py), so no periodic
    canonicalization job runs over the accumulated output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lnex_spark.operators.extract import extract_mentions_df
from lnex_spark.operators.link import link_mentions


def stream_mentions(transcripts_stream: DataFrame, bc_struct) -> DataFrame:
    """Streaming DF in (same transcripts schema) → streaming mentions."""
    return extract_mentions_df(transcripts_stream, bc_struct)


def stream_mention_rates(
    transcripts_stream: DataFrame,
    bc_struct,
    window: str = "5 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Mentions per (window, norm) with late-data tolerance.

    Needs the event-time column, so extraction runs on a projection
    that carries ``ts`` through the Arrow stage."""
    with_ts = transcripts_stream.withWatermark("ts", watermark)
    mentions = extract_mentions_df(
        with_ts.select("conv_id", "turn_idx", "text"), bc_struct
    )
    keyed = mentions.join(
        with_ts.select("conv_id", "turn_idx", "ts"), ["conv_id", "turn_idx"]
    )
    return (
        keyed.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "norm")
        .agg(F.count("*").alias("n_mentions"))
        .select(F.col("win.start").alias("win_start"), "norm", "n_mentions")
    )


def stream_session_stats(
    events_stream: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming gap sessionization via the native ``session_window``
    — the unbounded-data form of operators.sessions.sessionize (same
    gap rule; the batch op numbers sessions, this one keys them by
    window bounds). Watermark bounds state: a session closes once the
    watermark passes its end, late events beyond it are dropped.

    Parity with the batch form (asserted in tests): per (key, session)
    the event count and start timestamp match batch session_stats;
    ``session_window.end`` is last-event + gap by definition, so the
    batch ``end_us`` (last event) equals ``end - gap``."""
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("win"), F.col(key))
        .agg(F.count("*").alias("n_events"))
        .select(
            key,
            F.col("win.start").alias("start_ts"),
            F.col("win.end").alias("end_ts"),
            "n_events",
        )
    )


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


def stream_link_static(mention_stream: DataFrame, variants: DataFrame) -> DataFrame:
    """L1 as a NATIVE stream-static join: streaming mentions joined to
    the static gazetteer variants DataFrame (broadcast equi-join on
    norm) inside the streaming query itself — no foreachBatch.

    Stream-static inner equi-joins are stateless (the static side is
    planned fresh each micro-batch, so a gazetteer table update is
    picked up on the next batch), no watermark required — unlike the
    stream-stream interval join in streaming/join.py, which must bound
    both sides' state. This is the deployment shape for continuous KG
    ingestion: the dimension stays a table, the fact side streams.
    """
    return link_mentions(mention_stream, variants)
