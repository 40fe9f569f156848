"""The fused extraction stage: preprocess + tokenize + hashtag-segment
+ n-gram match + overlap resolve + offset align, in ONE mapInPandas
(T2, T3, M1, M2, M3 — SURVEY.md §3.3 flagship stage).

One Arrow boundary for the whole imperative island (§4.3 "UDF-stage
fusion"): the JVM ships (conv_id, turn_idx, text) batches, Python
returns exploded mention rows. The matching structure arrives as a
broadcast variable, deserialized once per Python worker and reused
across batches. No per-row Python at the Spark API level — the UDF is
invoked per ~10k-row Arrow batch.

Scale notes:
  * the stage is embarrassingly parallel over turns — no shuffle is
    required to RUN it; the optional salted repartition (operators.skew)
    in front only balances the long-tail conv_id skew so no task gets
    20% of the data;
  * output is exploded mentions (0..n rows per turn) — mapInPandas
    (not a scalar UDF) precisely because the cardinality changes.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from lnex_spark.operators.textproc import HashtagSegmenter, extract_mentions

MENTIONS_SCHEMA = (
    "conv_id string, turn_idx int, start int, end int, surface string, norm string"
)


def extract_mentions_df(transcripts: DataFrame, bc_struct) -> DataFrame:
    """transcripts(conv_id, turn_idx, ..., text) → mentions(conv_id,
    turn_idx, start, end, surface, norm); text[start:end] == surface."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        struct = bc_struct.value
        segmenter = HashtagSegmenter(struct.unigram)
        full, pref, mx = struct.full_names, struct.prefixes, struct.max_tokens
        for pdf in batches:
            out_conv, out_turn, out_s, out_e, out_surf, out_norm = [], [], [], [], [], []
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"].values, pdf["turn_idx"].values, pdf["text"].values
            ):
                if not text:
                    continue
                for s, e, surface, norm in extract_mentions(text, full, pref, mx, segmenter):
                    out_conv.append(conv_id)
                    out_turn.append(turn_idx)
                    out_s.append(s)
                    out_e.append(e)
                    out_surf.append(surface)
                    out_norm.append(norm)
            yield pd.DataFrame(
                {
                    "conv_id": pd.Series(out_conv, dtype="object"),
                    "turn_idx": pd.Series(out_turn, dtype="int32"),
                    "start": pd.Series(out_s, dtype="int32"),
                    "end": pd.Series(out_e, dtype="int32"),
                    "surface": pd.Series(out_surf, dtype="object"),
                    "norm": pd.Series(out_norm, dtype="object"),
                }
            )

    return transcripts.select("conv_id", "turn_idx", "text").mapInPandas(
        run, schema=MENTIONS_SCHEMA
    )

