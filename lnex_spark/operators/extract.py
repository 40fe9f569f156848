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
from pyspark.sql import functions as F

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


def extract_mentions_by_text(texts: DataFrame, bc_struct) -> DataFrame:
    """texts(text) → (text, start, end, surface, norm): the matcher as
    a pure function of the text column, keyed by the text itself."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        struct = bc_struct.value
        segmenter = HashtagSegmenter(struct.unigram)
        full, pref, mx = struct.full_names, struct.prefixes, struct.max_tokens
        for pdf in batches:
            out_t, out_s, out_e, out_surf, out_norm = [], [], [], [], []
            for text in pdf["text"].values:
                if not text:
                    continue
                for s, e, surface, norm in extract_mentions(text, full, pref, mx, segmenter):
                    out_t.append(text)
                    out_s.append(s)
                    out_e.append(e)
                    out_surf.append(surface)
                    out_norm.append(norm)
            yield pd.DataFrame(
                {
                    "text": pd.Series(out_t, dtype="object"),
                    "start": pd.Series(out_s, dtype="int32"),
                    "end": pd.Series(out_e, dtype="int32"),
                    "surface": pd.Series(out_surf, dtype="object"),
                    "norm": pd.Series(out_norm, dtype="object"),
                }
            )

    return texts.select("text").mapInPandas(
        run, schema="text string, start int, end int, surface string, norm string"
    )


def extract_mentions_dedup_df(transcripts: DataFrame, bc_struct) -> DataFrame:
    """Dedup-aware variant of ``extract_mentions_df``: run the Python
    matcher once per DISTINCT text, then join the per-text mentions
    back to the turns.

    Extraction is a pure function of ``text``, so the output row set
    is identical to the direct path (tests/test_dedup_extract.py
    asserts byte-equality).  The trade: two extra shuffles (the
    distinct and the join-back, both keyed on the text) buy a
    reduction of the expensive Arrow/Python stage proportional to the
    corpus duplication ratio.  At 10^12-turn transcript scale,
    templated agent/tool turns repeat heavily, so this is the default
    worth considering; for near-unique corpora it is pure overhead —
    measure the distinct-to-total ratio first (one cheap columnar
    approx_count_distinct pass) and pick the path, which is what
    ``extract_link(dedup_texts='auto')`` does.  MEASURED (sf0.1-derived
    transcripts, local[16], 200k turns): 40x verbatim duplication
    direct 1.36s vs dedup 1.16s; 2.4x duplication direct 1.40s vs
    dedup 1.64s — see extract_link's docstring for the resulting
    auto threshold.
    """
    distinct_texts = transcripts.select("text").filter(F.col("text").isNotNull()).distinct()
    per_text = extract_mentions_by_text(distinct_texts, bc_struct)
    return (
        transcripts.select("conv_id", "turn_idx", "text")
        .join(per_text, "text")
        .select("conv_id", "turn_idx", "start", "end", "surface", "norm")
    )


def preprocess_cols(transcripts: DataFrame) -> DataFrame:
    """T2 (relational half): the cheap regex cleanup as a pure built-in
    chain — used by reporting queries / the DuckDB oracle; the matcher
    itself preprocesses inside the UDF to keep original-text offsets."""
    c = F.col("text")
    c = F.regexp_replace(c, r"https?://\S+|www\.\S+", " ")
    c = F.regexp_replace(c, r"@\w+", " ")
    c = F.regexp_replace(c, r"(^|\s)RT(\s|$)", " ")
    c = F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
    return transcripts.withColumn("clean_text", c)
