"""The fused extraction stage: preprocess + tokenize + hashtag-segment
+ n-gram match + overlap resolve + offset align, in ONE mapInPandas
(T2, T3, M1, M2, M3 — SURVEY.md §3.3 flagship stage).

One Arrow boundary for the whole imperative island (§4.3 "UDF-stage
fusion"): the JVM ships (conv_id, turn_idx, text) batches, Python
returns exploded mention rows — linked ones for ``extract_linked_df``,
which looks each mention's L2 winner up in the match structure, so a
build has no link join. The matching structure arrives as a broadcast
variable, deserialized once per Python worker and reused across
batches and tasks, with the hashtag segmenter (and its memo) it builds
on first use. No per-row Python at the Spark API level — the UDF is
invoked per ~10k-row Arrow batch.

Scale notes:
  * the stage is embarrassingly parallel over turns — no shuffle is
    required to RUN it; the optional salted repartition (operators.skew)
    in front only balances the long-tail conv_id skew so no task gets
    20% of the data;
  * output is exploded mentions (0..n rows per turn) — mapInPandas
    (not a scalar UDF) precisely because the cardinality changes.

Worker fixed cost: at the start of every Python task, PySpark's worker
calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11/3.12 that
makes every ``zipimport.zipimporter`` re-parse its whole archive
directory, and a worker holds one importer per imported subpackage of
pyspark.zip (16 in a KG build's worker): ~0.2 CPU-s per task, about
0.8 of what a 30k-turn build cost before this fix (~5 CPU-s on local[4],
4 vCPU). CPython 3.13 made that method
lazy: it only drops the cache entry (``Lib/zipimport.py``,
``zipimporter.invalidate_caches``).
So the UDF body first calls :func:`_skip_unchanged_zip_rereads`, which
makes an importer re-read its archive only when the archive's
``(st_mtime_ns, st_size)`` changed since that importer last read it.
It patches the worker's own interpreter, never the driver's, and it is
not a setting: it ships in this module, so it runs wherever extraction
runs (``--py-files`` included). It pays off from a worker's second task
on, so it needs ``spark.python.worker.reuse`` (the default); without
reuse each task starts a fresh worker and the helper costs one call.

Where a warm 30k-turn build's CPU goes now (``extract_link`` +
``mention_triples``, local[4], 4 vCPU, summed over the driver's process
tree, median of builds 4-11 of one session): ~1.3 CPU-s in the JVM,
~0.7 in the Python workers and ~0.4 in the driver's Python, in 4 Spark
jobs. Most of the workers' share is the matcher,
``textproc.extract_mentions``: ~0.6 CPU-s for the same turns in one
process, ~0.3-0.4 of it the tokenizer. The JVM's largest item is JIT
compilation (~0.4 CPU-s per build, even after 17 builds), then its
task threads (~0.27) and query planning (~0.12).
"""

from __future__ import annotations

import os
import sys
import zipimport
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from lnex_spark.operators.textproc import extract_mentions

MENTIONS_SCHEMA = (
    "conv_id string, turn_idx int, start int, end int, surface string, norm string"
)
# a winner tuple's fields (gazetteer/build.MatchStruct) and their dtypes
_WINNER_COLS = (
    ("geo_id", "int64"),
    ("match_type", "int32"),
    ("cat_priority", "int32"),
    ("category", "object"),
    ("region", "object"),
)
LINKED_SCHEMA = (
    "norm string, conv_id string, turn_idx int, start int, end int, surface string, "
    "geo_id long, match_type int, cat_priority int, category string, region string"
)


def _skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when the archive changed (see the module docstring). Idempotent; a
    no-op on CPython >= 3.13, whose method is already lazy.

    An importer's first call reads as before. A stat that fails
    (deleted or unreachable archive) and a read that fails (the stock
    method then empties ``_files``) leave no stamp, so the next call
    takes the stock path again."""
    if sys.version_info >= (3, 13):
        return
    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "_skips_unchanged", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            stamp = None
        else:
            stamp = (st.st_mtime_ns, st.st_size)
            if self.__dict__.get("_archive_stamp") == stamp:
                return
        self.__dict__.pop("_archive_stamp", None)
        stock(self)
        if stamp and self._files:
            self._archive_stamp = stamp

    invalidate_caches._skips_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def refuse_null_keys(pdf: pd.DataFrame) -> None:
    """Fail on a turn with a null ``conv_id`` or ``turn_idx``, naming the
    column: the pair is the triple subject ``conv_id#turn_idx``, and
    ``concat_ws`` would silently drop a null half of it."""
    for key in ("conv_id", "turn_idx"):
        if pdf[key].isna().any():
            raise ValueError(f"extraction input has a null {key}")


def _extraction(transcripts: DataFrame, bc_struct, linked: bool) -> DataFrame:
    """The one extraction UDF behind :func:`extract_mentions_df` and
    :func:`extract_linked_df`; ``linked`` adds each mention's L2 winner,
    looked up in the match structure's ``winners``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _skip_unchanged_zip_rereads()
        struct = bc_struct.value
        segmenter = struct.segmenter()
        winners, pref, mx = struct.winners, struct.prefixes, struct.max_tokens
        for pdf in batches:
            refuse_null_keys(pdf)
            out_conv, out_turn, out_s, out_e, out_surf, out_norm = [], [], [], [], [], []
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"].values, pdf["turn_idx"].values, pdf["text"].values
            ):
                if not text:
                    continue
                for s, e, surface, norm in extract_mentions(text, winners, pref, mx, segmenter):
                    out_conv.append(conv_id)
                    out_turn.append(turn_idx)
                    out_s.append(s)
                    out_e.append(e)
                    out_surf.append(surface)
                    out_norm.append(norm)
            cols = {
                "conv_id": pd.Series(out_conv, dtype="object"),
                "turn_idx": pd.Series(out_turn, dtype="int32"),
                "start": pd.Series(out_s, dtype="int32"),
                "end": pd.Series(out_e, dtype="int32"),
                "surface": pd.Series(out_surf, dtype="object"),
            }
            norm = pd.Series(out_norm, dtype="object")
            if not linked:
                yield pd.DataFrame({**cols, "norm": norm})
                continue
            found = [winners[n] for n in out_norm]
            yield pd.DataFrame(
                {
                    "norm": norm,
                    **cols,
                    **{
                        name: pd.Series([w[i] for w in found], dtype=dtype)
                        for i, (name, dtype) in enumerate(_WINNER_COLS)
                    },
                }
            )

    return transcripts.select("conv_id", "turn_idx", "text").mapInPandas(
        run, schema=LINKED_SCHEMA if linked else MENTIONS_SCHEMA
    )


def extract_mentions_df(transcripts: DataFrame, bc_struct) -> DataFrame:
    """transcripts(conv_id, turn_idx, ..., text) → mentions(conv_id,
    turn_idx, start, end, surface, norm); text[start:end] == surface.

    A row with a null ``conv_id`` or ``turn_idx`` fails the stage
    (:func:`refuse_null_keys`). Every build path extracts here or in
    :func:`extract_linked_df`, which runs the same UDF."""
    return _extraction(transcripts, bc_struct, linked=False)


def extract_linked_df(transcripts: DataFrame, bc_struct) -> DataFrame:
    """transcripts → linked mentions (``LINKED_SCHEMA``): the mentions
    of :func:`extract_mentions_df`, each with its name's L2 winner from
    the match structure — the columns and rows that
    ``link_mentions(mentions, variants)`` → ``score_candidates`` gives,
    without a join (tests/test_link_lookup.py)."""
    return _extraction(transcripts, bc_struct, linked=True)
