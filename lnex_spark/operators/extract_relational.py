"""Broadcast-free (planet-scale) matcher: relational n-gram join form.

``extract_mentions_df`` ships the whole gazetteer to every worker as a
broadcast dict — the right call for region-scoped gazetteers (city ≈
10^4-10^5 names, a few MB). When the gazetteer CANNOT be broadcast
(whole-planet OSM ≈ 10^8+ name variants), this module provides the
same extraction as a distributed plan in which the gazetteer stays a
DataFrame end to end:

  A. tokenize (mapInPandas, gazetteer-FREE — only the tiny unigram LM
     for hashtag segmentation is broadcast, and it's optional):
     token rows (conv_id, turn_idx, seg, pos, norm, start, end); a
     new ``seg`` starts at every break token (URL/@mention/punct) or
     hashtag-group boundary, so n-grams can never cross one — the
     relational encoding of the matcher's adjacency rules.
  B. n-gram candidates via ONE window (partition (conv,turn,seg),
     order pos): gram_k = norm ⊕ lead(norm,1) ⊕ … ⊕ lead(norm,k-1),
     end_k = lead(end,k-1), k = 1..max_tokens — all leads share the
     single keyed shuffle; candidates unrolled array-side.
  C. left-semi JOIN against the gazetteer's distinct norms — a plain
     distributed equi-join: Catalyst picks shuffle-hash/SMJ by size,
     AQE handles skew. THIS is the line that scales past broadcast.
  D. exact greedy longest-match-wins per turn (applyInPandas over the
     few matched candidates per turn — same sort key and accept loop
     as the broadcast matcher, so semantics are IDENTICAL, not just
     containment-approximate), then a keyed join back to transcripts
     to cut the surface strings.

Trade: stages B-D cost two keyed shuffles plus the gazetteer join the
broadcast path doesn't pay, and the candidate blow-up is
turns × avg_tokens × max_tokens rows into the join. The differential
test (tests/test_relational_matcher.py) asserts both paths emit
byte-identical mentions on the event fixtures, hashtags included.

The sub-gram prefix pruning of the broadcast matcher is unnecessary
here: pruning exists to avoid probing a dict per grown n-gram; the
join probes every k-gram exactly once by construction.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lnex_spark.operators.textproc import HashtagSegmenter, build_token_stream

TOKEN_SCHEMA = (
    "conv_id string, turn_idx int, seg int, pos int, norm string, start int, end int"
)
_CAND_SCHEMA = "conv_id string, turn_idx int, start int, end int, norm string"


def tokenize_relational(transcripts: DataFrame, bc_unigram=None) -> DataFrame:
    """Stage A: gazetteer-free token rows with segment ids."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        segmenter = (
            HashtagSegmenter(bc_unigram.value) if bc_unigram is not None else None
        )
        for pdf in batches:
            conv, turn, seg_c, pos_c, norm_c, s_c, e_c = [], [], [], [], [], [], []
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"].values, pdf["turn_idx"].values, pdf["text"].values
            ):
                if not text:
                    continue
                seg, pos, prev_group = 0, 0, -1
                for norm, start, end, brk, group in build_token_stream(text, segmenter):
                    if brk or not norm:
                        seg, pos, prev_group = seg + 1, 0, -1
                        continue
                    if group != prev_group:
                        if prev_group != -1 or group != -1:
                            seg, pos = seg + 1, 0
                        prev_group = group
                    conv.append(conv_id)
                    turn.append(turn_idx)
                    seg_c.append(seg)
                    pos_c.append(pos)
                    norm_c.append(norm)
                    s_c.append(start)
                    e_c.append(end)
                    pos += 1
            yield pd.DataFrame(
                {
                    "conv_id": pd.Series(conv, dtype="object"),
                    "turn_idx": pd.Series(turn, dtype="int32"),
                    "seg": pd.Series(seg_c, dtype="int32"),
                    "pos": pd.Series(pos_c, dtype="int32"),
                    "norm": pd.Series(norm_c, dtype="object"),
                    "start": pd.Series(s_c, dtype="int32"),
                    "end": pd.Series(e_c, dtype="int32"),
                }
            )

    return transcripts.select("conv_id", "turn_idx", "text").mapInPandas(
        run, schema=TOKEN_SCHEMA
    )


def gram_rows(
    transcripts: DataFrame,
    max_tokens: int = 4,
    bc_unigram=None,
    bc_start_tokens=None,
) -> DataFrame:
    """Stages A+B fused: candidate gram rows emitted straight from the
    tokenize island — ZERO shuffles before the gazetteer join.

    The window form (``tokenize_relational`` + ``ngram_candidates``)
    pays a keyed shuffle of every token row to line up lead()s;
    measured at 200k turns that shuffle, not the gazetteer join, was
    the bottleneck (see BENCH.md). Emitting the 1..max_tokens grams
    inside the Python island costs no shuffle and the same Arrow
    volume as the post-window explode.

    ``bc_start_tokens`` (optional broadcast frozenset of every name's
    FIRST token) gates emission ~25× at real selectivity; it is the
    small half of the two-level design — planet-scale gazetteers have
    ~10^8 variants but only ~10^6-10^7 distinct first tokens, so the
    first-token SET broadcasts even when the name set cannot. Without
    it every gram is emitted and semantics are unchanged."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        segmenter = (
            HashtagSegmenter(bc_unigram.value) if bc_unigram is not None else None
        )
        starts = bc_start_tokens.value if bc_start_tokens is not None else None
        for pdf in batches:
            conv, turn, s_c, e_c, g_c = [], [], [], [], []
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"].values, pdf["turn_idx"].values, pdf["text"].values
            ):
                if not text:
                    continue
                stream = build_token_stream(text, segmenter)
                n = len(stream)
                for i in range(n):
                    norm0, start0, _e0, brk0, group0 = stream[i]
                    if brk0 or not norm0:
                        continue
                    if starts is not None and norm0 not in starts:
                        continue
                    parts: list[str] = []
                    j = i
                    while j < n and len(parts) < max_tokens:
                        normj, _sj, endj, brkj, groupj = stream[j]
                        if brkj or not normj or groupj != group0:
                            break
                        parts.append(normj)
                        conv.append(conv_id)
                        turn.append(turn_idx)
                        s_c.append(start0)
                        e_c.append(endj)
                        g_c.append(" ".join(parts))
                        j += 1
            yield pd.DataFrame(
                {
                    "conv_id": pd.Series(conv, dtype="object"),
                    "turn_idx": pd.Series(turn, dtype="int32"),
                    "start": pd.Series(s_c, dtype="int32"),
                    "end": pd.Series(e_c, dtype="int32"),
                    "norm": pd.Series(g_c, dtype="object"),
                }
            )

    return transcripts.select("conv_id", "turn_idx", "text").mapInPandas(
        run, schema=_CAND_SCHEMA
    )


def ngram_candidates(
    tokens: DataFrame, max_tokens: int = 4, start_tokens: DataFrame | None = None
) -> DataFrame:
    """Stage B: all 1..max_tokens grams per segment, one shuffle.

    ``start_tokens`` (a ``norm`` column of every gazetteer name's FIRST
    token) gates gram generation: every match must start with one, so
    non-starting token rows are semi-joined away BEFORE the ×max_tokens
    explode feeds the big gazetteer join. The first-token set is one to
    two orders smaller than the name set (planet OSM: ~10^6-10^7 firsts
    vs ~10^8 variants), so it usually broadcasts even when the
    gazetteer cannot — and if not, Catalyst plans an SMJ and the path
    is still valid. Measured at 200k turns the gate helped only 1.24×
    here: the token-row window shuffle dominates this form, which is
    why ``gram_rows`` (shuffle-free candidate emission) is the default
    path; this window form remains as the fully-relational variant."""
    w = Window.partitionBy("conv_id", "turn_idx", "seg").orderBy("pos")
    # window exprs can't live under explode — materialize gram_k/end_k
    # as plain columns first (all leads share the one window spec)
    proj = [F.col("conv_id"), F.col("turn_idx"), F.col("start")]
    gram_expr = F.col("norm")
    for k in range(1, max_tokens + 1):
        if k > 1:
            nxt = F.lead("norm", k - 1).over(w)
            gram_expr = F.when(
                nxt.isNotNull(), F.concat(gram_expr, F.lit(" "), nxt)
            )
        end_k = F.col("end") if k == 1 else F.lead("end", k - 1).over(w)
        proj.append(gram_expr.alias(f"g{k}"))
        proj.append(end_k.alias(f"e{k}"))
    staged = tokens.select(*proj, F.col("norm"))
    if start_tokens is not None:
        staged = staged.join(start_tokens.select("norm").distinct(), "norm", "left_semi")
    unrolled = staged.select(
        "conv_id",
        "turn_idx",
        "start",
        F.explode(
            F.array(
                *[
                    F.struct(F.col(f"g{k}").alias("g"), F.col(f"e{k}").alias("e"))
                    for k in range(1, max_tokens + 1)
                ]
            )
        ).alias("c"),
    )
    return unrolled.where(F.col("c.g").isNotNull()).select(
        "conv_id", "turn_idx", "start", F.col("c.e").alias("end"), F.col("c.g").alias("norm")
    )


def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
    cands = sorted(
        zip(pdf["start"].values, pdf["end"].values, pdf["norm"].values),
        key=lambda c: (-(c[1] - c[0]), -(c[2].count(" ") + 1), c[0], c[2]),
    )
    accepted: list[tuple[int, int, str]] = []
    for s, e, g in cands:
        if all(e <= as_ or s >= ae for as_, ae, _ in accepted):
            accepted.append((int(s), int(e), g))
    accepted.sort()
    return pd.DataFrame(
        {
            "conv_id": pd.Series([pdf["conv_id"].iat[0]] * len(accepted), dtype="object"),
            "turn_idx": pd.Series([pdf["turn_idx"].iat[0]] * len(accepted), dtype="int32"),
            "start": pd.Series([a[0] for a in accepted], dtype="int32"),
            "end": pd.Series([a[1] for a in accepted], dtype="int32"),
            "norm": pd.Series([a[2] for a in accepted], dtype="object"),
        }
    )


def extract_mentions_relational(
    transcripts: DataFrame,
    variants: DataFrame,
    max_tokens: int = 4,
    bc_unigram=None,
    max_start_tokens: int = 10_000_000,
    use_window_form: bool = False,
) -> DataFrame:
    """The full broadcast-free path (module docstring). ``variants``
    (the full NAME set) is never collected; only the far smaller
    distinct-FIRST-token set is, capped by ``max_start_tokens`` —
    past the cap the gate is skipped (pure-join semantics, unchanged
    results). ``use_window_form`` switches stage A+B to the
    fully-relational window variant (slower; kept for the plan-shape
    tests and as the zero-collect escape hatch)."""
    spark = transcripts.sparkSession
    start_tokens = variants.select(
        F.split(F.col("norm"), " ").getItem(0).alias("norm")
    ).distinct()
    if use_window_form:
        tokens = tokenize_relational(transcripts, bc_unigram)
        cands = ngram_candidates(tokens, max_tokens, start_tokens=start_tokens)
    else:
        firsts = [
            r[0] for r in start_tokens.limit(max_start_tokens + 1).collect()
        ]
        bc_starts = (
            spark.sparkContext.broadcast(frozenset(firsts))
            if len(firsts) <= max_start_tokens
            else None
        )
        cands = gram_rows(
            transcripts, max_tokens, bc_unigram=bc_unigram, bc_start_tokens=bc_starts
        )
    matched = cands.join(
        variants.select("norm").distinct(), "norm", "left_semi"
    )
    resolved = matched.groupBy("conv_id", "turn_idx").applyInPandas(
        _greedy, schema=_CAND_SCHEMA
    )
    return resolved.join(
        transcripts.select("conv_id", "turn_idx", "text"), ["conv_id", "turn_idx"]
    ).select(
        "conv_id",
        "turn_idx",
        "start",
        "end",
        F.expr("substring(text, start + 1, end - start)").alias("surface"),
        "norm",
    )
