"""Seeded workload inputs: transcript parquet plus gold triples.

Everything here is a pure function of ``(workload, seed)``; the program
under test only ever sees the parquet files written here. Gold triples
come from the independent brute-force annotator
``lnex_spark.data.fixtures.gold_annotations`` over exactly the rows
written, so a check compares the Spark pipeline with a second
implementation rather than with itself.

What the seed varies: the text of every turn and the share of turns
held by the one hot conversation. What it never varies: the workload's
size and shape.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

import pandas as pd

from lnex_spark.data import fixtures as FX

EVENT = "chennai"
_EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)
_ROLES = ("user", "assistant", "tool")

Triple = tuple[str, int]  # (subj, obj); pred is always mentionsLocation


def render_text(rng: random.Random, gazetteer: list[dict]) -> str:
    """One turn in the style of ``fixtures.gen_transcripts``: filler
    words with 0-3 planted mentions (exact, alt-name, skip-gram variant
    or hashtag forms, some edge-punctuated) and an occasional decoy."""
    n_mentions = rng.choice((0, 0, 1, 1, 1, 2, 2, 3))
    pieces: list[str] = []
    for g in range(n_mentions + 1):
        pieces.append(" ".join(rng.choice(FX.FILLER) for _ in range(rng.randint(3, 9))))
        if g < n_mentions:
            pieces.append(FX._mention_renders(rng.choice(gazetteer), rng))
    if rng.random() < 0.15:
        pieces.append(f"{rng.choice(FX.EVENTS[EVENT]['stems']).capitalize()} Cinema")
    return " ".join(pieces)


def gen_rows(
    rng: random.Random,
    gazetteer: list[dict],
    n_turns: int,
    n_convs: int,
    hot_share: float,
) -> list[dict]:
    """Near-unique transcript rows in arrival (timestamp) order.

    Each turn joins conversation 0 with probability ``hot_share``; the
    rest are dealt round-robin over the other conversations."""
    next_turn = [0] * n_convs
    rows = []
    for i in range(n_turns):
        conv = 0 if rng.random() < hot_share else 1 + i % (n_convs - 1)
        turn = next_turn[conv]
        next_turn[conv] += 1
        rows.append(
            {
                "conv_id": f"{EVENT}-c{conv:06d}",
                "turn_idx": turn,
                "role": _ROLES[turn % 3],
                "text": render_text(rng, gazetteer),
                "tool": "search" if turn % 7 == 0 else "",
                "ts": _EPOCH + timedelta(seconds=17 * i),
            }
        )
    return rows


def write_parquet(rows: list[dict], path: str) -> None:
    """Write transcript rows with the repo's schema. Timestamps go out
    as microseconds: Spark rejects pandas' default nanosecond parquet
    timestamps (PARQUET_TYPE_ILLEGAL)."""
    df = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    df["turn_idx"] = df["turn_idx"].astype("int32")
    df["ts"] = df["ts"].astype("datetime64[us, UTC]")
    df.to_parquet(path, index=False)


def gold_triples(rows: list[dict], gazetteer: list[dict]) -> set[Triple]:
    """Distinct (conv_id#turn_idx, geo_id) pairs of the gold annotator."""
    return {
        (f"{a['conv_id']}#{a['turn_idx']}", int(a["geo_id"]))
        for a in FX.gold_annotations(rows, gazetteer)
    }


def precision_recall(emitted: set[Triple], gold: set[Triple]) -> tuple[float, float]:
    """Set-semantics P/R, as operators/evaluate.precision_recall."""
    tp = len(emitted & gold)
    return (tp / len(emitted) if emitted else 0.0, tp / len(gold) if gold else 0.0)
