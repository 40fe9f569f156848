"""The KG build paths link every mention through ONE precomputed
``norm → best variant`` lookup (``GazetteerModel.best``). These tests
pin that lookup to the per-mention reference chain it replaced — L1
over every candidate, L2 best per mention, L3 corpus-wide vote — row
for row on every column, on the fixture transcripts and on seeded
benchmark inputs, plus the two properties that make it exact: one
lookup row per norm, and at most one mention per span."""

from __future__ import annotations

import random
from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lnex_spark.data import fixtures as FX
from lnex_spark.gazetteer.augment import name_variants, normalize_name
from lnex_spark.operators.extract import extract_mentions_df
from lnex_spark.operators.link import (
    apply_canonical,
    canonicalize,
    link_mentions,
    score_candidates,
)
from lnex_spark.operators.textproc import HashtagSegmenter, extract_mentions
from lnex_spark.pipeline import build_gazetteer, extract_link
from perfbench import inputs as IN
from tests.conftest import (
    to_spark_gaz,
    to_spark_stopwords,
    to_spark_transcripts,
    to_spark_wordlist,
)


@pytest.fixture(scope="module")
def model(spark, fixture_data):
    return build_gazetteer(
        spark,
        to_spark_gaz(spark, fixture_data["gaz"]),
        to_spark_stopwords(spark, fixture_data["stopwords"]),
        to_spark_wordlist(spark, fixture_data["wordlist"]),
    )


@pytest.fixture(scope="module", params=["fixtures", "seed7", "seed11"])
def transcripts(request, spark, fixture_data):
    if request.param == "fixtures":
        rows = fixture_data["transcripts"]
    else:
        seed = int(request.param[len("seed"):])
        rows = IN.gen_rows(random.Random(seed), fixture_data["gaz"], 1500, 40, hot_share=0.2)
    return to_spark_transcripts(spark, rows)


def _rows(df) -> Counter:
    """Row multiset over every column, in a column order fixed by name."""
    return Counter(tuple(r) for r in df.select(*sorted(df.columns)).collect())


@pytest.mark.parametrize(
    "kwargs",
    [{}, {"salt_partitions": 4}],
    ids=["unsalted", "salted"],
)
def test_extract_link_equals_reference_chain(model, transcripts, kwargs):
    w = score_candidates(
        link_mentions(extract_mentions_df(transcripts, model.bc_struct), model.variants)
    )
    want = apply_canonical(w, canonicalize(w))
    got = extract_link(transcripts, model, **kwargs)
    assert sorted(got.columns) == sorted(want.columns)
    want_rows = _rows(want)
    assert want_rows and _rows(got) == want_rows


def test_best_has_one_row_per_norm(model):
    norms = model.variants.select("norm").distinct().count()
    assert model.best.count() == model.best.select("norm").distinct().count() == norms


def _match_inputs():
    """Matcher inputs from the fixture gazetteer's names and their
    skip-gram variants — no Spark."""
    names = set()
    for g in FX.gen_gazetteer("chennai"):
        for raw in [g["name"], *g["alt_names"]]:
            norm = normalize_name(raw)
            if norm:
                names |= {norm, *name_variants(norm)}
    prefixes = {" ".join(n.split(" ")[:i]) for n in names for i in range(1, len(n.split(" ")) + 1)}
    unigram = Counter(t for n in names for t in n.split(" "))
    max_tokens = max(len(n.split(" ")) for n in names)
    return sorted(names), frozenset(names), frozenset(prefixes), max_tokens, HashtagSegmenter(dict(unigram))


_NAMES, _FULL, _PREFIXES, _MAX_TOKENS, _SEGMENTER = _match_inputs()
_PIECE = st.one_of(
    st.sampled_from(_NAMES).map(str.title),
    st.sampled_from(_NAMES).map(lambda n: "#" + n.replace(" ", "")),
    st.sampled_from(FX.FILLER),
    st.sampled_from([",", ".", "!", "@user", "of", "the"]),
)


@given(st.lists(_PIECE, max_size=16))
@settings(max_examples=300, deadline=None)
def test_extract_mentions_one_mention_per_span(pieces):
    text = " ".join(pieces)
    spans = [(s, e) for s, e, _surface, _norm in extract_mentions(text, _FULL, _PREFIXES, _MAX_TOKENS, _SEGMENTER)]
    assert len(spans) == len(set(spans))
