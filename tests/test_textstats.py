"""Engine-level invariants for the corpus-statistics operators
(operators/textstats.py), pinned on tiny hand-checkable inputs.
"""

from __future__ import annotations

import math

import pytest

from lnex_spark.operators.textstats import bm25, pmi_pairs, tfidf, tfidf_top_terms


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "apple banana apple"),
        (1, "banana cherry"),
        (2, "apple banana cherry durian"),
        (3, "durian durian durian"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_tfidf_matches_hand_computation(docs):
    rows = {(r.doc_id, r.tok): (r.tf, r.score) for r in tfidf(docs).collect()}
    # 'apple' appears in docs {0, 2} → df=2, N=4 → idf = ln(5/3)
    idf_apple = math.log(5 / 3)
    assert rows[(0, "apple")][0] == 2
    assert rows[(0, "apple")][1] == pytest.approx(round(2 * idf_apple, 6), abs=1e-9)
    # 'banana' is in 3 of 4 docs → lowest idf of the vocab
    assert rows[(1, "banana")][1] < rows[(1, "cherry")][1]


def test_tfidf_top_term_is_rarest_heaviest(docs):
    top = {r.doc_id: r.tok for r in tfidf_top_terms(docs).collect()}
    # doc 0: apple tf=2 & rarer than banana → apple wins
    assert top[0] == "apple"
    # doc 3: only durian
    assert top[3] == "durian"


def test_bm25_rewards_tf_and_rarity(docs):
    scores = {r.doc_id: r.bm25 for r in bm25(docs, ["durian"]).collect()}
    # only docs containing 'durian' are scored, higher tf → higher score
    assert set(scores) == {2, 3}
    assert scores[3] > scores[2] > 0


def test_bm25_empty_query_terms(docs):
    assert bm25(docs, ["zucchini"]).count() == 0


def test_pmi_pair_ordering_and_value(docs):
    out = {(r.tok_a, r.tok_b): (r.n_ab, r.pmi) for r in pmi_pairs(docs, min_pair_count=1).collect()}
    # pairs are emitted once, tok_a < tok_b
    assert all(a < b for a, b in out)
    # apple+banana co-occur in 2 docs; apple in 2, banana in 3, N=4
    n_ab, pmi = out[("apple", "banana")]
    assert n_ab == 2
    assert pmi == pytest.approx(round(math.log(2 * 4 / (2 * 3)), 6), abs=1e-9)
    # min_pair_count filters the singleton pairs
    out2 = {(r.tok_a, r.tok_b) for r in pmi_pairs(docs, min_pair_count=2).collect()}
    assert out2 == {("apple", "banana"), ("banana", "cherry")}


def test_bpe_merges_hand_corpus(spark):
    """'low'x3 + 'lower'x1 — round 1: (l,o) and (o,w) tie at freq 4,
    (l,o) wins on pair order; round 2: (lo,w) freq 4; round 3: after
    'low' collapses to one symbol, (low,e) and (e,r) tie at freq 1 and
    'e' < 'low' picks (e,r)."""
    from lnex_spark.operators.textstats import bpe_merges

    docs = spark.createDataFrame(
        [(0, "low low"), (1, "low lower")], "doc_id long, text string"
    )
    got = [(r.rank, r.lhs, r.rhs, r.freq) for r in bpe_merges(docs, rounds=3).collect()]
    assert got == [(1, "l", "o", 4), (2, "lo", "w", 4), (3, "e", "r", 1)]



def test_bpe_merges_repartition_invariant(spark):
    """Merge choices depend on global pair counts with explicit tie
    order — the training loop must not care how the corpus is
    partitioned."""
    from lnex_spark.operators.textstats import bpe_merges

    rows = [(i, f"low lower lowest slow slower w{i % 7}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    m1 = [tuple(r) for r in bpe_merges(docs.repartition(1), rounds=3).collect()]
    m8 = [tuple(r) for r in bpe_merges(docs.repartition(8), rounds=3).collect()]
    assert m1 == m8 and len(m1) == 3


def test_bucketed_exact_quantile_matches_sorted_pick(spark):
    import math

    from lnex_spark.operators.quantiles import bucketed_exact_quantile

    vals = [5.0, 1.0, 3.0, 3.0, 9.0, 7.0, 3.0, 2.0]  # ties on 3.0
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    s = sorted(vals)
    for q in (0.01, 0.5, 0.75, 0.99):
        n, k, got = bucketed_exact_quantile(df, "x", q, bucket_width=2.0)
        assert (n, k) == (len(vals), math.ceil(q * len(vals)))
        assert got == s[k - 1]
