"""Dedup and text-quality operator tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lnex_spark.operators import dedup, textquality


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over a lazy dog"),  # near dup
        (3, "completely different words entirely here now"),
        (4, ""),
        (5, "der hund und die katze ist nicht da"),
        (6, "le chat et la souris des les oiseaux"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs):
    got = dedup.exact_duplicates(docs).collect()
    assert len(got) == 1
    assert got[0]["n_docs"] == 2 and got[0]["keep_doc_id"] == 0


def test_shingles(docs):
    sh = dedup.shingles(docs.filter("doc_id = 0"), n=3).collect()
    texts = {r["shingle"] for r in sh}
    assert "the quick brown" in texts and "the lazy dog" in texts
    assert len(sh) == 7  # 9 tokens -> 7 trigrams (all distinct)


def test_minhash_lsh_finds_near_dups(docs):
    sigs = dedup.minhash_signatures(docs, k=8, n=3)
    pairs = {(r["doc_a"], r["doc_b"]) for r in dedup.lsh_candidate_pairs(sigs, bands=4).collect()}
    assert (0, 1) in pairs  # exact dups always collide
    assert all(a < b for a, b in pairs)


def test_jaccard_pairs(docs):
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in dedup.jaccard_pairs(docs, n=3, threshold=0.3).collect()}
    assert got[(0, 1)] == 1.0
    assert 0.3 <= got[(0, 2)] < 1.0
    assert (0, 3) not in got


def test_simhash_hamming(docs):
    sigs = dedup.simhash_signatures(docs)
    near = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in dedup.simhash_near_dups(sigs, max_hamming=6).collect()}
    assert near[(0, 1)] == 0  # identical text -> identical signature
    assert (0, 2) in near  # one-word change -> few bits


def test_token_count_and_fingerprint(docs):
    tc = {r["doc_id"]: r["n_tokens"] for r in docs.select("doc_id", textquality.token_count_col(F.col("text")).alias("n_tokens")).collect()}
    assert tc[0] == 9 and tc[4] == 0
    fp = {r["doc_id"]: r["fp"] for r in textquality.fingerprint(docs).collect()}
    assert fp[0] == fp[1] and fp[0] != fp[2]


def test_lang_id(docs):
    got = {r["doc_id"]: r["pred_lang"] for r in textquality.lang_id(docs).collect()}
    assert got[0] == "en" and got[5] == "de" and got[6] == "fr"
    assert got[3] == "und"  # no marker hits


def test_quality_score_bounds(docs):
    rows = textquality.quality_features(docs).collect()
    for r in rows:
        assert 0.0 <= r["quality_score"] <= 1.0
        assert r["punct_ratio"] >= 0.0 and r["stop_ratio"] >= 0.0


def test_prefix_filter_matches_bruteforce(docs):
    """The prefix-filtered join must emit EXACTLY the pairs the
    unrestricted postings join finds at the same threshold — the
    no-candidate-loss guarantee of the AllPairs prefix bound."""
    brute = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(docs, n=3, threshold=0.3).collect()
    }
    pref = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.prefix_filter_pairs(docs, n=3, threshold=0.3).collect()
    }
    assert pref == brute
    assert pref[(0, 1)] == 1.0  # exact dup pair survives


def test_prefix_filter_high_threshold_drops_near_dup(docs):
    pref = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.prefix_filter_pairs(docs, n=3, threshold=0.95).collect()
    }
    assert pref == {(0, 1)}  # only the exact duplicate reaches 0.95
