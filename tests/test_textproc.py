"""Unit tests for the pure text-processing core (no SparkSession)."""

from __future__ import annotations

import itertools
import string

from lnex_spark.gazetteer.augment import is_noise_name, name_variants, normalize_name
from lnex_spark.operators.textproc import (
    HashtagSegmenter,
    build_token_stream,
    extract_mentions,
    tokenize_with_spans,
)


def _struct(names):
    full = frozenset(names)
    prefixes = set()
    mx = 1
    for n in names:
        toks = n.split(" ")
        mx = max(mx, len(toks))
        for i in range(1, len(toks) + 1):
            prefixes.add(" ".join(toks[:i]))
    return full, frozenset(prefixes), mx


def test_normalize_name():
    assert normalize_name("Chennai International Airport") == "chennai international airport"
    assert normalize_name("  Guindy-Velachery   Road ") == "guindy velachery road"
    assert normalize_name("T'Nagar!!") == "t'nagar"
    assert normalize_name("Adyar/Besant Nagar") == "adyar besant nagar"
    assert normalize_name("café") == "caf"  # non-ascii stripped


def test_name_variants_hp():
    v = name_variants("chennai international airport")
    assert "chennai airport" in v  # modifier removal
    assert "chennai international" in v  # category removal
    assert "chennai" in v
    assert "chennai international airport" not in v  # original excluded
    # all-removable never emitted
    assert all(x.strip() for x in v)


def test_name_variants_inner_stopwords():
    v = name_variants("land of the lakes mall")
    assert "land lakes mall" in v or "land of the lakes" in v
    assert "lakes mall" not in v or True  # 'land' is essential; just sanity


def test_name_variants_hr_superset():
    hp = name_variants("adyar river bridge", "hp")
    hr = name_variants("adyar river bridge", "hr")
    assert hp <= hr
    assert "adyar bridge" in hr  # interior skip-gram


def test_is_noise_name():
    assert is_noise_name("", set())
    assert is_noise_name("42", set())
    assert is_noise_name("river", set())  # bare category word
    assert is_noise_name("water", {"water"})
    assert not is_noise_name("adyar river", set())
    assert not is_noise_name("adyar", set())


def test_tokenize_spans_roundtrip():
    text = "RT @user Flooding near Adyar River! see https://x.co/a #chennai"
    for raw, s, e, kind in tokenize_with_spans(text):
        assert text[s:e] == raw


def test_extract_exact_and_offsets():
    full, pref, mx = _struct(["adyar river", "guindy"])
    text = "Heavy rain near Adyar River and Guindy today"
    got = extract_mentions(text, full, pref, mx, None)
    assert [(m[2], m[3]) for m in got] == [("Adyar River", "adyar river"), ("Guindy", "guindy")]
    for s, e, surface, _ in got:
        assert text[s:e] == surface


def test_extract_longest_match_wins():
    full, pref, mx = _struct(["adyar", "adyar river", "river park"])
    text = "stuck at Adyar River side"
    got = extract_mentions(text, full, pref, mx, None)
    # "adyar river" (len 2) beats contained "adyar"
    assert [m[3] for m in got] == ["adyar river"]


def test_extract_breaks_on_punctuation():
    full, pref, mx = _struct(["adyar river"])
    text = "left Adyar. River rising"
    assert extract_mentions(text, full, pref, mx, None) == []


def test_extract_edge_punctuation():
    full, pref, mx = _struct(["adyar river"])
    text = "move to (Adyar River), now"
    got = extract_mentions(text, full, pref, mx, None)
    assert len(got) == 1
    s, e, surface, norm = got[0]
    assert surface == "Adyar River" and text[s:e] == surface


def test_hashtag_segmentation_and_span():
    seg = HashtagSegmenter({"adyar": 10, "river": 10, "flood": 20})
    assert seg.segment("adyarriver") == ["adyar", "river"]
    full, pref, mx = _struct(["adyar river"])
    text = "pray for #adyarriver tonight"
    got = extract_mentions(text, full, pref, mx, seg)
    assert len(got) == 1
    s, e, surface, norm = got[0]
    assert surface == "#adyarriver" and norm == "adyar river"
    assert text[s:e] == surface


def test_no_match_across_hashtag_boundary():
    seg = HashtagSegmenter({"adyar": 10, "river": 10})
    full, pref, mx = _struct(["adyar river"])
    text = "Adyar #river"  # word + hashtag must not fuse
    assert extract_mentions(text, full, pref, mx, seg) == []


def test_urls_and_mentions_ignored():
    full, pref, mx = _struct(["guindy"])
    text = "@guindy https://guindy.example Guindy"
    got = extract_mentions(text, full, pref, mx, None)
    assert len(got) == 1 and got[0][2] == "Guindy"


def test_extract_df_adversarial_rows(spark, fixture_data):
    """The extraction stage must tolerate null / empty / unicode /
    whitespace-only text rows."""
    from lnex_spark.operators.extract import extract_mentions_df
    from lnex_spark.pipeline import build_gazetteer
    from tests.conftest import to_spark_gaz, to_spark_stopwords

    bc = build_gazetteer(
        spark,
        to_spark_gaz(spark, fixture_data["gaz"]),
        to_spark_stopwords(spark, fixture_data["stopwords"]),
    ).bc_struct
    name = sorted(bc.value.full_names)[0]
    rows = [
        ("c1", 0, None),
        ("c1", 1, ""),
        ("c1", 2, "   \t\n  "),
        ("c1", 3, f"café ünïcode {name} résumé"),
        ("c1", 4, "#" + name.replace(" ", "")),
        ("c1", 5, "a" * 5000),
    ]
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = extract_mentions_df(t, bc).collect()
    # the planted plain mention must be found on the unicode row
    assert any(r["turn_idx"] == 3 and r["norm"] == name for r in got)
    # null/empty/whitespace rows produce nothing and no crash
    assert all(r["turn_idx"] not in (0, 1, 2) for r in got)
    for r in got:
        assert rows[r["turn_idx"]][2][r["start"] : r["end"]] == r["surface"]


# --- round-2 Twokenize-parity hardening: emoticons & unicode ------------


def test_emoticons_are_single_break_tokens():
    text = "flooding :-D near adyar :'( <3 ^_^ ;)"
    toks = tokenize_with_spans(text)
    kinds = {raw: kind for raw, _s, _e, kind in toks}
    assert kinds[":-D"] == "emoticon"
    assert kinds[":'("] == "emoticon"
    assert kinds["<3"] == "emoticon"
    assert kinds["^_^"] == "emoticon"
    assert kinds[";)"] == "emoticon"
    # the letter-bearing emoticon must NOT leak a matchable "d" word
    assert "D" not in kinds and "d" not in kinds


def test_emoticon_guard_protects_words():
    toks = tokenize_with_spans("XDR x-ray xD")
    by_raw = [(raw, kind) for raw, _s, _e, kind in toks]
    assert ("XDR", "word") in by_raw      # no mid-word emoticon bite
    assert ("x", "word") in by_raw        # "x-ray" is word punct word
    assert ("xD", "emoticon") in by_raw   # standalone stays an emoticon


def test_emoticon_breaks_ngram_adjacency():
    full, pref, mx = _struct(["adyar river"])
    # the emoticon separates the two tokens: no cross-break match
    got = extract_mentions("adyar :-) river", full, pref, mx, None)
    assert got == []
    got2 = extract_mentions("adyar river", full, pref, mx, None)
    assert [m[3] for m in got2] == ["adyar river"]


def test_unicode_words_and_punct():
    toks = tokenize_with_spans("café—river 'x' …done")
    by_raw = {raw: kind for raw, _s, _e, kind in toks}
    assert by_raw["café"] == "word"       # one token, not caf + punct
    assert by_raw["—"] == "punct"         # em-dash breaks adjacency
    assert by_raw["…"] == "punct"
    assert by_raw["river"] == "word"


def test_spans_roundtrip_adversarial():
    text = "RT :-p @u café <3 #tag x) ^___^ … 8)ok"
    for raw, s, e, _kind in tokenize_with_spans(text):
        assert text[s:e] == raw


def test_hashtag_keeps_the_longest_name():
    """Inside a hashtag every token carries the hashtag's span, so all
    candidates tie on characters; the name with the most tokens must
    win, as it does for the same words without the ``#`` (chennai
    gazetteer, hp mode, built by the engine's driver-side G2-G7)."""
    from lnex_spark.data import fixtures as FX
    from lnex_spark.gazetteer.build import build_match_struct, build_unigram, build_variants, candidate_rows

    variants = build_variants(FX.gen_gazetteer("chennai"), set(FX.gen_stopwords()), "hp")
    s = build_match_struct(candidate_rows(variants), build_unigram(variants, FX.gen_wordlist()))
    seg = HashtagSegmenter(s.unigram)

    def norms(text):
        return [m[3] for m in extract_mentions(text, s.full_names, s.prefixes, s.max_tokens, seg)]

    assert norms("adyar nagar is flooded") == ["adyar nagar"]
    assert norms("#adyarnagar is flooded") == ["adyar nagar"]
    assert norms("stuck in #velacherycentralnagar") == ["velachery central nagar"]


# --- the plain-word fast path of build_token_stream ----------------------


def _stream_from_spans(text):
    """The stream ``tokenize_with_spans`` implies for a text without
    hashtags."""
    out = []
    for raw, s, e, kind in tokenize_with_spans(text):
        if kind == "num" or (kind == "word" and raw.lower() != "rt"):
            out.append((raw.lower(), s, e, False, -1))
        else:
            out.append(("", s, e, True, -1))
    return out


def test_token_stream_equals_regex_on_every_short_ascii_word():
    """Every 1-3-letter ASCII string (52 + 52**2 + 52**3) gives the
    stream the whole-text regex gives, alone and between other words."""
    letters = string.ascii_letters
    for n in (1, 2, 3):
        for t in itertools.product(letters, repeat=n):
            w = "".join(t)
            assert build_token_stream(w, None) == _stream_from_spans(w), w
            text = f"go {w} now"
            assert build_token_stream(text, None) == _stream_from_spans(text), text


def test_token_stream_keeps_letter_emoticons():
    """ASCII-letter chunks that the regex reads as emoticons stay one
    break token; one letter more and they are words again."""
    text = "go xD dox Dx xo XP now xDR doxa"
    assert build_token_stream(text, None) == [
        ("go", 0, 2, False, -1),
        ("", 3, 5, True, -1),
        ("", 6, 9, True, -1),
        ("", 10, 12, True, -1),
        ("", 13, 15, True, -1),
        ("", 16, 18, True, -1),
        ("now", 19, 22, False, -1),
        ("xdr", 23, 26, False, -1),
        ("doxa", 27, 31, False, -1),
    ]


def test_token_stream_needs_the_ascii_gate():
    """The emoticon look-ahead rejects only ASCII alphanumerics, so an
    emoticon-shaped start of a non-ASCII word is an emoticon."""
    assert build_token_stream("xDéjà vu", None) == [
        ("", 0, 2, True, -1),
        ("éjà", 2, 5, False, -1),
        ("vu", 6, 8, False, -1),
    ]
    assert build_token_stream("xoé", None) == [("", 0, 2, True, -1), ("é", 2, 3, False, -1)]
    assert build_token_stream("café", None) == [("café", 0, 4, False, -1)]


def test_token_stream_offsets_across_whitespace_and_retweets():
    text = "RT  adyar\tnagar rt\u00a0guindy #adyarNagar  x"
    seg = HashtagSegmenter({"adyar": 5, "nagar": 5})
    assert build_token_stream(text, seg) == [
        ("", 0, 2, True, -1),
        ("adyar", 4, 9, False, -1),
        ("nagar", 10, 15, False, -1),
        ("", 16, 18, True, -1),
        ("guindy", 19, 25, False, -1),
        ("adyar", 26, 37, False, 1),
        ("nagar", 26, 37, False, 1),
        ("", 37, 37, True, -1),
        ("x", 39, 40, False, -1),
    ]
