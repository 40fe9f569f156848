"""Unit tests for the pure text-processing core (no SparkSession)."""

from __future__ import annotations

from lnex_spark.gazetteer.augment import is_noise_name, name_variants, normalize_name
from lnex_spark.operators.textproc import (
    HashtagSegmenter,
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
    from lnex_spark.gazetteer.build import (
        build_match_struct,
        build_name_variants,
        build_unigram_lm,
    )
    from lnex_spark.operators.extract import extract_mentions_df
    from tests.conftest import to_spark_gaz, to_spark_stopwords, to_spark_wordlist

    variants = build_name_variants(
        to_spark_gaz(spark, fixture_data["gaz"]),
        to_spark_stopwords(spark, fixture_data["stopwords"]),
    )
    bc = build_match_struct(spark, variants, build_unigram_lm(variants, None))
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
