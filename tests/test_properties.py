"""Property-based tests (hypothesis) for the pure semantic core —
SURVEY.md §5.2 item 3/4. No SparkSession."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from lnex_spark.gazetteer.augment import name_variants, normalize_name
from lnex_spark.operators.textproc import (
    _SKIP_WORDS,
    _TOKEN_RE,
    HashtagSegmenter,
    build_token_stream,
    extract_mentions,
    tokenize_with_spans,
)

TEXTS = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
    max_size=200,
)


@given(TEXTS)
@settings(max_examples=300)
def test_normalize_idempotent(s):
    n = normalize_name(s)
    assert normalize_name(n) == n
    assert n == n.strip()
    assert "  " not in n


@given(TEXTS)
@settings(max_examples=300)
def test_tokenize_spans_exact(s):
    for raw, start, end, _kind in tokenize_with_spans(s):
        assert s[start:end] == raw


def _whole_text_stream(text, segmenter):
    """The token stream as one ``_TOKEN_RE`` pass over the whole text
    builds it: the reference for ``build_token_stream``'s chunked path."""
    stream, group = [], 0
    for m in _TOKEN_RE.finditer(text):
        kind = m.lastgroup
        start, end = m.span()
        if kind == "word":
            low = m.group(0).lower()
            if low in _SKIP_WORDS:
                stream.append(("", start, end, True, -1))
            else:
                stream.append((low, start, end, False, -1))
        elif kind == "num":
            stream.append((m.group(0).lower(), start, end, False, -1))
        elif kind == "hashtag":
            body = m.group(0)[1:].lower()
            group += 1
            for w in segmenter.segment(body) if segmenter else [body]:
                stream.append((w, start, end, False, group))
            stream.append(("", end, end, True, -1))
        else:
            stream.append(("", start, end, True, -1))
    return stream


# Pieces that sit at the edges of the plain-word fast path: letter
# emoticons and emoticon prefixes glued to non-ASCII letters, retweet
# markers, every kind of whitespace, hashtags, URLs, a lone "@",
# apostrophes, digits and letters whose case mapping changes length.
_ADVERSARIAL = st.lists(
    st.sampled_from(
        [
            "xD", "xo", "dox", "Dx", "XP", "xod", "x", "D", "o", "p",
            "xDéjà", "xoé", "éjà", "café",
            "rt", "RT", "Rt",
            " ", " ", " ",  # weighted up: single spaces split chunks
            "  ", "\t", "\n", "\u00a0", "\u3000",
            "#adyarnagar", "#chennai", "#", "http://t.co/x", "www.a.in", "@", "@user",
            "'", "it's", "7", "42nd", "İ", "Σ", "ß",
            "adyar", "Nagar", "RIVER", ":", ";", ")", "(", "-", ".", "^_^", "<3",
        ]
    ),
    max_size=24,
).map("".join)


@given(st.one_of(_ADVERSARIAL, TEXTS), st.booleans())
@settings(max_examples=500)
def test_token_stream_equals_whole_text_regex(text, with_segmenter):
    seg = HashtagSegmenter({"adyar": 5, "nagar": 5, "chennai": 3}) if with_segmenter else None
    assert build_token_stream(text, seg) == _whole_text_stream(text, seg)


@given(st.text(alphabet="abcdefgh", min_size=1, max_size=24))
@settings(max_examples=200)
def test_segmenter_reconstructs_input(s):
    seg = HashtagSegmenter({"ab": 5, "cde": 5, "fgh": 5, "abc": 2})
    assert "".join(seg.segment(s)) == s.lower()


@given(st.lists(st.sampled_from("adyar river guindy lake park the of x7".split()), min_size=2, max_size=6))
@settings(max_examples=200)
def test_variants_never_contain_original_or_empty(tokens):
    norm = " ".join(tokens)
    vs = name_variants(norm, "hr")
    assert norm not in vs
    for v in vs:
        assert v and "  " not in v and v == v.strip()
        # every variant is a subsequence of the original tokens
        it = iter(tokens)
        assert all(any(t == u for u in it) for t in v.split(" "))


@given(TEXTS)
@settings(max_examples=300)
def test_extract_offsets_and_overlap_invariants(text):
    names = frozenset({"adyar river", "adyar", "guindy", "x7 lake"})
    prefixes = frozenset({"adyar", "adyar river", "guindy", "x7", "x7 lake"})
    got = extract_mentions(text, names, prefixes, 2, None)
    spans = []
    for s, e, surface, norm in got:
        assert text[s:e] == surface
        assert norm in names
        spans.append((s, e))
    # overlap resolution leaves pairwise-disjoint spans
    spans.sort()
    for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
        assert e1 <= s2


# single-token words only: "x7" would tokenize as word "x" + num "7"
VOCAB = "adyar river guindy lake park salai anna marina the a big 42".split()


@given(
    st.lists(st.sampled_from(VOCAB), min_size=1, max_size=12),
    st.sets(
        st.tuples(st.sampled_from(VOCAB), st.sampled_from(VOCAB + [""])),
        min_size=1,
        max_size=8,
    ),
)
@settings(max_examples=300, deadline=None)
def test_matcher_equals_bruteforce(tokens, name_pairs):
    """Differential test: the prefix-pruned bottom-up matcher must
    equal a naive enumerate-every-n-gram + greedy longest-wins
    reference on random texts and random gazetteers."""
    from lnex_spark.operators.textproc import extract_mentions

    names = {(f"{a} {b}".strip() if b else a) for a, b in name_pairs}
    prefixes = set()
    mx = 1
    for n in names:
        t = n.split(" ")
        mx = max(mx, len(t))
        for i in range(1, len(t) + 1):
            prefixes.add(" ".join(t[:i]))

    text = " ".join(tokens)
    # brute force over every n-gram with exact char spans
    starts = []
    pos = 0
    for t in tokens:
        starts.append(pos)
        pos += len(t) + 1
    cands = []
    for i in range(len(tokens)):
        for j in range(i, min(i + mx, len(tokens))):
            gram = " ".join(tokens[i : j + 1])
            if gram in names:
                cands.append((starts[i], starts[j] + len(tokens[j]), gram))
    cands.sort(key=lambda c: (-(c[1] - c[0]), c[0], c[2]))
    accepted = []
    for s, e, g in cands:
        if all(e <= as_ or s >= ae for as_, ae, _ in accepted):
            accepted.append((s, e, g))
    accepted.sort()
    want = [(s, e, text[s:e], g) for s, e, g in accepted]

    got = extract_mentions(text, frozenset(names), frozenset(prefixes), mx, None)
    assert got == want


@given(
    st.text(alphabet="abcde", min_size=1, max_size=10),
    st.dictionaries(
        st.text(alphabet="abcde", min_size=1, max_size=4),
        st.integers(min_value=1, max_value=1000),
        min_size=1,
        max_size=8,
    ),
)
@settings(max_examples=300, deadline=None)
def test_segmenter_equals_exhaustive_dp(s, freq):
    """The memoized Viterbi must equal brute-force enumeration of ALL
    segmentations (first-maximal tie-break mirrors the DP's strict->
    earliest-split-wins recursion)."""
    from lnex_spark.operators.textproc import HashtagSegmenter

    sg = HashtagSegmenter(freq)

    def all_segs(x):
        if not x:
            return [()]
        out = [(x,)]
        for i in range(1, min(len(x), sg.max_word_len)):
            for tail in all_segs(x[i:]):
                out.append((x[:i],) + tail)
        return out

    def score(seg):
        p = 1.0
        for w in seg:
            p *= sg._score(w)
        return p

    # replicate the DP's tie-break exactly: atomic-first, then splits
    # in increasing first-cut order, strict > replaces
    def brute(x):
        if not x:
            return ((), 1.0)
        best = ((x,), sg._score(x))
        for i in range(1, min(len(x), sg.max_word_len)):
            tail, ts = brute(x[i:])
            cand = ((x[:i],) + tail, sg._score(x[:i]) * ts)
            if cand[1] > best[1]:
                best = cand
        return best

    got = sg.segment(s)
    want = list(brute(s.lower())[0])
    assert got == want
    # and the winner's score really is the max over every segmentation
    # (independent enumeration; relative tolerance — products of tiny
    # floats associate differently between the two evaluations)
    best_any = max(score(g) for g in all_segs(s.lower()))
    assert score(tuple(got)) >= best_any * (1 - 1e-9)


# gazetteer-name pieces: category / modifier / stop words, free tokens,
# digits, apostrophes and non-ASCII; joined by spaces, hyphens, slashes
_NAME_TOKENS = (
    "airport road lake mall nagar park river street".split()
    + "international north old central".split()
    + "the of de la and".split()
    + ["adyar", "guindy", "velachery", "42", "7th", "o'brien", "t'nagar", "'s"]
    + ["café", "münchen", "東京", "x2"]
)
_SEPS = [" ", " ", " ", "-", "/", " / ", "_", "  "]


@st.composite
def _gaz_names(draw):
    toks = draw(st.lists(st.sampled_from(_NAME_TOKENS), min_size=1, max_size=6))
    return "".join(t if i == 0 else draw(st.sampled_from(_SEPS)) + t for i, t in enumerate(toks))


@st.composite
def _gazetteers(draw):
    n = draw(st.integers(min_value=1, max_value=6))
    return [
        {
            "geo_id": i + 1,
            "name": draw(_gaz_names()),
            "alt_names": draw(st.lists(_gaz_names(), max_size=2)),
            "category": draw(st.sampled_from([None, "place", "aeroway", "highway", "amenity", "shop"])),
            "lat": 13.0,
            "lon": 80.0,
            "region": "r",
        }
        for i in range(n)
    ]


_STOP_POOL = ["the", "of", "a", "adyar", "lake", "42", "north", "café", "x2"]


@given(_gazetteers(), st.data(), st.sampled_from(["hp", "hr"]))
@settings(max_examples=300, deadline=None)
def test_engine_variants_equal_gold(gaz, data, mode):
    """The engine's driver-side G2-G6 equals the gold annotator's
    independent variant map and LM on random gazetteers. Stopwords mix
    single words with whole gazetteer names, which only the stopword
    list (not the single-token noise rule) removes."""
    from lnex_spark.data import fixtures as FX
    from lnex_spark.gazetteer.augment import normalize_name
    from lnex_spark.gazetteer.build import build_unigram, build_variants

    pool = _STOP_POOL + sorted({normalize_name(e["name"]) for e in gaz})
    stopwords = data.draw(st.sets(st.sampled_from(pool), max_size=5))
    wordlist = data.draw(
        st.lists(st.tuples(st.sampled_from(_STOP_POOL + ["flood"]), st.integers(1, 99)), max_size=4)
    )
    rows = build_variants(gaz, stopwords, mode)
    vmap = FX.build_variant_map(gaz, stopwords, mode)
    got = sorted((r[0], r[1], r[2], r[7]) for r in rows)
    assert got == sorted((v, gid, mt, cp) for v, cands in vmap.items() for gid, mt, cp in cands)
    assert build_unigram(rows, wordlist) == FX.build_lm(vmap, wordlist)
