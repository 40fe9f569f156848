"""Tweet-style tokenization, hashtag segmentation and the bottom-up
n-gram matcher (T2, T3, M1, M2, M3).

Pure functions, no Spark imports. They run inside the one mapInPandas
extraction stage (operators/extract.py) and in the driver-side gold
annotator, and are unit-tested without a SparkSession. The behavioral
model is LNEx's (COLING 2018 §3.3-§4.2): tweet-aware tokens (URLs,
@mentions and punctuation are not matchable and break n-gram
adjacency), unigram-LM hashtag segmentation, bottom-up n-gram growth
pruned by the gazetteer's prefix set, longest-match-wins overlap
resolution, and char offsets into the original text
(``text[start:end] == surface``).

Tokenizer rule (:func:`build_token_stream`): split the text on single
spaces and keep a running offset. A chunk of ASCII letters only that
is not one of the 32 letter-only emoticons (``_LETTER_EMOTICONS``) is
exactly one ``word`` token, or a break if it is a ``_SKIP_WORDS``
word; every other chunk goes through ``_TOKEN_RE`` on that chunk
alone, with its offsets shifted by the chunk's start. That gives the
same stream as ``_TOKEN_RE`` over the whole text:

  * no ``_TOKEN_RE`` alternative matches whitespace, and its only
    look-around is the emoticon look-ahead ``(?![A-Za-z0-9])``; at a
    chunk boundary it sees whitespace or the end of the string, and
    both satisfy it, so tokenizing each chunk alone gives the same
    tokens as tokenizing the whole text;
  * in an all-ASCII-letter chunk an emoticon-shaped prefix is followed
    by an ASCII letter, so the look-ahead fails unless the emoticon is
    the whole chunk (the 32 are every such 1-3-letter string);
  * ``url``, ``mention`` and ``hashtag`` each need a ``:``, ``.``,
    ``@`` or ``#``, so ``word`` takes the whole chunk;
  * the ASCII gate is required: the look-ahead rejects only ASCII
    alphanumerics, so ``xDéjà`` is emoticon ``xD`` + word ``éjà``.
"""

from __future__ import annotations

import re
from functools import lru_cache

# Twokenize-parity notes (reference LNEx/tokenizer.py is the ARK
# Twokenize port; emoticon/unicode classes hardened in round 2):
#   * emoticons — including letter-bearing ones like :D :-p xD — are
#     ONE break token, not punct+word (":-D" must not leak a matchable
#     "d" token into n-gram growth); the trailing (?![A-Za-z0-9])
#     guard keeps emoticon eyes/mouths from biting into real words
#     ("XDR" stays a word, "x-ray" is not "x-eyes + nose + …");
#   * words are unicode-aware ([^\W\d_] = any letter): "café" is one
#     token, not "caf" + punct, and unicode punctuation (em-dash,
#     curly quotes, ellipsis) falls through to the punct break class.
_TOKEN_RE = re.compile(
    r"""
    (?P<url>https?://\S+|www\.\S+)
  | (?P<emoticon>
        (?:[<♥❤]3)                              # hearts <3 ♥3 ❤3
      | (?:[:;=8xX][\-o^*']?[)\](\[dDpP/\\|oO3*@$}{])     # eyes-nose-mouth
      | (?:[)\](\[dD/\\|}{][\-o^*']?[:;=8xX])             # mouth-first
      | (?:\^_+\^)
    )(?![A-Za-z0-9])
  | (?P<mention>@\w+)
  | (?P<hashtag>\#\w+)
  | (?P<word>[^\W\d_](?:[^\W\d_]|')*)
  | (?P<num>\d+\w*)
  | (?P<punct>[^\sA-Za-z0-9@#])
    """,
    re.VERBOSE,
)

# "RT" retweet marker is skipped like the reference's preprocessing.
_SKIP_WORDS = frozenset({"rt"})

# Every ASCII-letter string that _TOKEN_RE reads as an emoticon, not a
# word: all are 2-3 letters (eyes-mouth, eyes-nose-mouth, mouth-first).
_LETTER_EMOTICONS = frozenset(
    "xd xD xo xO xp xP Xd XD Xo XO Xp XP dx dX Dx DX "
    "xod xoD xoo xoO xop xoP Xod XoD Xoo XoO Xop XoP dox doX Dox DoX".split()
)


# Stream token = (norm, start, end, is_break, group):
#   norm      lowercased match text ("" for non-matchable)
#   start/end char offsets into the ORIGINAL text
#   is_break  True → n-grams never cross this position
#   group     hashtag group id (-1 = plain word)
# Plain tuples, not a dataclass: this is the per-token hot path of the
# Arrow matcher and attribute construction cost dominates otherwise.


def tokenize_with_spans(text: str) -> list[tuple[str, int, int, str]]:
    """T2: (raw, start, end, kind) for every lexical token. Offsets
    index the original string: ``text[start:end] == raw``."""
    out = []
    for m in _TOKEN_RE.finditer(text):
        kind = m.lastgroup or "punct"
        out.append((m.group(0), m.start(), m.end(), kind))
    return out


class HashtagSegmenter:
    """T3: Norvig-style unigram-LM word segmentation for hashtags.

    ``freq`` maps token -> count (the G6 unigram LM over gazetteer
    names + wordlist); unknown words get a length-penalized floor so
    known segmentations always win.
    """

    def __init__(self, freq: dict[str, int], max_word_len: int = 20):
        self.freq = freq
        self.total = max(sum(freq.values()), 1)
        self.max_word_len = max_word_len
        # lru_cache per instance without leaking self in the key
        self._seg = lru_cache(maxsize=65536)(self._segment_uncached)

    def _score(self, w: str) -> float:
        c = self.freq.get(w)
        if c:
            return c / self.total
        return 10.0 / (self.total * 10 ** len(w))

    def _segment_uncached(self, s: str) -> tuple[tuple[str, ...], float]:
        if not s:
            return (), 1.0
        best: tuple[tuple[str, ...], float] = ((s,), self._score(s))
        for i in range(1, min(len(s), self.max_word_len)):
            head, hs = (s[:i],), self._score(s[:i])
            tail, ts = self._seg(s[i:])
            if hs * ts > best[1]:
                best = (head + tail, hs * ts)
        return best

    def segment(self, s: str) -> list[str]:
        return list(self._seg(s.lower())[0])


def build_token_stream(
    text: str, segmenter: HashtagSegmenter | None
) -> list[tuple[str, int, int, bool, int]]:
    """T2+T3 fused: matchable token stream with original-text spans.

    URLs/@mentions/punctuation become break tokens (n-grams never
    cross them); hashtags expand into per-word tokens that all carry
    the hashtag's full span and a shared group id (a match inside a
    hashtag reports the hashtag's span, per the reference's behavior of
    annotating the hashtag itself).

    A space-separated chunk of plain ASCII letters skips the regex; the
    module docstring gives the rule and why the stream still equals one
    ``_TOKEN_RE`` pass over the whole text.
    """
    stream: list[tuple[str, int, int, bool, int]] = []
    append = stream.append
    finditer = _TOKEN_RE.finditer
    group = 0
    pos = 0
    for chunk in text.split(" "):
        end = pos + len(chunk)
        if chunk.isascii() and chunk.isalpha() and chunk not in _LETTER_EMOTICONS:
            low = chunk.lower()
            if low in _SKIP_WORDS:
                append(("", pos, end, True, -1))
            else:
                append((low, pos, end, False, -1))
        elif chunk:
            for m in finditer(chunk):
                kind = m.lastgroup
                start, stop = m.span()
                start += pos
                stop += pos
                if kind == "word":
                    low = m.group(0).lower()
                    if low in _SKIP_WORDS:
                        append(("", start, stop, True, -1))
                    else:
                        append((low, start, stop, False, -1))
                elif kind == "num":
                    append((m.group(0).lower(), start, stop, False, -1))
                elif kind == "hashtag":
                    body = m.group(0)[1:].lower()
                    words = segmenter.segment(body) if segmenter else [body]
                    group += 1
                    for w in words:
                        append((w, start, stop, False, group))
                    append(("", stop, stop, True, -1))
                else:  # url / mention / punct / emoticon break adjacency
                    append(("", start, stop, True, -1))
        pos = end + 1
    return stream


def extract_mentions(
    text: str,
    full_names: frozenset[str] | set[str],
    prefixes: frozenset[str] | set[str],
    max_tokens: int,
    segmenter: HashtagSegmenter | None,
) -> list[tuple[int, int, str, str]]:
    """M1+M2+M3: all maximal gazetteer-name matches in ``text``.

    Returns (start, end, surface, norm) with ``text[start:end] ==
    surface``. Bottom-up growth: an n-gram extends only while the
    space-joined prefix exists in ``prefixes`` (the reference's
    sub-gram tree pruning); candidates where the n-gram equals a full
    name; then longest-match-wins overlap resolution.
    """
    stream = build_token_stream(text, segmenter)
    candidates: list[tuple[int, int, str]] = []  # (start, end, norm)
    n = len(stream)
    for i in range(n):
        norm0, start0, _end0, brk0, group0 = stream[i]
        if brk0 or not norm0:
            continue
        if norm0 not in prefixes:  # cheap unigram gate before growing
            continue
        parts: list[str] = []
        j = i
        while j < n and len(parts) < max_tokens:
            normj, _sj, endj, brkj, groupj = stream[j]
            if brkj or not normj:
                break
            # n-grams stay within one hashtag, or within plain words
            if groupj != group0:
                break
            parts.append(normj)
            gram = " ".join(parts)
            if gram not in prefixes:
                break
            if gram in full_names:
                candidates.append((start0, endj, gram))
            j += 1
    # M2: longest-match-wins — reject any candidate overlapping an
    # already-accepted longer one: longer in characters, then in tokens
    # (every token of a hashtag carries the hashtag's whole span, so
    # only the token count tells "adyar nagar" from "adyar" there),
    # then earlier. Accepted spans are disjoint and non-empty, so a plain
    # tuple sort puts them in text order.
    accepted = candidates
    if len(candidates) > 1:
        candidates.sort(key=lambda c: (-(c[1] - c[0]), -(c[2].count(" ") + 1), c[0], c[2]))
        accepted = []
        for c in candidates:
            s, e = c[0], c[1]
            for a in accepted:
                if s < a[1] and e > a[0]:  # overlaps a longer match
                    break
            else:
                accepted.append(c)
        accepted.sort()
    return [(s, e, text[s:e], g) for s, e, g in accepted]
