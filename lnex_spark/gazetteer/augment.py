"""Name normalization + flexible/skip-gram augmentation (G2, G4).

Pure functions — no Spark imports. The one definition of "what counts
as a name variant": the engine's gazetteer build runs them on the
driver (``build.build_variants``), and the fixture generator and the
gold annotator call them too.

Behavioral model (reference: halolimat/LNEx
``LNEx/gaz_augmentation_and_filtering.py`` — see SURVEY.md §0 citation
legend; reference mount empty, semantics encoded from the COLING 2018
paper §3.2): each multi-token gazetteer name spawns variants with
inessential tokens removed so "Chennai International Airport" also
matches "Chennai Airport", plus edge-stopword trimming and
hyphen/slash splitting. Two modes: high-precision (HP) drops only
known-inessential tokens; high-recall (HR) additionally emits interior
skip-grams.
"""

from __future__ import annotations

import re
from itertools import combinations

# Generic "category" tail/interior words of location names. Removable in
# augmentation; a variant must keep at least one non-category token.
CATEGORY_WORDS = frozenset(
    """airport road street river bayou parish mall nagar park bridge lake
    school temple canal market avenue boulevard highway station hospital
    college beach island creek county district city town village dam
    stadium tower hall junction colony""".split()
)

# Modifier words that are inessential interior tokens ("X International
# Airport" -> "X Airport").
MODIFIER_WORDS = frozenset(
    """international national regional central grand greater upper lower
    old east west north south main""".split()
)

# Stopwords that may appear inside names ("Land of the Lakes Mall") and
# are trimmed from name edges.
NAME_STOPWORDS = frozenset("the of in at on a an de la el and".split())

_REMOVABLE = CATEGORY_WORDS | MODIFIER_WORDS | NAME_STOPWORDS

# cap for 2^k subset enumeration in name_variants (see comment there)
_MAX_SUBSET_TOKENS = 10

_NON_ASCII = re.compile(r"[^\x00-\x7f]")
_HYPHEN_SLASH = re.compile(r"[-/_]+")
_NON_ALNUM_EDGE = re.compile(r"^[^a-z0-9]+|[^a-z0-9]+$")
_WS = re.compile(r"\s+")
_PUNCT = re.compile(r"[^a-z0-9 ']")


def normalize_name(name: str) -> str:
    """G2: lowercase, strip non-ASCII, split hyphen/slash, strip
    punctuation, collapse whitespace."""
    s = _NON_ASCII.sub(" ", name.lower())
    s = _HYPHEN_SLASH.sub(" ", s)
    s = _PUNCT.sub(" ", s)
    s = _WS.sub(" ", s).strip()
    s = " ".join(_NON_ALNUM_EDGE.sub("", t) for t in s.split())
    return _WS.sub(" ", s).strip()


def _trim_edge_stopwords(tokens: list[str]) -> list[str]:
    i, j = 0, len(tokens)
    while i < j and tokens[i] in NAME_STOPWORDS:
        i += 1
    while j > i and tokens[j - 1] in NAME_STOPWORDS:
        j -= 1
    return tokens[i:j]


def name_variants(norm: str, mode: str = "hp") -> set[str]:
    """G4: augmented variants of a normalized name (original excluded).

    HP: delete any subset of removable tokens (category / modifier /
    stopword), provided >=1 non-removable token survives; plus
    edge-stopword trim. HR: additionally every interior skip-gram that
    keeps the first and last token.
    """
    tokens = norm.split()
    out: set[str] = set()
    if len(tokens) < 2:
        return out

    trimmed = _trim_edge_stopwords(tokens)
    if trimmed and trimmed != tokens:
        out.add(" ".join(trimmed))

    # subset enumeration is 2^k — cap k so a pathological name (OSM
    # data does contain garbage like repeated filler words) degrades to
    # partial augmentation instead of hanging the gazetteer build; real
    # location names have <= a handful of removable tokens
    removable_idx = [i for i, t in enumerate(tokens) if t in _REMOVABLE][:_MAX_SUBSET_TOKENS]
    essential = [t for t in tokens if t not in _REMOVABLE]
    if essential:  # else name is all-generic; G5 filters it anyway
        for r in range(1, len(removable_idx) + 1):
            for combo in combinations(removable_idx, r):
                drop = set(combo)
                variant = [t for i, t in enumerate(tokens) if i not in drop]
                if variant and any(t not in _REMOVABLE for t in variant):
                    out.add(" ".join(variant))

    if mode == "hr" and 3 <= len(tokens) <= _MAX_SUBSET_TOKENS + 2:
        inner = range(1, len(tokens) - 1)
        for r in range(1, len(tokens) - 2 + 1):
            for combo in combinations(inner, r):
                drop = set(combo)
                variant = [t for i, t in enumerate(tokens) if i not in drop]
                out.add(" ".join(variant))

    out.discard(norm)
    out.discard("")
    return out


def is_noise_name(norm: str, stopwords: frozenset[str] | set[str]) -> bool:
    """G5 predicate: True if a (variant) name is too noisy to keep —
    empty, digits-only, a bare stopword, or a bare generic word."""
    if not norm:
        return True
    if norm.replace(" ", "").isdigit():
        return True
    if " " not in norm and (
        norm in stopwords or norm in CATEGORY_WORDS or norm in MODIFIER_WORDS or norm in NAME_STOPWORDS
    ):
        return True
    return False
