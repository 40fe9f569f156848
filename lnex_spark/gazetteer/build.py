"""Gazetteer build: bbox scan → normalize → one key per name →
skip-gram augment → noise filter → unigram LM → broadcast match
structure (G1-G7, SURVEY.md §2A).

G1 is the one Spark stage: a pruned columnar scan that scopes the
gazetteer table to a region. Its output is collected once, bounded by
``MAX_NAMES``, and G2-G7 run in process on the driver over the pure
functions of ``augment`` — the ones the gold annotator uses too, so
"what is a name variant" has one definition. That is how LNEx builds
its dictionaries (COLING 2018 §3.2); the match structure, which also
maps every name to its L2 winner, is then broadcast — the Spark
correspondence of the reference's process-global dictionaries (LNEx
``set_global_env``, ``LNEx/core.py``; mount empty, see SURVEY.md §0),
and the extraction UDF links by a lookup in it. The variant table
goes back to Spark as Arrow batches handed to the JVM, so the build
adds no Python boundary of its own.

Decision record: G2-G6 used to be a Spark plan with a pandas UDF for
G4, but every path that builds a variant table also builds the
broadcast struct, which collects every distinct variant to the
driver. Variant generation therefore never ran where the driver could
not hold its output, and the plan bought no scale — only a second
normalizer and a second Python boundary. At 1M synthetic names the
plan's build peaked the Python driver at ~2.0 GB in ~104 s; this one
peaks at ~2.2 GB in ~108 s, with G4 single-threaded. A region past the
``MAX_NAMES`` guard needs the documented fallback — shard the
gazetteer by token prefix and union per-shard mentions, or the
broadcast-free relational matcher (operators/extract_relational.py) —
not a Spark G4.
"""

from __future__ import annotations

from array import array
from collections import Counter
from collections.abc import Collection, Iterable, Iterator, Mapping
from itertools import accumulate
from operator import itemgetter

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from lnex_spark.common import cat_priority
from lnex_spark.gazetteer import augment as A
from lnex_spark.operators.textproc import HashtagSegmenter

GAZETTEER_SCHEMA = T.StructType(
    [
        T.StructField("geo_id", T.LongType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("alt_names", T.ArrayType(T.StringType()), True),
        T.StructField("category", T.StringType(), True),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("lon", T.DoubleType(), True),
        T.StructField("region", T.StringType(), True),
    ]
)

# one row per (norm variant, geo entity); match_type 1 exact / 0 augmented
VARIANTS_SCHEMA = T.StructType(
    [
        T.StructField("norm", T.StringType(), True),
        T.StructField("geo_id", T.LongType(), False),
        T.StructField("match_type", T.IntegerType(), True),
        T.StructField("category", T.StringType(), True),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("lon", T.DoubleType(), True),
        T.StructField("region", T.StringType(), True),
        T.StructField("cat_priority", T.IntegerType(), False),
    ]
)

# what L2 reads of a variant row: one row per (norm, geo_id) candidate
CANDIDATE_COLS = ("norm", "geo_id", "match_type", "cat_priority", "category", "region")

# Driver-OOM guard: the build is meant for a REGION-SCOPED gazetteer
# (city ≈ 10^4-10^5 names ≈ a few MB broadcast). It bounds the rows
# collected for the build, the variant rows augmentation holds (before
# the noise filter) and the variant rows a load collects. Measured on
# 4 vCPU, local[4]: 1M synthetic names (3.15M hp variant rows) peak the
# Python driver at ~2.2 GB and build in ~108 s (G2-G5 ~70 s of it), so near
# the limit the driver needs ~10 GB. Past the limit the caller forgot
# the bbox scope (G1) or genuinely needs the sharded fallback (module
# docstring). The limit is read when checked.
MAX_NAMES = 5_000_000


def check_max_names(n: int, what: str) -> None:
    if n > MAX_NAMES:
        raise ValueError(
            f"{what} would exceed {MAX_NAMES}; scope the gazetteer with a "
            "bounding box (scan_gazetteer bbox) or shard by token prefix "
            "and union per-shard mentions"
        )


def scan_gazetteer(spark: SparkSession, path_or_df, bbox: list[float] | None = None) -> DataFrame:
    """G1: load the gazetteer table and scope it to a bounding box
    ``[min_lat, min_lon, max_lat, max_lon]`` (reference:
    LNEx/osm_gazetteer.py ``build_bb_gazetteer`` — an Elasticsearch
    query there; a pruned columnar scan here)."""
    df = path_or_df if isinstance(path_or_df, DataFrame) else spark.read.parquet(path_or_df)
    if bbox is not None:
        mn_lat, mn_lon, mx_lat, mx_lon = bbox
        df = df.filter(
            F.col("lat").between(mn_lat, mx_lat) & F.col("lon").between(mn_lon, mx_lon)
        )
    return df


def collect_gazetteer(gaz: DataFrame) -> Iterator[dict]:
    """The one collect of the (region-scoped) gazetteer rows (one Spark
    job). The limit bounds the collect itself, so the guard cannot OOM
    while checking. The rows stay an Arrow table and become Python
    dicts one batch at a time, as they are consumed."""
    table = gaz.select(*GAZETTEER_SCHEMA.names).limit(MAX_NAMES + 1).toArrow()
    check_max_names(table.num_rows, "scoped gazetteer rows")
    return (row for batch in table.to_batches() for row in batch.to_pylist())


def collect_candidates(variants: DataFrame) -> Iterator[tuple]:
    """The candidate rows (``CANDIDATE_COLS``) of a (saved) variant
    table, in one Spark job and under the guard; a row without a name
    can never match, so it is left out."""
    table = (
        variants.select(*CANDIDATE_COLS)
        .where(F.col("norm").isNotNull())
        .limit(MAX_NAMES + 1)
        .toArrow()
    )
    check_max_names(table.num_rows, "variant rows")
    return zip(*(table.column(c).to_pylist() for c in CANDIDATE_COLS))


def candidate_rows(variants: Iterable[tuple]) -> Iterator[tuple]:
    """``VARIANTS_SCHEMA`` rows → candidate rows (``CANDIDATE_COLS``)."""
    pick = itemgetter(*(VARIANTS_SCHEMA.names.index(c) for c in CANDIDATE_COLS))
    return map(pick, variants)


def build_variants(gazetteer: Iterable[Mapping], stopwords: Collection[str], mode: str = "hp") -> list[tuple]:
    """G2-G5: one row per (norm variant, geo entity), in
    ``VARIANTS_SCHEMA`` order, sorted by (norm, geo_id).

    G2 ``augment.normalize_name``; G3 the name and every alt-name are
    keys of the same entity; G4 ``augment.name_variants`` — an augmented
    variant that collides with an exact name of the same entity keeps
    the exact row only; G5 ``augment.is_noise_name`` plus the stopword
    list. The guard bounds the variant rows held while augmenting.
    """
    # (norm, geo_id) -> (match_type, the entity's attribute tuple, shared
    # by all its variants; the first row of a geo_id supplies it)
    rows: dict[tuple[str, int], tuple[int, tuple]] = {}
    for e in gazetteer:
        geo_id = e["geo_id"]
        attrs = (e["category"], e["lat"], e["lon"], e["region"], cat_priority(e["category"]))
        for raw in [e["name"], *(e["alt_names"] or [])]:
            norm = A.normalize_name(raw) if raw is not None else ""
            if not norm:
                continue
            for v, mt in [(norm, 1), *((x, 0) for x in A.name_variants(norm, mode))]:
                old = rows.get((v, geo_id))
                if old is None:
                    rows[v, geo_id] = (mt, attrs)
                elif mt > old[0]:
                    rows[v, geo_id] = (mt, old[1])
        check_max_names(len(rows), "name-variant rows")
    out = []
    for key in sorted(rows):
        if not (A.is_noise_name(key[0], stopwords) or key[0] in stopwords):
            mt, attrs = rows[key]
            out.append((*key, mt, *attrs))
    return out


def build_unigram(variants: Iterable[tuple], wordlist: Iterable[tuple] = ()) -> dict[str, int]:
    """G6: unigram counts over the tokens of the variant rows (norm
    first) ∪ the (word, freq) wordlist."""
    freq: Counter[str] = Counter(t for v in variants for t in v[0].split(" "))
    for word, f in wordlist:
        freq[word] += f
    return dict(freq)


def l2_winners(candidates: Iterable[tuple]) -> dict[str, tuple]:
    """The L2 winner of every name over candidate rows
    (``CANDIDATE_COLS``, several per name): name → (geo_id, match_type,
    cat_priority, category, region) of the candidate with the highest
    match_type, then the lowest cat_priority, then the lowest geo_id.
    That is the key of ``link._top1_by``, which the per-mention
    reference chain applies (tests/test_link_lookup.py pins the two
    together). Equal winners are one tuple object, so names of one
    entity share it."""
    winners: dict[str, tuple] = {}
    shared: dict[tuple, tuple] = {}
    for norm, geo_id, match_type, cat_prio, category, region in candidates:
        old = winners.get(norm)
        if old is None or (-match_type, cat_prio, geo_id) < (-old[1], old[2], old[0]):
            w = (geo_id, match_type, cat_prio, category, region)
            winners[norm] = shared.setdefault(w, w)
    return winners


def _uints(values: Iterable[int]) -> array:
    """Non-negative ints in the narrowest array type that holds them."""
    values = list(values)
    top = max(values, default=0)
    return array(next(c for c in "BHIQ" if top < 1 << 8 * array(c).itemsize), values)


def _join(strings: list[str]) -> tuple[str, array]:
    """Strings as one string plus the length of each. Pickle memoizes
    string objects by identity, so a list of strings pickles to bytes
    that depend on which of its equal strings happen to be one object;
    one string does not."""
    return "".join(strings), _uints(map(len, strings))


def _split(text: str, lengths: array) -> list[str]:
    """The inverse of :func:`_join`."""
    ends = list(accumulate(lengths))
    return [text[a:b] for a, b in zip([0, *ends], ends)]


class MatchStruct:
    """G7: the driver-built matching structure shipped to executors.

    LNEx's process-global dicts ≙ one Spark broadcast variable:
      winners     — every matchable normalized variant → its L2 winner
                    (geo_id, match_type, cat_priority, category,
                    region): linking is a lookup here, as LNEx's
                    gazetteer dict maps a name to its geo-ids
      full_names  — a read-only view of the winners' keys
      prefixes    — every space-joined token prefix of every variant
                    (bottom-up n-gram growth pruning, paper §4.1)
      unigram     — G6 freq dict for hashtag segmentation
      max_tokens  — longest variant length, caps n-gram growth

    It pickles to values only (:meth:`__reduce__`): the same gazetteer
    pickles to the same bytes under any ``PYTHONHASHSEED``. The hashtag
    segmenter a worker builds from it (:meth:`segmenter`) is not
    pickled.
    """

    __slots__ = ("winners", "prefixes", "unigram", "max_tokens", "_segmenter")

    def __init__(self, winners: dict, prefixes: frozenset, unigram: dict, max_tokens: int):
        self.winners = winners
        self.prefixes = prefixes
        self.unigram = unigram
        self.max_tokens = max_tokens
        self._segmenter = None

    @property
    def full_names(self):
        return self.winners.keys()

    def segmenter(self) -> HashtagSegmenter:
        """The hashtag segmenter over ``unigram``, built on first use and
        kept: a reused Python worker keeps its memo across tasks."""
        if self._segmenter is None:
            self._segmenter = HashtagSegmenter(self.unigram)
        return self._segmenter

    def _values(self) -> tuple:
        return self.winners, self.prefixes, self.unigram, self.max_tokens

    def __eq__(self, other):
        return isinstance(other, MatchStruct) and self._values() == other._values()

    def __reduce__(self):
        """Sorted names, prefixes and unigram words, each joined into one
        string; the distinct winners as columns, sorted by repr, with
        their category and region strings as indices into one sorted
        label list (0 is None); one winner index per name."""
        names = sorted(self.winners)
        words = sorted(self.unigram)
        table = sorted(set(self.winners.values()), key=repr)
        row = {w: i for i, w in enumerate(table)}
        labels = sorted({x for w in table for x in w[3:] if x is not None})
        label = {None: 0, **{x: i + 1 for i, x in enumerate(labels)}}
        return (
            _restore_match_struct,
            (
                _join(names),
                _join(sorted(self.prefixes)),
                _join(words),
                array("q", [self.unigram[w] for w in words]),
                array("q", [w[0] for w in table]),
                array("i", [w[1] for w in table]),
                array("i", [w[2] for w in table]),
                _join(labels),
                _uints(label[w[3]] for w in table),
                _uints(label[w[4]] for w in table),
                _uints(row[self.winners[n]] for n in names),
                self.max_tokens,
            ),
        )


def _restore_match_struct(
    names, prefixes, words, freqs, geo_id, match_type, cat_prio, labels, category, region, index, max_tokens
) -> MatchStruct:
    label = [None, *_split(*labels)].__getitem__
    rows = list(zip(geo_id, match_type, cat_prio, map(label, category), map(label, region)))
    return MatchStruct(
        dict(zip(_split(*names), map(rows.__getitem__, index))),
        frozenset(_split(*prefixes)),
        dict(zip(_split(*words), freqs)),
        max_tokens,
    )


def build_match_struct(candidates: Iterable[tuple], unigram: dict[str, int]) -> MatchStruct:
    """G7 over candidate rows (``CANDIDATE_COLS``, several per name) and
    the G6 LM."""
    winners = l2_winners(candidates)
    prefixes = set()
    max_tokens = 1
    for n in winners:
        toks = n.split(" ")
        max_tokens = max(max_tokens, len(toks))
        for i in range(1, len(toks) + 1):
            prefixes.add(" ".join(toks[:i]))
    return MatchStruct(winners, frozenset(prefixes), unigram, max_tokens)


def variants_frame(spark: SparkSession, variants: list[tuple]) -> DataFrame:
    """The variant rows as a DataFrame, handed to the JVM as Arrow
    batches. A Python list would become a pickled RDD that a Python
    worker unpickles on every read. Each column is filled straight from
    the rows, without a transposed copy of them."""
    schema = to_arrow_schema(VARIANTS_SCHEMA)
    cols = [pa.array((v[i] for v in variants), f.type, size=len(variants)) for i, f in enumerate(schema)]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=schema), VARIANTS_SCHEMA)
