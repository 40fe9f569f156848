"""Gazetteer build: bbox scan → normalize → one key per name →
skip-gram augment → noise filter → unigram LM → broadcast match
structure (G1-G7, SURVEY.md §2A).

G1 is the one Spark stage: a pruned columnar scan that scopes the
gazetteer table to a region. Its output is collected once, bounded by
``MAX_NAMES``, and G2-G7 run in process on the driver over the pure
functions of ``augment`` — the ones the gold annotator uses too, so
"what is a name variant" has one definition. That is how LNEx builds
its dictionaries (COLING 2018 §3.2); the match structure is then
broadcast — the Spark correspondence of the reference's
process-global dictionaries (LNEx ``set_global_env``,
``LNEx/core.py``; mount empty, see SURVEY.md §0). The variant table
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

from collections import Counter
from collections.abc import Collection, Iterable, Iterator, Mapping

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from lnex_spark.common import cat_priority
from lnex_spark.gazetteer import augment as A

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

# Driver-OOM guard: the build is meant for a REGION-SCOPED gazetteer
# (city ≈ 10^4-10^5 names ≈ a few MB broadcast). It bounds the rows
# collected for the build, the variant rows augmentation holds (before
# the noise filter) and the names a load collects. Measured on 4 vCPU,
# local[4]: 1M synthetic names (3.15M hp variant rows) peak the Python
# driver at ~2.2 GB and build in ~108 s (G2-G5 ~70 s of it), so near
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


def collect_norms(variants: DataFrame) -> list[str]:
    """The distinct names of a (saved) variant table, under the guard."""
    norms = [r[0] for r in variants.select("norm").distinct().limit(MAX_NAMES + 1).collect()]
    check_max_names(len(norms), "match structure names")
    return norms


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


class MatchStruct:
    """G7: the driver-built matching structure shipped to executors.

    LNEx's process-global dicts ≙ one Spark broadcast variable:
      full_names  — every matchable normalized variant
      prefixes    — every space-joined token prefix of every variant
                    (bottom-up n-gram growth pruning, paper §4.1)
      unigram     — G6 freq dict for hashtag segmentation
      max_tokens  — longest variant length, caps n-gram growth
    """

    __slots__ = ("full_names", "prefixes", "unigram", "max_tokens")

    def __init__(self, full_names: frozenset, prefixes: frozenset, unigram: dict, max_tokens: int):
        self.full_names = full_names
        self.prefixes = prefixes
        self.unigram = unigram
        self.max_tokens = max_tokens


def build_match_struct(norms: Iterable[str], unigram: dict[str, int]) -> MatchStruct:
    """G7 over the variant names (duplicates allowed) and the G6 LM."""
    full_names = frozenset(norms)
    prefixes = set()
    max_tokens = 1
    for n in full_names:
        toks = n.split(" ")
        max_tokens = max(max_tokens, len(toks))
        for i in range(1, len(toks) + 1):
            prefixes.add(" ".join(toks[:i]))
    return MatchStruct(full_names, frozenset(prefixes), unigram, max_tokens)


def variants_frame(spark: SparkSession, variants: list[tuple]) -> DataFrame:
    """The variant rows as a DataFrame, handed to the JVM as Arrow
    batches. A Python list would become a pickled RDD that a Python
    worker unpickles on every read. Each column is filled straight from
    the rows, without a transposed copy of them."""
    schema = to_arrow_schema(VARIANTS_SCHEMA)
    cols = [pa.array((v[i] for v in variants), f.type, size=len(variants)) for i, f in enumerate(schema)]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=schema), VARIANTS_SCHEMA)
