"""Photon/Elasticsearch gazetteer adapter — the G1 network path's
DataFrame seam.

The reference builds its gazetteer by querying a Photon (OSM →
Elasticsearch) index with a bounding-box envelope and extracting the
name variants from each hit (LNEx/osm_gazetteer.py
``build_bb_gazetteer`` / ``search_index`` / ``extract_text`` [PK];
reference mount empty — see SURVEY.md §0).  This sandbox has no
network, so the adapter takes the ES *response* — hits as JSONL (one
hit per line, the shape ``elasticsearch-dsl`` iterates) — and turns it
into the engine's GAZETTEER_SCHEMA DataFrame.  Wiring a live cluster
later means swapping the file read for ``spark.read.format('es')`` (or
a foreachPartition HTTP scroll) and keeping everything from the parse
on unchanged.

Parsing is ``from_json`` with an explicit schema — no inference, no
Python loops; the name-variant unpivot is an array of struct literals
exploded and null-filtered, all Catalyst built-ins.  At planet scale
the JSONL lands partitioned; the bbox filter prunes before the
explode, and the output feeds gazetteer/build.py's normal G2→G7 chain.

Photon hit shape (public Photon index mapping — the fields LNEx's
``extract_text`` walks):

    {"_id": "123", "_source": {
        "osm_id": 123, "osm_type": "W",
        "osm_key": "place", "osm_value": "suburb",
        "name": {"default": "Adyar", "en": "...", "alt": "...",
                  "int": "...", "loc": "...", "old": "...",
                  "reg": "...", "housename": "..."},
        "coordinate": {"lat": 13.0, "lon": 80.2},
        ...}}
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Name-variant fields, in the order their variants are appended to
# alt_names ("default" is the primary name, the rest are variants —
# reference extract_text collects every name.* key).
NAME_VARIANT_FIELDS = ["en", "alt", "int", "loc", "old", "reg", "housename"]

PHOTON_HIT_SCHEMA = T.StructType(
    [
        T.StructField("_id", T.StringType(), True),
        T.StructField(
            "_source",
            T.StructType(
                [
                    T.StructField("osm_id", T.LongType(), True),
                    T.StructField("osm_type", T.StringType(), True),
                    T.StructField("osm_key", T.StringType(), True),
                    T.StructField("osm_value", T.StringType(), True),
                    T.StructField(
                        "name",
                        T.StructType(
                            [T.StructField("default", T.StringType(), True)]
                            + [T.StructField(f, T.StringType(), True) for f in NAME_VARIANT_FIELDS]
                        ),
                        True,
                    ),
                    T.StructField(
                        "coordinate",
                        T.StructType(
                            [
                                T.StructField("lat", T.DoubleType(), True),
                                T.StructField("lon", T.DoubleType(), True),
                            ]
                        ),
                        True,
                    ),
                ]
            ),
            True,
        ),
    ]
)


def parse_photon_hits(spark: SparkSession, path: str) -> DataFrame:
    """Read ES hits JSONL with the explicit schema (bad lines become
    all-null structs and are dropped by the osm_id filter downstream)."""
    return (
        spark.read.text(path)
        .select(F.from_json(F.col("value"), PHOTON_HIT_SCHEMA).alias("h"))
        .select("h.*")
    )


def gazetteer_from_photon(
    hits: DataFrame,
    bb: list[float] | None = None,
    region: str | None = None,
) -> DataFrame:
    """ES hits → GAZETTEER_SCHEMA rows.

    ``bb`` is the reference's ``[min_lat, min_lon, max_lat, max_lon]``
    envelope, applied here as a post-filter for parity with the ES
    geo_bounding_box query (a live-index read would push it into the
    query itself; on a parquet mirror it prunes the scan).  geo_id is
    the OSM id; category is ``osm_key:osm_value`` (the pair LNEx keeps
    for its category priorities); alt_names collects every non-default
    name.* variant, de-duplicated, excluding ones equal to the primary
    name."""
    # flatten struct fields into plain columns FIRST: an outer
    # struct-field reference inside a higher-order-function lambda does
    # not always resolve through intermediate Filter nodes (Catalyst
    # lambda scoping), while a flat attribute reference always does
    flat = hits.select(
        F.col("_source.osm_id").alias("osm_id"),
        F.col("_source.osm_key").alias("osm_key"),
        F.col("_source.osm_value").alias("osm_value"),
        F.col("_source.name.default").alias("name_default"),
        *[F.col(f"_source.name.{f}").alias(f"name_{f}") for f in NAME_VARIANT_FIELDS],
        F.col("_source.coordinate.lat").alias("lat"),
        F.col("_source.coordinate.lon").alias("lon"),
    ).filter(F.col("osm_id").isNotNull() & F.col("name_default").isNotNull())
    if bb is not None:
        mn_lat, mn_lon, mx_lat, mx_lon = bb
        flat = flat.filter(
            F.col("lat").between(mn_lat, mx_lat) & F.col("lon").between(mn_lon, mx_lon)
        )
    variants = F.array_distinct(
        F.filter(
            F.array(*[F.col(f"name_{f}") for f in NAME_VARIANT_FIELDS]),
            lambda v: v.isNotNull() & (v != F.col("name_default")),
        )
    )
    return flat.select(
        F.col("osm_id").alias("geo_id"),
        F.col("name_default").alias("name"),
        variants.alias("alt_names"),
        F.concat_ws(":", F.col("osm_key"), F.col("osm_value")).alias("category"),
        "lat",
        "lon",
        F.lit(region).cast("string").alias("region"),
    )
