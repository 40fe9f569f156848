"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``lnex_spark/`` (SURVEY.md §2 inventory).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: documents → transcripts → gazetteer KG triples.

    Derives a transcripts table (conv_id, turn_idx, role, text, tool,
    ts) from sf0.001 documents with planted gazetteer mentions, builds
    the chennai gazetteer + broadcast match structure, runs the fused
    extraction stage, links each mention through the best-per-norm
    lookup, and returns the (subj, pred, obj) mention triples.
    """
    from lnex_spark.data import fixtures as FX
    from lnex_spark.data.derive import transcripts_from_documents
    from lnex_spark.gazetteer.build import GAZETTEER_SCHEMA
    from lnex_spark.pipeline import run_pipeline

    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    transcripts = transcripts_from_documents(docs, "chennai")
    gaz = spark.createDataFrame(FX.gen_gazetteer("chennai"), GAZETTEER_SCHEMA)
    stop = spark.createDataFrame([(w,) for w in FX.gen_stopwords()], "word string")
    wl = spark.createDataFrame(FX.gen_wordlist(), "word string, freq long")
    mention_t, _region_t = run_pipeline(
        spark, transcripts, gaz, stop, wl, bbox=FX.EVENTS["chennai"]["bbox"], salt_partitions=8
    )
    return mention_t


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from lnex_spark.oracles import spark_queries

    return spark_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL per queries() key."""
    from lnex_spark.oracles import duckdb_sql

    return duckdb_sql()
