"""lnex_spark — a PySpark-native knowledge-graph construction engine.

A brand-new, idiomatic-Spark re-expression of the capabilities of
halolimat/LNEx (gazetteer-driven location-name extraction; COLING 2018,
arXiv:1708.03105): region-scoped gazetteer build with flexible/skip-gram
name augmentation, bottom-up n-gram mention matching over conversation
transcripts, entity linking + canonicalization, and (subj, pred, obj)
triple materialization into partitioned graph tables.

NOT a port: the reference is a single-process Python pipeline; this
engine declares every set-oriented stage as a Catalyst-planned DataFrame
transform and confines imperative matching to vectorized Arrow batches
(mapInPandas) with a broadcast matching structure.

Layout:
    data/        deterministic synthetic fixtures (gazetteer, transcripts,
                 gold annotations) — seed=42, pure function of inputs
    gazetteer/   G1-G7: gazetteer scan, normalize, explode, skip-gram
                 augment, filter, unigram LM, broadcast match structure
    operators/   T/M/L/K/X/E ops: preprocess, match (broadcast and
                 relational), link, canonicalize, triples, geo math,
                 skew salting, lineage, incremental maintenance, eval;
                 plus library operators kept for their unit tests
                 (dedup, textquality, graph, ...)
    sources/     table-format seam (parquet locally, Iceberg on
                 cluster); JSONL sink and synthetic-transcript sources
    streaming/   Structured Streaming wrapper for incremental extraction
    oracles.py, oracle_defs*.py
                 the operator registry: (Spark, DuckDB-SQL) pairs behind
                 queries() / oracle_sql() in __spark_entry__.py — the
                 §2A ops first, then the library-operator checks
"""

__version__ = "0.1.0"
