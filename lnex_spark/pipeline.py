"""The flagship job: transcripts → location-mention KG triples
(SURVEY.md §3.3). Composes G1-G7 → X2 → (T2+T3+M1-M3) → L → K1-K2.

Physical plan of record (§4.4): one shuffle on the transcript side —
the salted repartition in front of the extraction UDF (skew). The
extraction stage is one mapInPandas (one Arrow boundary); linking is
one broadcast hash join of its mentions against ``GazetteerModel.best``,
the L2 winner per normalized name (operators/link.best_by_norm), built
once per gazetteer model. Every production path — ``extract_link``,
``run_resumable`` → ``finalize_triples`` and the streaming
``foreachBatch`` sink — links that way. The gazetteer build adds no
Python boundary: G1 is a Spark scan, G2-G7 run on the driver
(gazetteer/build.py).

Decision record: L2 stays context-free. Its score (match_type desc,
cat_priority asc, geo_id asc) reads only the variant row and the M2
overlap resolver keeps one norm per span, so a mention's winner is a
function of its norm and the L3 corpus vote is the identity. That is
what makes the lookup exact (tests/test_link_lookup.py pins it to the
per-mention L1 → L2 → L3 reference chain). A context-aware L2 — e.g.
geo proximity to the other mentions of a conversation (SURVEY §2A L2)
— would need the per-mention chain back, and a resumable run would
again need a corpus-global canonicalization in ``finalize_triples``.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from lnex_spark.gazetteer.build import (
    MatchStruct,
    build_match_struct,
    build_unigram,
    build_variants,
    collect_gazetteer,
    collect_norms,
    scan_gazetteer,
    variants_frame,
)
from lnex_spark.operators.extract import extract_mentions_df
from lnex_spark.operators.link import best_by_norm, link_mentions
from lnex_spark.operators.skew import salt_repartition
from lnex_spark.operators.triples import mention_triples, region_triples


@dataclass
class GazetteerModel:
    """Built gazetteer artifacts: the variant table, its L2 winner per
    norm (the link lookup) and the broadcast match structure
    (imperative side of M1; its ``unigram`` is the G6 LM)."""

    variants: DataFrame
    best: DataFrame
    bc_struct: object = field(repr=False, default=None)


def _model(spark: SparkSession, variants: DataFrame, struct: MatchStruct) -> GazetteerModel:
    """Cache the variant table and materialize the link lookup now: both
    are gazetteer-sized and every build reads them."""
    variants = variants.cache()
    best = best_by_norm(variants).cache()
    best.count()
    return GazetteerModel(variants, best, spark.sparkContext.broadcast(struct))


def build_gazetteer(
    spark: SparkSession,
    gazetteer_df: DataFrame,
    stopwords_df: DataFrame,
    wordlist_df: DataFrame | None = None,
    bbox: list[float] | None = None,
    mode: str = "hp",
) -> GazetteerModel:
    """G1 in Spark, G2-G7 on the driver (gazetteer/build.py): one
    bounded collect of the bbox-scoped rows, one DataFrame back for the
    variant table."""
    gaz = collect_gazetteer(scan_gazetteer(spark, gazetteer_df, bbox))
    stop = {r[0] for r in stopwords_df.select("word").collect()}
    wordlist = wordlist_df.select("word", "freq").collect() if wordlist_df is not None else []
    variants = build_variants(gaz, stop, mode)
    struct = build_match_struct((v[0] for v in variants), build_unigram(variants, wordlist))
    return _model(spark, variants_frame(spark, variants), struct)


def save_gazetteer_model(model: GazetteerModel, path: str) -> None:
    """Persist the built gazetteer (reference parity: LNEx's
    ``cache=True`` pickles its dicts; here the variant table and
    unigram LM are parquet, rebuildable into a broadcast on load —
    table-format artifacts a whole cluster can share, not a local
    pickle)."""
    unigram = model.variants.sparkSession.createDataFrame(
        list(model.bc_struct.value.unigram.items()), "word string, freq long"
    )
    model.variants.write.mode("overwrite").parquet(f"{path}/variants")
    unigram.write.mode("overwrite").parquet(f"{path}/unigram")


def load_gazetteer_model(spark: SparkSession, path: str) -> GazetteerModel:
    """Load a saved gazetteer model and rebuild the broadcast match
    structure (skips the scan/normalize/augment/filter stages — the
    cache-hit path of the reference's ``initialize(cache=True)``),
    under the build's ``MAX_NAMES`` guard."""
    variants = spark.read.parquet(f"{path}/variants")
    norms = collect_norms(variants)
    unigram = {r[0]: int(r[1]) for r in spark.read.parquet(f"{path}/unigram").collect()}
    return _model(spark, variants, build_match_struct(norms, unigram))


def extract_link(
    transcripts: DataFrame,
    model: GazetteerModel,
    salt_partitions: int | None = None,
) -> DataFrame:
    """transcripts → linked mentions (conv_id, turn_idx, start, end,
    surface, norm, geo_id, ...): extraction, then one broadcast join
    against ``model.best``."""
    t = transcripts
    if salt_partitions:
        t = salt_repartition(t, salt_partitions)
    return link_mentions(extract_mentions_df(t, model.bc_struct), model.best)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    gazetteer_df: DataFrame,
    stopwords_df: DataFrame,
    wordlist_df: DataFrame | None = None,
    bbox: list[float] | None = None,
    mode: str = "hp",
    salt_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (mention_triples, region_triples)."""
    model = build_gazetteer(spark, gazetteer_df, stopwords_df, wordlist_df, bbox, mode)
    final = extract_link(transcripts, model, salt_partitions)
    return mention_triples(final), region_triples(gazetteer_df)


def run_identity(transcripts: DataFrame, model: GazetteerModel, n_buckets: int) -> dict:
    """What a resumed run must share with the run that wrote its
    manifest: the bucket count, a fingerprint of the gazetteer (the
    ``best`` link lookup plus the match structure) and the sorted input
    files of ``transcripts``."""
    best = model.best
    n, h = best.agg(
        F.count(F.lit(1)), F.sum(F.xxhash64(*best.columns).cast("decimal(38,0)"))
    ).first()
    struct = model.bc_struct.value
    digest = hashlib.sha256(f"{n}:{h}:{struct.max_tokens}".encode())
    for name in sorted(struct.full_names):
        digest.update(f"\n{name}".encode())
    for word, freq in sorted(struct.unigram.items()):
        digest.update(f"\n{word}={freq}".encode())
    return {
        "n_buckets": n_buckets,
        "model": digest.hexdigest(),
        "input": sorted(transcripts.inputFiles()),
    }


def run_resumable(
    spark: SparkSession,
    transcripts: DataFrame,
    model: GazetteerModel,
    winners_path: str,
    manifest_path: str,
    n_buckets: int = 8,
    buckets_per_batch: int = 4,
    fail_after_batches: int | None = None,
    salt_partitions: int | None = None,
) -> list[int]:
    """X3 stage 1: checkpoint-resumable extraction over conv_id buckets.

    The EXPENSIVE stage (extract + link) is the unit of resume: each
    batch of buckets writes its linked mentions partitioned by bucket
    (dynamic partition overwrite → idempotent) and appends one lineage
    row per bucket to the manifest: the bucket's turns and linked
    mentions, and the batch's wall time. Linked mentions are final
    (context-free L2, see the module docstring), so a resumed run is
    bit-identical to an uninterrupted one regardless of where it was
    killed. A resume whose run identity (:func:`run_identity`) differs
    from the one stored next to the manifest raises ValueError, and so
    does an ``n_buckets`` or ``buckets_per_batch`` below 1 (checked
    before anything is written). Returns the bucket ids processed in
    this invocation.
    """
    for name, value in (("n_buckets", n_buckets), ("buckets_per_batch", buckets_per_batch)):
        if value < 1:
            raise ValueError(f"{name} must be at least 1, got {value}")

    from lnex_spark.operators.lineage import (
        StageTimer,
        check_run_identity,
        pending_buckets,
        record_buckets,
        with_bucket,
    )

    check_run_identity(spark, manifest_path, run_identity(transcripts, model, n_buckets))
    pending = pending_buckets(spark, manifest_path, n_buckets)
    bucketed = with_bucket(transcripts, n_buckets)
    processed: list[int] = []
    for batch_no, i in enumerate(range(0, len(pending), buckets_per_batch)):
        if fail_after_batches is not None and batch_no >= fail_after_batches:
            break
        batch = pending[i : i + buckets_per_batch]
        # per-bucket counts ride along the ONE write job via
        # CollectMetrics (df.observe) — counting with separate actions
        # would run the expensive Arrow extraction stage twice per batch
        per_bucket = [F.count_if(F.col("bucket") == b).alias(f"b{b}") for b in batch]
        obs_turns = Observation(f"turns-{batch_no}")
        obs_mentions = Observation(f"mentions-{batch_no}")
        with StageTimer() as timer:
            t = bucketed.filter(F.col("bucket").isin(batch)).observe(obs_turns, *per_bucket)
            linked = extract_link(t.drop("bucket"), model, salt_partitions)
            (
                with_bucket(linked, n_buckets)
                .observe(obs_mentions, *per_bucket)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(winners_path)
            )
            turns, mentions = obs_turns.get, obs_mentions.get
        record_buckets(
            spark,
            manifest_path,
            [
                (b, turns[f"b{b}"], mentions[f"b{b}"], timer.wall_ms, f"batch-{batch_no}")
                for b in batch
            ],
        )
        processed.extend(batch)
    return processed


def finalize_triples(spark: SparkSession, winners_path: str) -> DataFrame:
    """X3 stage 2: triple emit over all checkpointed linked-mention
    partitions. A winners directory written before the link lookup
    (L2 winners, canonicalized here) finalizes to the same triples,
    since that canonicalization was the identity."""
    return mention_triples(spark.read.parquet(winners_path))
