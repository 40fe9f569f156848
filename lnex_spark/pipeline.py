"""The flagship job: transcripts → location-mention KG triples
(SURVEY.md §3.3). Composes G1-G7 → X2 → (T2+T3+M1-M3) → L → K1-K2.

Physical plan of record (§4.4): one shuffle on the transcript side —
the salted repartition in front of the extraction UDF (skew). The
extraction stage is one mapInPandas (one Arrow boundary); linking is
one broadcast hash join of its mentions against ``GazetteerModel.best``,
the L2 winner per normalized name (operators/link.best_by_norm), built
once per gazetteer model. Every production path — ``extract_link``,
``run_resumable`` → ``finalize_triples`` and the streaming
``foreachBatch`` sink — links that way.

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

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from lnex_spark.gazetteer.build import (
    build_match_struct,
    build_name_variants,
    build_unigram_lm,
    scan_gazetteer,
)
from lnex_spark.operators.extract import extract_mentions_dedup_df, extract_mentions_df
from lnex_spark.operators.link import best_by_norm, link_mentions
from lnex_spark.operators.skew import salt_repartition
from lnex_spark.operators.triples import mention_triples, region_triples


@dataclass
class GazetteerModel:
    """Built gazetteer artifacts: the variant table, its L2 winner per
    norm (the link lookup) and the broadcast match structure
    (imperative side of M1)."""

    variants: DataFrame
    best: DataFrame
    unigram: DataFrame
    bc_struct: object = field(repr=False, default=None)


def _cached_best(variants: DataFrame) -> DataFrame:
    """The link lookup, cached and materialized now: it is gazetteer-
    sized and every build reads it."""
    best = best_by_norm(variants).cache()
    best.count()
    return best


def build_gazetteer(
    spark: SparkSession,
    gazetteer_df: DataFrame,
    stopwords_df: DataFrame,
    wordlist_df: DataFrame | None = None,
    bbox: list[float] | None = None,
    mode: str = "hp",
) -> GazetteerModel:
    gaz = scan_gazetteer(spark, gazetteer_df, bbox)
    variants = build_name_variants(gaz, stopwords_df, mode=mode)
    # the variant table is read three times (link lookup, unigram LM,
    # G7 collect) and is small by construction (region-scoped) → cache it
    variants = variants.cache()
    unigram = build_unigram_lm(variants, wordlist_df)
    bc = build_match_struct(spark, variants, unigram)
    return GazetteerModel(variants=variants, best=_cached_best(variants), unigram=unigram, bc_struct=bc)


def save_gazetteer_model(model: GazetteerModel, path: str) -> None:
    """Persist the built gazetteer (reference parity: LNEx's
    ``cache=True`` pickles its dicts; here the variant table and
    unigram LM are parquet, rebuildable into a broadcast on load —
    table-format artifacts a whole cluster can share, not a local
    pickle)."""
    model.variants.write.mode("overwrite").parquet(f"{path}/variants")
    model.unigram.write.mode("overwrite").parquet(f"{path}/unigram")


def load_gazetteer_model(spark: SparkSession, path: str) -> GazetteerModel:
    """Load a saved gazetteer model and rebuild the broadcast match
    structure (skips the scan/normalize/augment/filter stages — the
    cache-hit path of the reference's ``initialize(cache=True)``)."""
    variants = spark.read.parquet(f"{path}/variants").cache()
    unigram = spark.read.parquet(f"{path}/unigram")
    bc = build_match_struct(spark, variants, unigram)
    return GazetteerModel(variants=variants, best=_cached_best(variants), unigram=unigram, bc_struct=bc)


def extract_link(
    transcripts: DataFrame,
    model: GazetteerModel,
    salt_partitions: int | None = None,
    dedup_texts: bool | str = False,
) -> DataFrame:
    """transcripts → linked mentions (conv_id, turn_idx, start, end,
    surface, norm, geo_id, ...): extraction, then one broadcast join
    against ``model.best``.

    ``dedup_texts``: False → direct extraction over every turn;
    True → extract once per distinct text and join back
    (operators/extract.extract_mentions_dedup_df — identical output,
    pays two text-keyed shuffles to divide the Python stage by the
    duplication ratio); 'auto' → one cheap JVM-side
    approx_count_distinct pass decides (dedup iff distinct/total <
    0.3 — MEASURED at sf0.1/local[16], 300-variant gazetteer, 200k
    turns: 40x verbatim duplication (ratio 0.025) direct 1.36s vs
    dedup 1.16s, while mild 2.4x duplication (ratio 0.42) direct
    1.40s vs dedup 1.64s — this matcher is cheap enough that only
    heavy duplication beats the two text-keyed shuffles; a costlier
    matcher (planet gazetteer, long documents) moves the break-even
    toward 1.0, so the threshold is a job parameter, not an engine
    constant).
    """
    t = transcripts
    if salt_partitions:
        t = salt_repartition(t, salt_partitions)
    if dedup_texts == "auto":
        stats = t.agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct("text").alias("d"),
        ).first()
        dedup_texts = stats.n > 0 and stats.d / stats.n < 0.3
    extract = extract_mentions_dedup_df if dedup_texts else extract_mentions_df
    return link_mentions(extract(t, model.bc_struct), model.best)


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
    dedup_texts: bool = False,
) -> list[int]:
    """X3 stage 1: checkpoint-resumable extraction over conv_id buckets.

    The EXPENSIVE stage (extract + link) is the unit of resume: each
    batch of buckets writes its linked mentions partitioned by bucket
    (dynamic partition overwrite → idempotent) and appends one lineage
    row per bucket to the manifest: the bucket's turns and linked
    mentions, and the batch's wall time. Linked mentions are final
    (context-free L2, see the module docstring), so a resumed run is
    bit-identical to an uninterrupted one regardless of where it was
    killed. Returns the bucket ids processed in this invocation.
    """
    from lnex_spark.operators.lineage import (
        StageTimer,
        pending_buckets,
        record_buckets,
        with_bucket,
    )

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
            linked = extract_link(t.drop("bucket"), model, salt_partitions, dedup_texts)
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
