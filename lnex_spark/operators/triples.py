"""Triple emission + graph materialization (K1, K2 — the north rule's
KG layer; not present in the reference, which stops at mention lists).

mention_triples(subj='conv_id#turn_idx', pred='mentionsLocation',
obj=geo_id) and region_triples(subj=geo_id, pred='locatedIn',
obj=region). Writes are partitioned and idempotent (overwrite by
partition) so a resumed job converges to the same table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PRED_MENTIONS = "mentionsLocation"
PRED_LOCATED_IN = "locatedIn"


def mention_triples(linked_mentions: DataFrame) -> DataFrame:
    """K1a: (conv_id#turn_idx, mentionsLocation, geo_id), distinct."""
    return (
        linked_mentions.select(
            F.concat_ws("#", F.col("conv_id"), F.col("turn_idx")).alias("subj"),
            F.lit(PRED_MENTIONS).alias("pred"),
            F.col("geo_id").cast("long").alias("obj"),
        )
        .distinct()
    )


def region_triples(gazetteer: DataFrame) -> DataFrame:
    """K1b: (geo_id, locatedIn, region), distinct."""
    return (
        gazetteer.select(
            F.col("geo_id").cast("long").alias("subj"),
            F.lit(PRED_LOCATED_IN).alias("pred"),
            F.col("region").alias("obj"),
        )
        .distinct()
    )


def _hash_bucket(id_col: Column, salt: str) -> Column:
    """Deterministic bucket in [0, 65536) from md5(salt # id)."""
    h = F.md5(F.concat(F.lit(salt + "#"), id_col.cast("string")))
    return F.conv(F.substring(h, 1, 4), 16, 10).cast("long")


def negative_samples(
    positives: DataFrame,
    vocab: DataFrame,
    subj_col: str = "subj",
    obj_col: str = "obj",
    salt: str = "neg-v1",
) -> DataFrame:
    """Deterministic corrupted-object negatives for KG-embedding
    training: per positive triple, one negative whose object is drawn
    from the entity vocabulary by an md5 gate over (subj, obj) — never
    engine RNG, so the training set is stable across engines, reruns,
    repartitioning, and cluster sizes.  Collision with the true object
    advances to the next vocabulary slot, so neg_obj != pos_obj always.

    The vocabulary gets a dense index from a distributed global rank
    (operators/scalable_windows.attach_rank — range-partitioned, no
    single-partition window even if the vocab grows past gazetteer
    size; converted in the round-4 global-window audit); both index
    joins are broadcast.  Returns (subj, pos_obj, neg_obj).
    """
    from lnex_spark.operators.scalable_windows import attach_rank

    v = (
        attach_rank(
            vocab.select(F.col(obj_col).cast("long").alias("cand")).distinct(),
            [F.col("cand").asc()],
            rank_col="idx",
        )
        .withColumn("idx", F.col("idx") - 1)
    )
    nn = v.agg(F.count("*").alias("n"))
    h = _hash_bucket(F.concat_ws("|", F.col("subj"), F.col("pos_obj")), salt)
    p = (
        positives.select(
            F.col(subj_col).alias("subj"), F.col(obj_col).cast("long").alias("pos_obj")
        )
        .crossJoin(F.broadcast(nn))
        .withColumn("i1", h % F.col("n"))
        .withColumn("i2", (h + 1) % F.col("n"))
    )
    v1 = v.select(F.col("idx").alias("i1"), F.col("cand").alias("c1"))
    v2 = v.select(F.col("idx").alias("i2"), F.col("cand").alias("c2"))
    return (
        p.join(F.broadcast(v1), "i1")
        .join(F.broadcast(v2), "i2")
        .select(
            "subj",
            "pos_obj",
            F.when(F.col("c1") == F.col("pos_obj"), F.col("c2"))
            .otherwise(F.col("c1"))
            .alias("neg_obj"),
        )
    )


def write_triples(df: DataFrame, path: str, partition_cols: list[str] | None = None, mode: str = "overwrite") -> None:
    """K2 via the TableFormat seam (parquet locally, Iceberg on a
    cluster — see sources.tableformat)."""
    from lnex_spark.sources.tableformat import write_table

    write_table(df, path, partition_cols=partition_cols, mode=mode)
