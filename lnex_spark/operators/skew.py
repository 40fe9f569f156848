"""Skew handling for the long-tail conv_id distribution (X2).

The transcripts table's conv_id is long-tail skewed (one conversation
can hold a large fraction of all turns). AQE's skew-join splitting
only fixes *joins*; the heavy stage here is the extraction UDF, so we
salt explicitly: repartition on (conv_id, salt) where salt =
pmod(hash(conv_id, turn_idx), S). Deterministic (no rand()) so a
resumed job produces identical partitioning, and turn-level — a hot
conversation spreads across S tasks.

The extraction stage is per-turn stateless, so salting is always
safe; downstream stages that need conv-level grouping (T1 ordering)
re-shuffle on conv_id anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salt_repartition(df: DataFrame, num_partitions: int) -> DataFrame:
    """Salt with 4 x num_partitions buckets: the bucket count must
    comfortably exceed num_partitions, because a hot conv_id only
    spreads across min(buckets, num_partitions) tasks, so too few
    buckets re-creates the skew at high parallelism."""
    buckets = num_partitions * 4
    salted = df.withColumn(
        "_salt", F.pmod(F.hash(F.col("conv_id"), F.col("turn_idx")), F.lit(buckets))
    )
    return salted.repartition(num_partitions, F.col("conv_id"), F.col("_salt")).drop("_salt")


def suggest_salt_partitions(
    df: DataFrame,
    target_parallelism: int,
    max_rows_per_task_factor: float = 1.5,
    sample_fraction: float | None = None,
) -> int | None:
    """Probe the conv_id distribution and decide whether (and how wide)
    to salt before the extraction stage.

    Returns None when the corpus is balanced enough that the hottest
    conversation fits in ~max_rows_per_task_factor x the mean task
    load at ``target_parallelism`` — salting then only buys an extra
    shuffle. Otherwise returns a partition count sized so even the
    hottest key spreads thin: the driver-side cost is ONE tiny
    aggregation (top-1 conv share), optionally over a deterministic
    sample for very large inputs. The decision is made from data, not
    configuration — the same job self-tunes from a uniform corpus to
    one where a single agent conversation holds 20% of all turns.
    """
    probe = df
    if sample_fraction:
        gate = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(1_000_000))
        probe = df.filter(gate < int(sample_fraction * 1_000_000))
    stats = (
        probe.groupBy("conv_id")
        .agg(F.count("*").alias("n"))
        .agg(F.max("n").alias("hot"), F.sum("n").alias("total"))
        .first()
    )
    if not stats or not stats.total:
        return None
    mean_task = stats.total / target_parallelism
    if stats.hot <= max_rows_per_task_factor * mean_task:
        return None
    return target_parallelism
