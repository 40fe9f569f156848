"""Incremental KG maintenance: process transcript batches as they
arrive, keep a persistent (norm, geo_id) vote table, and re-derive
canonical triples — provably equal to rerunning the full-batch
pipeline over everything seen so far.

Why this shape: L3 canonicalization is a corpus-GLOBAL majority vote,
so naive incremental processing (canonicalize each batch alone) gives
different triples than the batch pipeline. But the vote table is an
ASSOCIATIVE aggregate — counts add — so the global vote is maintainable
with one tiny merge per batch:

    votes_n = merge(votes_{n-1}, count(new L2 winners))
    canon_n = argmax per norm over votes_n          (same tie-break)
    triples_n = winners_{1..n} rewritten by canon_n

Only the vote MERGE is incremental state (norm × geo_id — bounded by
the gazetteer, tiny); accumulated winners live in the bucket-
partitioned winners table the resumable pipeline already writes (X3),
so nothing new is stored per turn. A late batch can flip a canonical
winner — exactly as rerunning the batch pipeline would — and the
rewrite step re-emits from the winners table, so triples always equal
the from-scratch result (asserted by tests/test_incremental.py).

At cluster scale the vote table is a single small partitioned table
merged with one keyed aggregation per batch; the rewrite is the same
broadcast join as apply_canonical.

Like link.canonicalize, these are the reference chain: with a
context-free L2 (see pipeline.py) the vote is the identity and the KG
build paths link by a lookup inside the extraction UDF instead. perfbench's
kg_incremental workload drives them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def batch_votes(winners: DataFrame) -> DataFrame:
    """Vote contribution of one batch of L2 winners."""
    return winners.groupBy("norm", "geo_id").agg(F.count("*").alias("votes"))


def merge_votes(existing: DataFrame | None, new: DataFrame) -> DataFrame:
    """Associative vote merge — the ONLY incremental state transition."""
    if existing is None:
        return new
    return (
        existing.unionByName(new)
        .groupBy("norm", "geo_id")
        .agg(F.sum("votes").alias("votes"))
    )


def canonical_from_votes(votes: DataFrame) -> DataFrame:
    """Same argmax + tie-break as link.canonicalize (highest votes,
    smallest geo_id), but over the maintained table."""
    return votes.groupBy("norm").agg(
        F.max_by(
            "geo_id", F.struct(F.col("votes").alias("v"), (-F.col("geo_id")).alias("g"))
        ).alias("canonical_geo_id")
    )


# ======================================================================
# Triple-set MERGE (assert/retract batches) + snapshot CDC — the
# maintenance half of K2 graph materialization: the KG table is a SET
# of (subj, pred, obj); late corrections arrive as small batches of
# assertions and retractions, and MERGE must apply them without
# rewriting semantics (Iceberg MERGE INTO on a cluster; this seam
# reproduces its result through the snapshot log).
# ======================================================================

TRIPLE_COLS = ("subj", "pred", "obj")


def merge_triples(
    existing: DataFrame, updates: DataFrame, cols: tuple[str, ...] = TRIPLE_COLS
) -> DataFrame:
    """Apply an assert/retract batch to a triple set.

    ``updates`` carries ``cols`` plus ``op`` ∈ {'assert', 'retract'}.
    Result = (existing minus every triple touched by the batch) union
    (batch triples whose resolved op is assert). Within one batch,
    assert wins over retract on the same triple (a correction that
    retracts-then-reasserts is an upsert); asserting an existing
    triple is idempotent; retracting an absent one is a no-op.

    Scale shape: the batch is groupBy-resolved (batch-sized), its key
    set BROADCAST into one left-anti join against the big table — the
    existing table is never shuffled, the whole merge is a map-side
    pass plus a batch-sized append. This is the plan Iceberg's MERGE
    INTO picks for a broadcastable source (merge-on-read position
    deletes); at 10^12 triples anything that shuffles the target is
    the wrong plan.
    """
    key = [F.col(c) for c in cols]
    resolved = updates.groupBy(*key).agg(
        F.max(F.when(F.col("op") == "assert", 1).otherwise(0)).alias("is_assert")
    )
    kept = existing.join(F.broadcast(resolved.select(*cols)), list(cols), "left_anti")
    new = resolved.filter(F.col("is_assert") == 1).select(*cols)
    return kept.unionByName(new)


def merge_triples_snapshot(
    spark,
    base: str,
    updates: DataFrame,
    cols: tuple[str, ...] = TRIPLE_COLS,
    partition_cols: list[str] | None = None,
) -> int:
    """MERGE a batch into the snapshot-logged triple table at ``base``
    (sources.tableformat): read the latest version, apply
    ``merge_triples``, write the result as a NEW immutable snapshot and
    move the pointer. Returns the new version.

    Failure atomicity comes from the snapshot log: a crash mid-write
    leaves the pointer on the old version (write lands in v=N+1 before
    the pointer moves), so retrying the same batch converges —
    resume-safe exactly like the X3 bucket writes."""
    from lnex_spark.sources.tableformat import read_snapshot, write_snapshot

    merged = merge_triples(read_snapshot(spark, base), updates, cols)
    return write_snapshot(merged, base, partition_cols=partition_cols)


def snapshot_diff(
    spark,
    base: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Changelog between two snapshot versions: every row of the newer
    version absent from the older tagged ``change='added'``, and vice
    versa ``'removed'`` — Iceberg's CDC/changelog read re-derived from
    immutable snapshots. Two anti-joins over the two versions (both
    shuffle — a diff is inherently a co-location of both sides); on a
    cluster both reads prune to the partitions whose files differ."""
    from lnex_spark.sources.tableformat import read_snapshot

    old = read_snapshot(spark, base, version=from_version)
    new = read_snapshot(spark, base, version=to_version)
    added = new.join(old, list(new.columns), "left_anti").withColumn(
        "change", F.lit("added")
    )
    removed = old.join(new, list(old.columns), "left_anti").withColumn(
        "change", F.lit("removed")
    )
    return added.unionByName(removed)
