"""Checkpoint / resume with per-partition lineage + metrics (X3).

North-rule mandate (not in the reference): the extraction job over a
10^12-turn table must be resumable. Unit of work = a conv_id bucket
(``pmod(xxhash64(conv_id), n_buckets)``) — deterministic, independent
of physical partitioning, and aligned with an Iceberg
``bucket(conv_id)`` table layout so "overwrite partition" is exact.

Protocol:
  1. plan: all bucket ids minus the manifest's completed buckets
     (a broadcast anti-join at planning time);
  2. run: process remaining buckets, write linked mentions
     partitioned by bucket, then append one (bucket, n_turns,
     n_mentions, wall_ms, batch_id) row per bucket to the manifest —
     the bucket's own counts, and the wall time of the batch that
     wrote it (older manifests also carry an n_triples column; only
     ``bucket`` is read back);
  3. a killed job reruns step 1 and skips finished buckets; bucket
     output is overwritten atomically per-partition → idempotent.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = "bucket int, n_turns long, n_mentions long, wall_ms long, batch_id string"


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int"))


def path_exists(spark: SparkSession, path: str) -> bool | None:
    """Cluster-correct existence probe via the Hadoop FileSystem API —
    works on every scheme (HDFS/S3A/local), unlike a driver-local
    os.path check, and quieter than letting spark.read log a full
    FileNotFoundException stack on an (expected) fresh-start path.
    Returns None when the probe itself is unavailable (non-JVM shells,
    e.g. Connect) — callers should then fall back to a read attempt."""
    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(jpath))
    except Exception:
        return None


def completed_buckets(spark: SparkSession, manifest_path: str) -> list[int]:
    if path_exists(spark, manifest_path) is False:
        return []
    try:
        rows = spark.read.parquet(manifest_path).select("bucket").distinct().collect()
    except Exception:
        return []
    return sorted(r[0] for r in rows)


def pending_buckets(spark: SparkSession, manifest_path: str, n_buckets: int) -> list[int]:
    done = set(completed_buckets(spark, manifest_path))
    return [b for b in range(n_buckets) if b not in done]


def record_buckets(
    spark: SparkSession,
    manifest_path: str,
    rows: list[tuple[int, int, int, int, str]],
) -> None:
    if rows:
        spark.createDataFrame(rows, MANIFEST_SCHEMA).write.mode("append").parquet(manifest_path)


class StageTimer:
    """Wall-clock per resumable batch; feeds the manifest metrics."""

    def __enter__(self):
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        self.wall_ms = int((time.monotonic() - self.t0) * 1000)
        return False
