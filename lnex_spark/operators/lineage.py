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

The run identity (bucket count, gazetteer fingerprint, input files) is
written once next to the manifest, at ``<manifest>_identity``. A resume
whose identity differs is refused: a different bucket count re-buckets
conversations under done bucket ids (their turns are never processed),
and a different gazetteer or input mixes old and new linked mentions.
Manifests written before the identity existed get it on their next run.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = "bucket int, n_turns long, n_mentions long, wall_ms long, batch_id string"
IDENTITY_SCHEMA = "n_buckets int, model string, input array<string>"


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
    """Bucket ids the manifest records as done.

    Same commit rule as the run identity (:func:`check_run_identity`):
    a manifest without ``_SUCCESS`` — absent, or only the
    ``_temporary/`` of a killed first append — is empty. A committed
    manifest that cannot be read raises ValueError: reading it as empty
    would redo every bucket and append to the same unreadable directory
    on every later run."""
    committed = path_exists(spark, f"{manifest_path.rstrip('/')}/_SUCCESS")  # None: no JVM probe
    if committed is False:
        return []
    try:
        rows = spark.read.parquet(manifest_path).select("bucket").distinct().collect()
    except Exception as e:
        if committed:
            raise ValueError(
                f"cannot resume {manifest_path}: the committed manifest is unreadable "
                f"({type(e).__name__}); restore it, or use a fresh manifest and output path"
            ) from e
        return []
    return sorted(r[0] for r in rows)


def pending_buckets(spark: SparkSession, manifest_path: str, n_buckets: int) -> list[int]:
    done = set(completed_buckets(spark, manifest_path))
    return [b for b in range(n_buckets) if b not in done]


def check_run_identity(spark: SparkSession, manifest_path: str, identity: dict) -> None:
    """Write ``identity`` (the IDENTITY_SCHEMA fields) next to the
    manifest on the first run; on a resume, raise ValueError naming the
    first field that differs from the stored identity.

    The identity is committed once its ``_SUCCESS`` marker exists. A
    write killed before that (a directory holding only ``_temporary/``)
    counts as absent and is rewritten. A committed identity that cannot
    be read is an error, never overwritten: overwriting it would accept
    a changed run."""
    path = f"{manifest_path.rstrip('/')}_identity"
    committed = path_exists(spark, f"{path}/_SUCCESS")  # None: no JVM probe
    stored = None
    if committed is not False:
        try:
            stored = spark.read.parquet(path).first()
        except Exception as e:
            if committed:
                raise ValueError(
                    f"cannot resume {manifest_path}: its committed run identity at {path} "
                    f"is unreadable ({type(e).__name__}); restore it, or use a fresh "
                    "manifest and output path"
                ) from e
    if stored is None:
        row = (identity["n_buckets"], identity["model"], identity["input"])
        (
            spark.createDataFrame([row], IDENTITY_SCHEMA)
            .coalesce(1)
            .write.mode("overwrite")
            # the marker is the commit record above, whatever the cluster's default
            .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
            .parquet(path)
        )
        return
    for field, was in stored.asDict().items():
        if was != identity[field]:
            raise ValueError(
                f"cannot resume {manifest_path}: run identity field {field!r} changed "
                f"(manifest: {str(was)[:200]}, this run: {str(identity[field])[:200]}); "
                "use the original settings or a fresh manifest and output path"
            )


def record_buckets(
    spark: SparkSession,
    manifest_path: str,
    rows: list[tuple[int, int, int, int, str]],
) -> None:
    if rows:
        (
            spark.createDataFrame(rows, MANIFEST_SCHEMA)
            .write.mode("append")
            # _SUCCESS marks the manifest committed (completed_buckets)
            .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
            .parquet(manifest_path)
        )


class StageTimer:
    """Wall-clock per resumable batch; feeds the manifest metrics."""

    def __enter__(self):
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        self.wall_ms = int((time.monotonic() - self.t0) * 1000)
        return False
