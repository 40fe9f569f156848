"""Scalable exact quantiles: two-pass bucketed rank selection.

Several verified ops pick exact quantile rows with a single global
ORDER BY window — correct, but only because their inputs are bounded
(day tables, per-type partitions).  At 10^12 rows a global sort-rank
is the one thing the plan must NOT contain.  This module is the
scale path: the classic two-pass selection —

  pass 1: histogram on a coarsening key (one hash agg, bucket-count
          sized), locate the bucket containing the target rank from
          the running bucket counts (a window over the HISTOGRAM,
          whose size is value-range/width — independent of the row
          count);
  pass 2: scan ONLY that bucket's rows (a selective filter the scan
          pushes down) and pick the in-bucket offset with a bounded
          local sort-limit.

Cost: two scans + one tiny aggregation; no global sort, no window
over the corpus.  Exactness: rank arithmetic over integer counts —
the same value the ORDER-BY pick would return, provable because
bucketing by floor() preserves value order between buckets.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def bucketed_exact_quantile(
    df: DataFrame, col: str, q: float, bucket_width: float = 1.0
) -> tuple[int, int, float]:
    """Exact q-quantile of ``df[col]`` (discrete, percentile_disc
    convention: the value at rank ceil(q*n) under ORDER BY col) via
    two-pass bucketed selection.  Returns (n, k, value).

    Driver-side state is three scalars (n, target bucket, in-bucket
    offset) — the same scalar-decision pattern as the BPE merge step,
    never a row collect.
    """
    v = F.col(col)
    from lnex_spark.operators.scalable_windows import attach_running_sum

    bucket = F.floor(v / F.lit(bucket_width)).cast("long")
    hist = df.select(bucket.alias("b")).groupBy("b").agg(F.count("*").alias("c"))
    n = hist.agg(F.sum("c")).collect()[0][0]
    if not n:
        raise ValueError("empty input")
    k = math.ceil(q * n)
    # histogram size is value-range/width — usually tiny, but a
    # pathological width choice must not recreate the single-partition
    # window this module exists to avoid: distributed prefix sum
    target = (
        attach_running_sum(hist, [F.col("b").asc()], "c", out_col="cum")
        .filter(F.col("cum") >= k)
        .orderBy("b")
        .limit(1)
        .collect()[0]
    )
    offset = k - (target["cum"] - target["c"])
    val = (
        df.filter(bucket == F.lit(int(target["b"])))
        .select(v.alias("v"))
        .orderBy("v")
        .limit(int(offset))
        .agg(F.max("v").alias("v"))
        .collect()[0]["v"]
    )
    return int(n), int(k), float(val)
