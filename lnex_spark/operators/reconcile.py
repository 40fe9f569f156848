"""Table reconciliation + interval-concurrency analytics.

Not in the reference (LNEx has no tables to reconcile — SURVEY.md §0);
both are host-engine infrastructure a 100 TB KG deployment runs
routinely:

* ``table_diff`` — classify every key of two table versions as
  added / deleted / changed / same.  This is the audit step after an
  incremental KG merge (operators/incremental.py) or a MERGE INTO:
  one full-outer join on the key, column-wise
  null-safe comparison — NO row hashing, so engine-specific value
  formatting (double→string) can never produce a false diff.  At
  scale this is one keyed shuffle of each side; with both versions
  bucketed on the key (tests/test_bucketed_join.py) it is
  exchange-free.

* ``concurrency_sweep`` — number of open intervals at each boundary
  timestamp via the classic +1/-1 sweep: a union of (start,+1)/
  (end,-1) deltas, aggregated per timestamp (one hash agg with
  map-side partials), then ONE running sum ordered by time.  The
  naive form is an O(n²) interval self-join; the sweep is linear and
  shuffles only the boundary table.  The running sum is the
  distributed prefix sum of operators/scalable_windows, so no stage
  moves the boundary table to one partition.  Coincident
  boundaries are netted per timestamp first, so a start and an end at
  the same instant are order-independent (closed-interval
  convention) and the result is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def table_diff(
    v1: DataFrame,
    v2: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """(key..., change) for every key present in either version.

    change ∈ {'added', 'deleted', 'changed', 'same'} from v1→v2.
    Comparison is null-safe per column (eqNullSafe ≙ IS NOT DISTINCT
    FROM), never via a serialized row hash.
    """
    a = v1.select(*key_cols, *compare_cols).alias("a")
    b = v2.select(*key_cols, *compare_cols).alias("b")
    cond = None
    for k in key_cols:
        c = F.col(f"a.{k}") == F.col(f"b.{k}")
        cond = c if cond is None else cond & c
    j = a.join(b, cond, "full_outer")

    differs = F.lit(False)
    for c in compare_cols:
        differs = differs | ~F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
    change = (
        F.when(F.col(f"a.{key_cols[0]}").isNull(), "added")
        .when(F.col(f"b.{key_cols[0]}").isNull(), "deleted")
        .when(differs, "changed")
        .otherwise("same")
    )
    keys = [
        F.coalesce(F.col(f"a.{k}"), F.col(f"b.{k}")).alias(k) for k in key_cols
    ]
    return j.select(*keys, change.alias("change"))


def concurrency_sweep(
    intervals: DataFrame,
    start_col: str = "s",
    end_col: str = "e",
) -> DataFrame:
    """(ts, delta, concurrent): open-interval count at each boundary.

    The running total over boundary timestamps is row-proportional
    (distinct ts can approach the interval count), so it uses the
    distributed prefix sum (operators/scalable_windows
    .attach_running_sum) instead of a single-partition window
    (converted in the round-4 global-window audit)."""
    from lnex_spark.operators.scalable_windows import attach_running_sum

    starts = intervals.select(F.col(start_col).alias("ts"), F.lit(1).alias("d"))
    ends = intervals.select(F.col(end_col).alias("ts"), F.lit(-1).alias("d"))
    deltas = starts.unionByName(ends).groupBy("ts").agg(F.sum("d").alias("delta"))
    return attach_running_sum(deltas, [F.col("ts").asc()], "delta", out_col="concurrent")
