"""Oracle pairs that run ``sources.synth``.

  * gap_detection_synth — missing-turn integrity check over the
    custom Python Data Source with a deterministic loss rule injected
    (drop turn_idx ≡ 3 mod 7 in even conversations): per damaged
    conversation the missing-index count and first missing index,
    via a generated expected-range anti-join.  T1's contiguity
    assumption, made auditable — the intake check a transcript
    pipeline runs before trusting turn ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


# --- sequence-gap integrity over the synth source --------------------------
_GAP_SQL = """
    WITH convs AS (SELECT unnest(range(0, 50)) AS i),
    turns AS (SELECT unnest(range(0, 21)) AS j),
    t AS (
      SELECT 'c' || i AS conv_id, i, CAST(j AS INT) AS turn_idx
      FROM convs CROSS JOIN turns
      WHERE NOT (j % 7 = 3 AND i % 2 = 0)
    ),
    ext AS (
      SELECT conv_id, max(turn_idx) AS mx, count(*) AS n
      FROM t GROUP BY conv_id
    ),
    expected AS (
      SELECT conv_id, CAST(e AS INT) AS turn_idx
      FROM ext, unnest(range(0, mx + 1)) AS r(e)
    ),
    missing AS (
      SELECT e.conv_id, e.turn_idx FROM expected e
      WHERE NOT EXISTS (SELECT 1 FROM t
                        WHERE t.conv_id = e.conv_id
                          AND t.turn_idx = e.turn_idx)
    )
    SELECT conv_id, count(*) AS n_missing,
           min(turn_idx) AS first_missing
    FROM missing GROUP BY conv_id
"""


@register("gap_detection_synth", _GAP_SQL)
def gap_detection_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inject a deterministic loss rule into the synth transcript read
    (drop turn_idx ≡ 3 mod 7 in even conversations), then detect the
    damage: expected indices 0..max per conversation generated with
    sequence+explode (no shuffle to build the spine), anti-joined
    against the surviving turns.  Only damaged conversations report;
    trailing truncation is invisible by construction (max is taken
    from surviving data) — the op checks CONTIGUITY, not length."""
    from lnex_spark.sources import synth

    synth.register(spark)
    df = (
        spark.read.format("transcripts_synth")
        .option("n_convs", 50)
        .option("turns_per_conv", 21)
        .option("num_partitions", 4)
        .load()
    )
    cnum = F.substring("conv_id", 2, 10).cast("int")
    t = df.filter(
        ~((F.col("turn_idx") % 7 == 3) & (cnum % 2 == 0))
    ).select("conv_id", "turn_idx")
    ext = t.groupBy("conv_id").agg(F.max("turn_idx").alias("mx"))
    expected = ext.select(
        "conv_id",
        F.explode(F.sequence(F.lit(0), F.col("mx"))).alias("turn_idx"),
    )
    missing = expected.join(t, ["conv_id", "turn_idx"], "left_anti")
    return missing.groupBy("conv_id").agg(
        F.count("*").alias("n_missing"), F.min("turn_idx").alias("first_missing")
    )
