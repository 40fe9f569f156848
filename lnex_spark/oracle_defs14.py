"""Oracle pairs that run ``sources.synth``.

  * conv_profile_synth — conversation profiling over the custom
    Python Data Source (turns, roles, tool-call count, text volume
    per conversation): the ingest-QA summary a transcript pipeline
    materializes next to the raw table, doubly verifying the source's
    generated rows through an aggregate lens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


# --- conversation profiling over the custom Python Data Source ----------
@register(
    "conv_profile_synth",
    """
    WITH convs AS (SELECT unnest(range(0, 40)) AS i),
    turns AS (SELECT unnest(range(0, 25)) AS j),
    t AS (
      SELECT 'c' || i AS conv_id, CAST(j AS INT) AS turn_idx,
             CASE WHEN j % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
             'turn ' || i || ' ' || j || ' ' || substr(md5('c' || i || ':' || j), 1, 8) AS text,
             CASE WHEN j % 5 = 3 THEN 'search' ELSE NULL END AS tool
      FROM convs CROSS JOIN turns
    )
    SELECT conv_id,
           count(*) AS n_turns,
           count(DISTINCT role) AS n_roles,
           count(tool) AS n_tool_calls,
           CAST(sum(length(text)) AS BIGINT) AS text_chars,
           min(turn_idx) AS first_turn,
           max(turn_idx) AS last_turn
    FROM t GROUP BY conv_id
    """,
)
def conv_profile_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.sources import synth

    synth.register(spark)
    df = (
        spark.read.format("transcripts_synth")
        .option("n_convs", 40)
        .option("turns_per_conv", 25)
        .option("num_partitions", 4)
        .load()
    )
    return df.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.count_distinct("role").alias("n_roles"),
        F.count("tool").alias("n_tool_calls"),
        F.sum(F.length("text")).alias("text_chars"),
        F.min("turn_idx").alias("first_turn"),
        F.max("turn_idx").alias("last_turn"),
    )
