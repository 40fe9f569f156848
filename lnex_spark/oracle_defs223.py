"""Oracle pairs that run ``sources.synth``.

  * tool_usage_stats / tool_chain_transitions / tool_next_reply_len —
    the `tool` column finally gets first-class analytics: usage
    profile, per-conversation tool→tool transition matrix, and
    tool→next-assistant-reply length attribution.  The synth source
    emits a single constant tool name, so each op derives a 4-way
    deterministic tool VARIANT from md5(conv_id:turn_idx) — the same
    md5 the source already embeds in `text` — keeping both engines'
    derivations exact and value-hashable.

  * turn_context_assembly — the training-example idiom: for every
    assistant turn, assemble the previous ≤3 turns as the context
    window (ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), target = the
    turn text.  Pure window functions, zero UDFs, one shuffle on
    conv_id.

  * conv_dedup_fingerprint — conversation-granularity exact dedup:
    md5 over the turn texts in turn order.  Spark side uses
    sort_array(struct(turn_idx, text)) so the aggregation order is
    deterministic without a window (collect_list over groupBy has no
    order guarantee).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


_N_CONVS, _TURNS = 200, 25

# DuckDB re-derivation of the transcripts_synth source (sources/synth.py
# _row): text embeds md5(conv_id:turn_idx)[:8]; tool fires on j%5==3.
_SQL_TR = f"""
    convs AS (SELECT unnest(range(0, {_N_CONVS})) AS i),
    turns AS (SELECT unnest(range(0, {_TURNS})) AS j),
    tr AS (
      SELECT 'c' || i AS conv_id, CAST(j AS INT) AS turn_idx,
             CASE WHEN j % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
             'turn ' || i || ' ' || j || ' ' ||
               substr(md5('c' || i || ':' || j), 1, 8) AS text,
             CASE WHEN j % 5 = 3 THEN 'search' ELSE NULL END AS tool
      FROM convs CROSS JOIN turns
    )
"""

# 4-way tool variant from the same md5 the source embeds in `text`:
# hex nibble -> {search, code, browse, calc}.  Spark conv(hex,16,10) and
# DuckDB '0x'-cast agree exactly on one hex char.
_VARIANTS = ("search", "code", "browse", "calc")
_SQL_VARIANT = (
    "list_value('search','code','browse','calc')"
    "[1 + CAST(('0x' || substr(md5(conv_id || ':' || turn_idx), 1, 1)) AS INTEGER) % 4]"
)


def _variant_col() -> F.Column:
    nib = F.conv(
        F.substring(F.md5(F.concat_ws(":", "conv_id", F.col("turn_idx").cast("string"))), 1, 1),
        16,
        10,
    ).cast("int")
    return F.element_at(F.array(*[F.lit(v) for v in _VARIANTS]), nib % 4 + 1)


def _transcripts(spark: SparkSession) -> DataFrame:
    from lnex_spark.sources import synth

    synth.register(spark)
    return (
        spark.read.format("transcripts_synth")
        .option("n_convs", _N_CONVS)
        .option("turns_per_conv", _TURNS)
        .option("num_partitions", 8)
        .load()
    )


# --- tool usage profile -----------------------------------------------------
@register(
    "tool_usage_stats",
    f"""
    WITH {_SQL_TR}
    SELECT role, {_SQL_VARIANT} AS tool_variant,
           count(*) AS n_turns,
           CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
           round(avg(length(text)), 6) AS avg_text_len
    FROM tr WHERE tool IS NOT NULL
    GROUP BY role, tool_variant
    """,
)
def tool_usage_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (role, tool) usage profile over the transcript table — the
    first aggregate a pipeline owner asks of the `tool` column.  One
    hash aggregation; the filter prunes before the shuffle."""
    t = _transcripts(spark).where(F.col("tool").isNotNull())
    return t.withColumn("tool_variant", _variant_col()).groupBy("role", "tool_variant").agg(
        F.count("*").alias("n_turns"),
        F.countDistinct("conv_id").cast("long").alias("n_convs"),
        F.round(F.avg(F.length("text")), 6).alias("avg_text_len"),
    )


# --- tool -> tool transition matrix ------------------------------------------
@register(
    "tool_chain_transitions",
    f"""
    WITH {_SQL_TR},
    tool_turns AS (
      SELECT conv_id, turn_idx, {_SQL_VARIANT} AS tv
      FROM tr WHERE tool IS NOT NULL
    ),
    chains AS (
      SELECT tv,
             lag(tv) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_tv
      FROM tool_turns
    )
    SELECT prev_tv, tv, count(*) AS n
    FROM chains WHERE prev_tv IS NOT NULL
    GROUP BY prev_tv, tv
    """,
)
def tool_chain_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which tool follows which within a conversation — the Markov
    transition matrix agent-pipeline dashboards live on.  lag() over
    (conv_id, turn_idx) then one aggregation: the window and the
    implicit groupBy share no key, but the window's shuffle on conv_id
    dominates and the 16-cell matrix aggregates map-side."""
    t = (
        _transcripts(spark)
        .where(F.col("tool").isNotNull())
        .select("conv_id", "turn_idx", _variant_col().alias("tv"))
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        t.withColumn("prev_tv", F.lag("tv").over(w))
        .where(F.col("prev_tv").isNotNull())
        .groupBy("prev_tv", "tv")
        .agg(F.count("*").alias("n"))
    )


# --- tool -> next assistant reply length attribution -------------------------
@register(
    "tool_next_reply_len",
    f"""
    WITH {_SQL_TR},
    nxt AS (
      SELECT conv_id, turn_idx, tool, {_SQL_VARIANT} AS tv,
             lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_role,
             lead(length(text)) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_len
      FROM tr
    )
    SELECT tv AS tool_variant,
           count(*) AS n_pairs,
           round(avg(next_len), 6) AS avg_next_reply_len
    FROM nxt
    WHERE tool IS NOT NULL AND next_role = 'assistant'
    GROUP BY tv
    """,
)
def tool_next_reply_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution: after a tool call, how long is the assistant's
    next reply?  lead() pairs each tool turn with its successor
    in-conversation; one window shuffle, 4-row result."""
    t = _transcripts(spark)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    nxt = t.select(
        "tool",
        _variant_col().alias("tv"),
        F.lead("role").over(w).alias("next_role"),
        F.lead(F.length("text")).over(w).alias("next_len"),
    )
    return (
        nxt.where(F.col("tool").isNotNull() & (F.col("next_role") == "assistant"))
        .groupBy(F.col("tv").alias("tool_variant"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.avg("next_len"), 6).alias("avg_next_reply_len"),
        )
    )


# --- training-example context assembly ---------------------------------------
@register(
    "turn_context_assembly",
    f"""
    WITH {_SQL_TR},
    ctx AS (
      SELECT conv_id, turn_idx, role, text AS target,
             coalesce(string_agg(text, ' <SEP> ') OVER (
               PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), '') AS context
      FROM tr
    )
    SELECT conv_id, turn_idx, context, target
    FROM ctx WHERE role = 'assistant'
    """,
)
def turn_context_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assemble (context, target) training pairs: for every assistant
    turn, the previous ≤3 turns joined with a separator.  The sliding
    frame reuses one conv_id shuffle for every pair in the
    conversation — at 10^12 turns this is the cheapest correct shape
    (vs a self-join exploding 3× the rows).  collect_list over a
    bounded ROWS frame preserves frame order, matching DuckDB's
    framed string_agg."""
    t = _transcripts(spark)
    w = Window.partitionBy("conv_id").orderBy("turn_idx").rowsBetween(-3, -1)
    return (
        t.withColumn("context", F.concat_ws(" <SEP> ", F.collect_list("text").over(w)))
        .where(F.col("role") == "assistant")
        .select("conv_id", "turn_idx", "context", F.col("text").alias("target"))
    )


# --- conversation-level exact-dup fingerprint --------------------------------
@register(
    "conv_dedup_fingerprint",
    f"""
    WITH {_SQL_TR}
    SELECT conv_id,
           CAST(count(*) AS BIGINT) AS n_turns,
           md5(string_agg(text, chr(10) ORDER BY turn_idx)) AS fingerprint
    FROM tr GROUP BY conv_id
    """,
)
def conv_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup at conversation granularity: md5 over the turn
    texts in turn order.  groupBy conv_id + sort_array(struct(...))
    gives a deterministic in-group order WITHOUT a window pass —
    collect_list alone has no order guarantee under partial
    aggregation, and a window + groupBy would shuffle twice."""
    t = _transcripts(spark)
    return t.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.md5(
            F.concat_ws(
                "\n",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("turn_idx", "text"))),
                    lambda s: s["text"],
                ),
            )
        ).alias("fingerprint"),
    )
