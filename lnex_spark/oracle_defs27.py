"""Twenty-seventh oracle-registry module: vocabulary coverage and
dialogue transition structure.

  * vocab_coverage_docs — smallest top-frequency token prefix covering
    50/90/99% of token mass (textstats.vocab_coverage): the Zipf-head
    statistic behind tokenizer-vocab sizing.  Integer counts ⇒ the
    cumulative threshold comparison is exact on both engines.
  * role_transitions_synth — (from_state → to_state) Markov transition
    counts + per-source shares over conversation turns from the custom
    Python Data Source, where state = tool call if present else role:
    the dialogue-structure profile of an agent-transcript corpus (how
    often does the assistant call a tool, does the user follow a tool
    result, …).  One lag window per conversation ordered by turn_idx —
    T1's ordering invariant applied to sequence mining; the DuckDB twin
    re-derives the source's md5 generation rule, triple-checking the
    synth source through a sequence lens (after row- and
    aggregate-lens checks in source_synth_transcripts /
    conv_profile_synth).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- vocabulary coverage curve ----------------------------------------------
_VOCAB_SQL = r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      FROM documents WHERE doc_id < 300
    ),
    toks_ne AS (SELECT doc_id, tok FROM toks WHERE len(tok) > 0),
    freq AS (SELECT tok, count(*) AS f FROM toks_ne GROUP BY 1),
    tot AS (
      SELECT CAST(sum(f) AS BIGINT) AS total_tokens,
             count(*) AS vocab_size
      FROM freq
    ),
    ranked AS (
      SELECT row_number() OVER (ORDER BY f DESC, tok ASC) AS r,
             CAST(sum(f) OVER (ORDER BY f DESC, tok ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      FROM freq
    )
    SELECT threshold, min(r.r) AS n_top_tokens, vocab_size, total_tokens
    FROM (SELECT CAST(v AS DOUBLE) AS threshold
          FROM (VALUES (0.5), (0.9), (0.99)) x(v)) t
    CROSS JOIN tot
    JOIN ranked r ON r.cum >= t.threshold * tot.total_tokens
    GROUP BY threshold, vocab_size, total_tokens
"""


@register("vocab_coverage_docs", _VOCAB_SQL)
def vocab_coverage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.textstats import vocab_coverage

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return vocab_coverage(d)


# --- dialogue role/tool transition matrix -----------------------------------
_ROLETRANS_SQL = """
    WITH convs AS (SELECT unnest(range(0, 40)) AS i),
    turns AS (SELECT unnest(range(0, 25)) AS j),
    t AS (
      SELECT 'c' || i AS conv_id, CAST(j AS INT) AS turn_idx,
             CASE WHEN j % 5 = 3 THEN 'tool:search'
                  WHEN j % 2 = 0 THEN 'user' ELSE 'assistant' END AS state
      FROM convs CROSS JOIN turns
    ),
    seq AS (
      SELECT conv_id, turn_idx, state,
             lag(state) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_state
      FROM t
    ),
    cnt AS (
      SELECT prev_state AS from_state, state AS to_state, count(*) AS n
      FROM seq WHERE prev_state IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT from_state, to_state, n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY from_state), 6) AS share
    FROM cnt
"""


@register("role_transitions_synth", _ROLETRANS_SQL)
def role_transitions_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.sources import synth

    synth.register(spark)
    df = (
        spark.read.format("transcripts_synth")
        .option("n_convs", 40)
        .option("turns_per_conv", 25)
        .option("num_partitions", 4)
        .load()
    )
    state = F.when(
        F.col("tool").isNotNull(), F.concat(F.lit("tool:"), F.col("tool"))
    ).otherwise(F.col("role"))
    seq = df.select(
        "conv_id",
        "turn_idx",
        state.alias("state"),
        F.lag(state)
        .over(Window.partitionBy("conv_id").orderBy("turn_idx"))
        .alias("prev_state"),
    )
    cnt = (
        seq.filter(F.col("prev_state").isNotNull())
        .groupBy(F.col("prev_state").alias("from_state"), F.col("state").alias("to_state"))
        .agg(F.count("*").alias("n"))
    )
    return cnt.select(
        "from_state",
        "to_state",
        "n",
        F.round(
            F.col("n") * 1.0 / F.sum("n").over(Window.partitionBy("from_state")), 6
        ).alias("share"),
    )
