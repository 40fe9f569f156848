"""Oracle pair that runs ``operators.curation``.

  * pack_sequences_docs — greedy first-fit token-budget packing
    (curation.pack_sequences): the LLM training-batch construction
    step.  Sequential state is confined to bounded doc_id shards (one
    applyInPandas island, embarrassingly parallel across shards); the
    DuckDB twin replays the same greedy recurrence as a RECURSIVE CTE
    stepping one doc per iteration across all shards at once — the
    accumulate-with-reset class of computation, value-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- greedy sequence packing (recursive-CTE oracle) ------------------------
_PACK_SQL = r"""
    WITH RECURSIVE d AS (
      SELECT doc_id, doc_id // 100 AS shard,
             CASE WHEN len(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
             row_number() OVER (PARTITION BY doc_id // 100 ORDER BY doc_id) AS rn
      FROM documents
    ),
    packed AS (
      SELECT doc_id, shard, n_tokens, rn,
             CAST(0 AS BIGINT) AS bin, n_tokens AS cur
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.doc_id, d.shard, d.n_tokens, d.rn,
             CASE WHEN p.cur + d.n_tokens > 128 THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.cur + d.n_tokens > 128 THEN d.n_tokens
                  ELSE p.cur + d.n_tokens END
      FROM packed p JOIN d ON d.shard = p.shard AND d.rn = p.rn + 1
    )
    SELECT doc_id, shard, bin, n_tokens FROM packed
"""


@register("pack_sequences_docs", _PACK_SQL)
def pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.curation import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), budget=128, shard_size=100)

