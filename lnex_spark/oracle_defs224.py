"""The transcript-curation flagship: one composed end-to-end
LLM-training-data pipeline over the north-rule transcript shape —

    dedup → quality gate → PII scrub → context assembly → packing

— value-hash checked against a full independent DuckDB re-derivation.
The KG flagship (pipeline.py) demonstrates extraction at scale; this
demonstrates the other half of what a 100 TB transcript corpus is
*for*: turning conversations into deduplicated, filtered, packed
training sequences.

Stage semantics (each also exists as a standalone op elsewhere; this
entry proves the COMPOSITION stays correct and shuffle-frugal):

  1. duplicate injection + conversation-level exact dedup — the synth
     source has no dups, so the pipeline unions a re-labeled copy of
     the first 20 conversations (dup#c<i>); dedup fingerprints each
     conversation (md5 over turn-ordered texts) and keeps the
     lexicographically-least conv_id per fingerprint (deterministic
     winner, no RNG).
  2. conversation quality gate — n_turns ≥ 10 and mean turn length
     within band (the Gopher-gate idiom lifted to conversation
     granularity).
  3. PII scrub — mask digit runs ≥4 (the reproducible stand-in for
     phone/SSN masking; regexp dialect shared by both engines).
  4. context assembly — for every assistant turn of a surviving
     conversation, previous ≤3 turns joined ' <SEP> ' (ROWS BETWEEN
     3 PRECEDING AND 1 PRECEDING over one conv_id shuffle).
  5. sharded sequence packing — token budget 120 per sequence,
     cumulative token count within an md5-derived 8-way shard
     (ordered by conv_id, turn_idx), seq_id = shard·10^6 +
     floor((cum−n)/budget).  Sharding keeps the cumsum window
     partitioned — a GLOBAL running sum would serialize on one
     partition at 10^12 turns; per-shard budgets lose nothing
     (sequences never straddle shards by construction).

Output: (seq_id, n_pairs, n_tokens) per packed sequence — compact,
sortable, and every upstream stage's correctness is load-bearing in
the hash.

Scale notes: stage 1 aggregates a commutative multiset fingerprint
(summed xxhash64(turn_idx, text) halves + count) map-side (the SQL here
keeps the readable ordered-md5 definition — equal duplicate classes,
which is all the output depends on; the value-hash check proves it);
the keep/gate list is conversation-cardinality (≪ turns) and
broadcasts back; stages 3-5 run on token ARITHMETIC (no assembled
strings in any shuffle — see operators/curation.curate_transcripts);
windows are keyed by conv_id / shard — nothing global, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracle_defs223 import _SQL_TR, _transcripts
from lnex_spark.oracles import register


_BUDGET = 120
_SHARDS = 8

_CURATION_SQL = f"""
    WITH {_SQL_TR},
    -- 1. inject duplicates: re-label conversations 0..19
    uni AS (
      SELECT conv_id, turn_idx, role, text FROM tr
      UNION ALL
      SELECT 'dup#' || conv_id, turn_idx, role, text FROM tr
      WHERE CAST(substr(conv_id, 2) AS INTEGER) < 20
    ),
    fp AS (
      SELECT conv_id,
             md5(string_agg(turn_idx || ':' || text, chr(10) ORDER BY turn_idx))
               AS fingerprint,
             count(*) AS n_turns,
             avg(length(text)) AS mean_len
      FROM uni GROUP BY conv_id
    ),
    keep AS (
      SELECT min(conv_id) AS conv_id FROM fp GROUP BY fingerprint
    ),
    -- 2. conversation quality gate
    gated AS (
      SELECT f.conv_id FROM fp f JOIN keep k ON f.conv_id = k.conv_id
      WHERE f.n_turns >= 10 AND f.mean_len BETWEEN 5 AND 200
    ),
    -- 3. PII scrub on surviving turns
    clean AS (
      SELECT u.conv_id, u.turn_idx, u.role,
             regexp_replace(u.text, '[0-9]{{4,}}', '<NUM>', 'g') AS text
      FROM uni u JOIN gated g ON u.conv_id = g.conv_id
    ),
    -- 4. context assembly for assistant turns
    pairs AS (
      SELECT conv_id, turn_idx,
             coalesce(string_agg(text, ' <SEP> ') OVER (
               PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), '') AS context,
             text AS target, role
      FROM clean
    ),
    toks AS (
      -- token = \\S+ run (NOT split-on-whitespace: split('') is [''],
      -- miscounting a fully-empty pair as 1 token where a run count
      -- gives the correct 0)
      SELECT conv_id, turn_idx, context, target,
             len(regexp_extract_all(context || ' ' || target, '\\S+')) AS n_tok,
             CAST(('0x' || substr(md5(conv_id), 1, 4)) AS INTEGER) % {_SHARDS} AS shard
      FROM pairs WHERE role = 'assistant'
    ),
    -- 5. sharded greedy packing by cumulative token count
    packed AS (
      SELECT shard, n_tok,
             sum(n_tok) OVER (PARTITION BY shard ORDER BY conv_id, turn_idx
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM toks
    )
    SELECT CAST(CAST(shard AS BIGINT) * (1::BIGINT << 40)
                + ((cum - n_tok) // {_BUDGET}) AS BIGINT) AS seq_id,
           count(*) AS n_pairs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM packed GROUP BY 1
"""


@register("curation_flagship", _CURATION_SQL)
def curation_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.curation import curate_transcripts

    t = _transcripts(spark).drop("tool", "ts")
    dups = (
        t.where(F.regexp_extract("conv_id", r"^c(\d+)$", 1).cast("int") < 20)
        .withColumn("conv_id", F.concat(F.lit("dup#"), F.col("conv_id")))
    )
    return curate_transcripts(
        t.unionByName(dups), budget=_BUDGET, shards=_SHARDS
    )


# --- incremental ingestion dedup -------------------------------------------
# State = conversations c0..c149 already ingested.  New batch =
# c100..c199 (50 overlap the state), re-labeled copies new#c0..new#c19
# (duplicates of state content under new ids), and re-labeled copies
# bat#c150..bat#c159 (in-batch duplicate pairs with c150..c159, none in
# state; 'bat#...' < 'c...' lexicographically, so the relabeled copy is
# the batch winner).  Expected: 70 dup_of_state, 10 dup_in_batch,
# 50 novel.  The DuckDB twin re-derives fingerprints with the readable
# ordered-md5 definition; Spark uses the commutative xor (see
# operators/curation.surviving_conversations) — equal duplicate
# classes, value-hash-checked here across a JOIN of two fingerprint
# tables, not just one corpus.
_INCR_SQL = f"""
    WITH {_SQL_TR},
    state AS (
      SELECT conv_id,
             md5(string_agg(turn_idx || ':' || text, chr(10) ORDER BY turn_idx)) AS fp
      FROM tr WHERE CAST(substr(conv_id, 2) AS INTEGER) < 150 GROUP BY conv_id
    ),
    batch_turns AS (
      SELECT conv_id, turn_idx, text FROM tr
      WHERE CAST(substr(conv_id, 2) AS INTEGER) >= 100
      UNION ALL
      SELECT 'new#' || conv_id, turn_idx, text FROM tr
      WHERE CAST(substr(conv_id, 2) AS INTEGER) < 20
      UNION ALL
      SELECT 'bat#' || conv_id, turn_idx, text FROM tr
      WHERE CAST(substr(conv_id, 2) AS INTEGER) BETWEEN 150 AND 159
    ),
    bfp AS (
      SELECT conv_id,
             md5(string_agg(turn_idx || ':' || text, chr(10) ORDER BY turn_idx)) AS fp
      FROM batch_turns GROUP BY conv_id
    ),
    stf AS (SELECT DISTINCT fp FROM state)
    SELECT b.conv_id,
           CASE WHEN s.fp IS NOT NULL THEN 'dup_of_state'
                WHEN b.conv_id != min(b.conv_id) OVER (PARTITION BY b.fp)
                  THEN 'dup_in_batch'
                ELSE 'novel' END AS status
    FROM bfp b LEFT JOIN stf s ON b.fp = s.fp
"""


@register("curation_incremental", _INCR_SQL)
def curation_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.curation import (
        classify_new_conversations,
        conversation_fingerprints,
    )

    t = _transcripts(spark).select("conv_id", "turn_idx", "text")
    num = F.regexp_extract("conv_id", r"^c(\d+)$", 1).cast("int")
    state_fp = conversation_fingerprints(t.where(num < 150))
    batch = (
        t.where(num >= 100)
        .unionByName(
            t.where(num < 20).withColumn(
                "conv_id", F.concat(F.lit("new#"), F.col("conv_id"))
            )
        )
        .unionByName(
            t.where(num.between(150, 159)).withColumn(
                "conv_id", F.concat(F.lit("bat#"), F.col("conv_id"))
            )
        )
    )
    return classify_new_conversations(state_fp, batch)
