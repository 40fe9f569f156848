"""Oracle pairs for the library operators outside the KG path: exact,
MinHash, LSH and SimHash dedup (``operators.dedup``); token counts,
fingerprints, language id and quality features
(``operators.textquality``); transitive closure and its rollup
(``operators.graph``); and the assert/retract triple merge
(``operators.incremental.merge_triples``).

The stopword counter ``_dd_word_count`` here is shared with the later
registry modules that re-derive the language id and quality features.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@register(
    "dedup_exact",
    """
    WITH uni AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
    )
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
           count(*) AS n_docs, min(doc_id) AS keep_doc_id
    FROM uni GROUP BY 1 HAVING count(*) > 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.dedup import exact_duplicates

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return exact_duplicates(d.unionByName(dup))


@register(
    "dedup_minhash_sig",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
    ),
    pos AS (
      SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3
    ),
    sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM pos)
    SELECT doc_id, h, min(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS minhash
    FROM sh, (SELECT unnest(range(0, 4)) AS h)
    GROUP BY doc_id, h
    """,
)
def dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.dedup import minhash_signatures

    d = _t(spark, sf_dir, "documents")
    return minhash_signatures(d, k=4, n=3).withColumn("h", F.col("h").cast("long"))


@register(
    "dedup_ngram_jaccard",
    """
    WITH uni AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 100
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50
    ),
    toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM uni),
    pos AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3),
    sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM pos),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.8
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.dedup import jaccard_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.filter(F.col("doc_id") < 100)
    dup = d.filter(F.col("doc_id") < 50).select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    return jaccard_pairs(base.unionByName(dup), n=3, threshold=0.8)


# SQL twins for the md5-deterministic dedup ops, shared by the
# primaries (dedup_lsh_pairs, dedup_simhash) and their *_sql aliases.
LSH_PAIRS_SQL = r"""
    WITH uni AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50
    ),
    toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM uni
    ),
    pos AS (
      SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3
    ),
    sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM pos),
    sigs AS (
      SELECT doc_id, h, min(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS minhash
      FROM sh, (SELECT unnest(range(0, 8)) AS h)
      GROUP BY doc_id, h
    ),
    banded AS (
      SELECT doc_id, h % 4 AS band,
             md5(string_agg(minhash, '|' ORDER BY minhash)) AS band_key
      FROM sigs GROUP BY doc_id, h % 4
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    """

SIMHASH_SQL = r"""
    WITH uni AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 200
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50
    ),
    toks AS (
      SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS tok
      FROM uni
    ),
    hv AS (
      SELECT doc_id, tok,
             CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS h
      FROM toks
    ),
    bits AS (
      SELECT doc_id, b,
             sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
      FROM hv, (SELECT unnest(range(0, 64)) AS b)
      GROUP BY doc_id, b
    ),
    sig_u AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN acc > 0 THEN CAST(1 AS UBIGINT) << b ELSE 0 END) AS HUGEINT) AS u
      FROM bits GROUP BY doc_id
    ),
    sig AS (  -- two's-complement into int64, like the engine's numpy path
      SELECT doc_id, CAST(u AS UBIGINT) AS u,
             CAST(CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616 ELSE u END AS BIGINT) AS simhash
      FROM sig_u
    ),
    banded AS (
      SELECT doc_id, simhash, band,
             (u >> (band * 16)) & 65535 AS key
      FROM sig, (SELECT unnest(range(0, 4)) AS band)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


@register("dedup_lsh_pairs", LSH_PAIRS_SQL)
def dedup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding, value-checked (was rows-only in round 1):
    band keys are md5-over-sorted-minhashes, reproducible in SQL."""
    from lnex_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") < 50).select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    sigs = minhash_signatures(d.unionByName(dup), k=8, n=3)
    return lsh_candidate_pairs(sigs, bands=4)


@register("dedup_simhash", SIMHASH_SQL)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups, value-checked (was rows-only in round 1):
    md5-derived 64-bit token hashes + majority vote + banded Hamming
    join, re-derived independently in SQL.  Input restricted to
    doc_id < 200 to match the SQL twin's bounded self-join."""
    from lnex_spark.operators.dedup import simhash_near_dups, simhash_signatures

    d = _t(spark, sf_dir, "documents").select("doc_id", "text").filter(F.col("doc_id") < 200)
    dup = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 50)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    sigs = simhash_signatures(d.unionByName(dup))
    return simhash_near_dups(sigs, max_hamming=3).select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


@register(
    "text_token_count",
    """
    SELECT doc_id,
           CASE WHEN len(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.textquality import token_count_col

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", token_count_col(F.col("text")).alias("n_tokens"))


@register(
    "text_fingerprint",
    """
    SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.textquality import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents"))


def _dd_word_count(word: str) -> str:
    pad = f"' ' || lower(text) || ' '"
    return (
        f"CAST((len({pad}) - len(replace({pad}, ' {word} ', ' '))) / {len(word) + 1} AS BIGINT)"
    )


@register(
    "text_lang_id",
    f"""
    WITH hits AS (
      SELECT doc_id,
        {_dd_word_count('der')} + {_dd_word_count('die')} + {_dd_word_count('und')} + {_dd_word_count('ist')} + {_dd_word_count('nicht')} AS h_de,
        {_dd_word_count('the')} + {_dd_word_count('and')} + {_dd_word_count('of')} + {_dd_word_count('to')} + {_dd_word_count('is')} AS h_en,
        {_dd_word_count('el')} + {_dd_word_count('los')} + {_dd_word_count('que')} + {_dd_word_count('por')} + {_dd_word_count('una')} AS h_es,
        {_dd_word_count('le')} + {_dd_word_count('la')} + {_dd_word_count('et')} + {_dd_word_count('les')} + {_dd_word_count('des')} AS h_fr
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
                WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                ELSE 'fr' END AS pred_lang,
           greatest(h_de, h_en, h_es, h_fr) AS marker_hits
    FROM hits
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.textquality import lang_id

    return lang_id(_t(spark, sf_dir, "documents"))


@register(
    "text_quality",
    f"""
    WITH feats AS (
      SELECT doc_id,
             len(text) AS n_chars,
             CASE WHEN len(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
             len(text) - len(regexp_replace(text, '[^a-zA-Z0-9_\\s]', '', 'g')) AS n_punct,
             {_dd_word_count('the')} + {_dd_word_count('and')} + {_dd_word_count('of')} + {_dd_word_count('to')} + {_dd_word_count('is')} AS n_stop
      FROM documents
    )
    SELECT doc_id, n_chars, n_tokens, n_punct,
           round(CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0 END, 6) AS punct_ratio,
           round(CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens ELSE 0 END, 6) AS stop_ratio,
           round(CASE WHEN n_tokens > 0 THEN n_chars * 1.0 / n_tokens ELSE 0 END, 6) AS mean_word_len,
           round(0.4 * least(n_tokens / 50.0, 1.0)
               + 0.3 * (1 - least(CASE WHEN n_chars > 0 THEN n_punct * 5.0 / n_chars ELSE 0 END, 1.0))
               + 0.3 * least(CASE WHEN n_tokens > 0 THEN n_stop * 3.0 / n_tokens ELSE 0 END, 1.0), 6) AS quality_score
    FROM feats
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.textquality import quality_features

    return quality_features(_t(spark, sf_dir, "documents"))


@register("dedup_lsh_pairs_sql", LSH_PAIRS_SQL)
def dedup_lsh_pairs_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding, value-checked: the engine's band keys are
    md5-over-sorted-minhashes, reproducible in SQL (dedup.py design)."""
    from lnex_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    sigs = minhash_signatures(d.unionByName(dup), k=8, n=3)
    return lsh_candidate_pairs(sigs, bands=4)


@register("dedup_simhash_sql", SIMHASH_SQL)
def dedup_simhash_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups, value-checked: md5-derived 64-bit token
    hashes + majority vote + banded Hamming join, re-derived in SQL.
    NOTE the split semantics: str.split() on single spaces with empty
    tokens removed, mirrored by list_filter(string_split(...))."""
    from lnex_spark.operators.dedup import simhash_near_dups, simhash_signatures

    d = _t(spark, sf_dir, "documents").select("doc_id", "text").filter(F.col("doc_id") < 200)
    dup = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 50)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    sigs = simhash_signatures(d.unionByName(dup))
    return simhash_near_dups(sigs, max_hamming=3).select(
        F.col("doc_a"), F.col("doc_b"), F.col("hamming").cast("long").alias("hamming")
    )


# ======================================================================
# KG hierarchy closure + rollup (graph.transitive_closure /
# rollup_by_closure): the locatedIn admin hierarchy stood in by a
# deterministic /8 containment tree over part keys (depth ~4-5 at
# sf0.01 — enough to force multiple path-doubling rounds), closure
# value-checked against DuckDB's recursive-CTE fixpoint and the
# rollup against the closure-join re-derivation.
# ======================================================================
_SQL_PART_TREE = """
    edges AS (
      SELECT p_partkey AS child, CAST(floor(p_partkey / 8) AS BIGINT) AS parent
      FROM part WHERE p_partkey >= 1
    ),
    reach(node, ancestor, depth) AS (
      SELECT child, parent, 1 FROM edges
      UNION
      SELECT r.node, e.parent, r.depth + 1
      FROM reach r JOIN edges e ON e.child = r.ancestor
    ),
    closure AS (
      SELECT node, ancestor, min(depth) AS depth FROM reach GROUP BY node, ancestor
    )
"""


def _part_tree_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") >= 1)
    return p.select(
        F.col("p_partkey").alias("child"),
        F.floor(F.col("p_partkey") / 8).cast("long").alias("parent"),
    )


@register(
    "kg_closure",
    f"""
    WITH RECURSIVE
    {_SQL_PART_TREE}
    SELECT node, ancestor, depth FROM closure
    """,
)
def kg_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of a containment hierarchy by path doubling
    (graph.transitive_closure): every (node, ancestor, min-hop depth)
    pair of the admin tree, closed in O(log depth) self-joins — the
    table a 'mentions anywhere inside X' KG query reads."""
    from lnex_spark.operators.graph import transitive_closure

    return transitive_closure(_part_tree_edges(spark, sf_dir))


@register(
    "kg_closure_rollup",
    f"""
    WITH RECURSIVE
    {_SQL_PART_TREE},
    members AS (
      -- explicit DISTINCT: inside WITH RECURSIVE DuckDB compiles a
      -- bare UNION here with append (recursive-union) semantics
      SELECT DISTINCT node FROM (
        SELECT node FROM closure UNION ALL SELECT ancestor FROM closure
      )
    ),
    with_self AS (
      SELECT node, ancestor FROM closure
      UNION ALL SELECT node, node FROM members
    )
    SELECT w.ancestor, count(*) AS n_facts
    FROM (SELECT l_partkey AS node FROM lineitem) f
    JOIN with_self w USING (node)
    GROUP BY w.ancestor
    """,
)
def kg_closure_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy rollup (graph.rollup_by_closure): fact counts per
    ancestor including all descendants — one broadcast join of the
    fact table against the (depth-bounded) closure-with-self, one
    hash aggregation with map-side partials."""
    from lnex_spark.operators.graph import rollup_by_closure, transitive_closure

    closure = transitive_closure(_part_tree_edges(spark, sf_dir))
    facts = _t(spark, sf_dir, "lineitem").select("l_partkey")
    return rollup_by_closure(facts, closure, "l_partkey")


# ======================================================================
# Triple-set MERGE (incremental.merge_triples): existing = distinct
# (custkey, 'ordered', orderkey) triples; the batch exercises all four
# MERGE cases — retract-existing (%10=0), assert-duplicate (%10=1,
# idempotent), assert-new (%10=2, obj+1000000), retract-absent
# (%10=3, no-op) — final state value-checked against a relational
# NOT EXISTS re-derivation.
# ======================================================================
_SQL_MERGE_BASE = """
    existing AS (
      SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS subj, 'ordered' AS pred,
             o_orderkey AS obj
      FROM orders
    ),
    upd AS (
      SELECT CAST(o_custkey AS VARCHAR) AS subj, 'ordered' AS pred,
             o_orderkey AS obj, 'retract' AS op
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT CAST(o_custkey AS VARCHAR), 'ordered', o_orderkey, 'assert'
      FROM orders WHERE o_orderkey % 10 = 1
      UNION ALL
      SELECT CAST(o_custkey AS VARCHAR), 'ordered', o_orderkey + 1000000, 'assert'
      FROM orders WHERE o_orderkey % 10 = 2
      UNION ALL
      SELECT CAST(o_custkey AS VARCHAR), 'ordered', o_orderkey + 5000000, 'retract'
      FROM orders WHERE o_orderkey % 10 = 3
    ),
    resolved AS (
      SELECT subj, pred, obj,
             max(CASE WHEN op = 'assert' THEN 1 ELSE 0 END) AS is_assert
      FROM upd GROUP BY subj, pred, obj
    )
"""


def _merge_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    o = _t(spark, sf_dir, "orders")
    subj = F.col("o_custkey").cast("string").alias("subj")
    pred = F.lit("ordered").alias("pred")
    existing = o.select(subj, pred, F.col("o_orderkey").alias("obj")).distinct()
    k = F.col("o_orderkey") % 10
    upd = (
        o.filter(k == 0).select(subj, pred, F.col("o_orderkey").alias("obj"), F.lit("retract").alias("op"))
        .unionByName(o.filter(k == 1).select(subj, pred, F.col("o_orderkey").alias("obj"), F.lit("assert").alias("op")))
        .unionByName(o.filter(k == 2).select(subj, pred, (F.col("o_orderkey") + 1000000).alias("obj"), F.lit("assert").alias("op")))
        .unionByName(o.filter(k == 3).select(subj, pred, (F.col("o_orderkey") + 5000000).alias("obj"), F.lit("retract").alias("op")))
    )
    return existing, upd


@register(
    "kg_merge_incremental",
    f"""
    WITH {_SQL_MERGE_BASE}
    SELECT e.subj, e.pred, e.obj FROM existing e
    WHERE NOT EXISTS (
      SELECT 1 FROM resolved r
      WHERE r.subj = e.subj AND r.pred = e.pred AND r.obj = e.obj)
    UNION ALL
    SELECT subj, pred, obj FROM resolved WHERE is_assert = 1
    """,
)
def kg_merge_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assert/retract MERGE into the triple set (broadcast-anti plan:
    the big table is never shuffled), value-checked against the
    relational NOT-EXISTS re-derivation of the final state."""
    from lnex_spark.operators.incremental import merge_triples

    existing, upd = _merge_inputs(spark, sf_dir)
    return merge_triples(existing, upd)
