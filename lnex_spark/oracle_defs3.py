"""Oracle pairs for the graph layer, the Python data source and the
incremental vote merge.

  * dedup_components — transitive near-dup clustering by distributed
    connected components (``operators.graph.dedup_clusters``).  The
    Spark side is an iterative min-label-propagation job, the DuckDB
    side an independent WITH RECURSIVE reachability fixpoint: two
    algorithms agreeing on the exact (node, component) assignment,
    including multi-hop chains (the edge set mixes near-dup Jaccard
    pairs with relational chain edges, so components have diameter
    > 1).
  * kg_comention / kg_pagerank — the location co-mention graph over
    the canonical mention triples and 3-iteration PageRank over it
    (``operators.graph.comention_edges`` / ``pagerank``).
  * source_synth_transcripts — every row of the custom Python Data
    Source (``sources.synth``), regenerated in SQL.
  * incremental_votes_merge — incremental KG maintenance: the L2
    winners split into two batches (even/odd conv_id), their vote
    tables merged (``operators.incremental.batch_votes`` /
    ``merge_votes``) equal DuckDB's whole-corpus vote count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracle_defs2 import _SQL_LINK, _SQL_TOKENIZE, _oracle_mentions, _oracle_variants
from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Shared Jaccard near-dup shingle chain (same construction as
# dedup_ngram_jaccard, kept in lockstep with jaccard_pairs semantics).
_SQL_JACC_EDGES = r"""
    uni AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 100
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50
    ),
    toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM uni),
    pos AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3),
    sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM pos),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jacc AS (
      SELECT doc_a, doc_b FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.8
    ),
    chain AS (
      SELECT doc_id AS doc_a, doc_id + 3 AS doc_b FROM documents
      WHERE doc_id % 7 = 0 AND doc_id + 3 < 100
    ),
    edges AS (SELECT doc_a, doc_b FROM jacc UNION SELECT doc_a, doc_b FROM chain)
"""


def _component_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _SQL_JACC_EDGES: Jaccard near-dup pairs over
    base+copies, plus relational chain edges for multi-hop components."""
    from lnex_spark.operators.dedup import jaccard_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.filter(F.col("doc_id") < 100)
    dup = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    jacc = jaccard_pairs(base.unionByName(dup), n=3, threshold=0.8).select(
        "doc_a", "doc_b"
    )
    chain = d.filter((F.col("doc_id") % 7 == 0) & (F.col("doc_id") + 3 < 100)).select(
        F.col("doc_id").alias("doc_a"), (F.col("doc_id") + 3).alias("doc_b")
    )
    return jacc.unionByName(chain).distinct()


@register(
    "dedup_components",
    f"""
    WITH RECURSIVE
    {_SQL_JACC_EDGES},
    und AS (
      SELECT doc_a AS a, doc_b AS b FROM edges
      UNION SELECT doc_b, doc_a FROM edges
    ),
    reach(node, lbl) AS (
      SELECT a, a FROM und
      UNION
      SELECT u.b, r.lbl FROM reach r JOIN und u ON u.a = r.node
    )
    SELECT node AS doc_id, min(lbl) AS cluster FROM reach GROUP BY node
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clustering: iterative distributed connected
    components over (Jaccard ∪ chain) edges, value-checked against an
    independent DuckDB recursive-reachability fixpoint."""
    from lnex_spark.operators.graph import dedup_clusters

    return dedup_clusters(_component_edges(spark, sf_dir))


@register(
    "kg_comention",
    f"""
    WITH {_SQL_TOKENIZE},
    {_SQL_LINK},
    docgeo AS (
      SELECT DISTINCT w.doc_id, c.canonical AS geo
      FROM winners w JOIN canon c ON w.norm = c.norm
    )
    SELECT CAST(a.geo AS BIGINT) AS geo_a, CAST(b.geo AS BIGINT) AS geo_b,
           count(*) AS n_convs
    FROM docgeo a JOIN docgeo b ON a.doc_id = b.doc_id AND a.geo < b.geo
    GROUP BY 1, 2
    """,
)
def kg_comention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Location co-occurrence graph over the canonical mention triples
    of the SQL-verified KG pipeline: (geo_a, geo_b, n_convs) with one
    conversation-level shuffle and array-side pair unrolling (no
    self-join) — value-checked against DuckDB's relational self-join
    form."""
    from lnex_spark.operators.graph import comention_edges
    from lnex_spark.operators.link import (
        apply_canonical,
        canonicalize,
        link_mentions,
        score_candidates,
    )
    from lnex_spark.operators.triples import mention_triples

    variants = _oracle_variants(spark)
    winners = score_candidates(link_mentions(_oracle_mentions(spark, sf_dir), variants))
    final = apply_canonical(winners, canonicalize(winners))
    return comention_edges(mention_triples(final))


# bare 1.0/0.15 are DECIMAL in DuckDB — cast to DOUBLE so both engines
# run the same float arithmetic
_SQL_PR_ITER = """
    r{k} AS (
      SELECT u.b AS node,
             CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) * sum(r.rank / d.deg) AS rank
      FROM und u JOIN r{p} r ON r.node = u.a JOIN deg d ON d.a = u.a
      GROUP BY u.b
    )"""


@register(
    "kg_pagerank",
    f"""
    WITH {_SQL_TOKENIZE},
    {_SQL_LINK},
    docgeo AS (
      SELECT DISTINCT w.doc_id, c.canonical AS geo
      FROM winners w JOIN canon c ON w.norm = c.norm
    ),
    edges AS (
      SELECT DISTINCT CAST(a.geo AS BIGINT) AS geo_a, CAST(b.geo AS BIGINT) AS geo_b
      FROM docgeo a JOIN docgeo b ON a.doc_id = b.doc_id AND a.geo < b.geo
    ),
    und AS (
      SELECT geo_a AS a, geo_b AS b FROM edges
      UNION SELECT geo_b, geo_a FROM edges
    ),
    deg AS (SELECT a, count(*) AS deg FROM und GROUP BY a),
    r0 AS (SELECT a AS node, CAST(1.0 AS DOUBLE) AS rank FROM deg),
    {_SQL_PR_ITER.format(k=1, p=0)},
    {_SQL_PR_ITER.format(k=2, p=1)},
    {_SQL_PR_ITER.format(k=3, p=2)}
    SELECT node AS geo_id, round(rank, 6) AS rank FROM r3
    """,
)
def kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Location importance: 3-iteration PageRank over the co-mention
    graph of the SQL-verified KG pipeline, value-checked against
    fully-unrolled DuckDB iterations."""
    from lnex_spark.operators.graph import comention_edges, pagerank
    from lnex_spark.operators.link import (
        apply_canonical,
        canonicalize,
        link_mentions,
        score_candidates,
    )
    from lnex_spark.operators.triples import mention_triples

    variants = _oracle_variants(spark)
    winners = score_candidates(link_mentions(_oracle_mentions(spark, sf_dir), variants))
    final = apply_canonical(winners, canonicalize(winners))
    edges = comention_edges(mention_triples(final)).select("geo_a", "geo_b")
    pr = pagerank(edges, iters=3)
    return pr.select(F.col("node").alias("geo_id"), F.round("rank", 6).alias("rank"))


@register(
    "source_synth_transcripts",
    """
    WITH convs AS (SELECT unnest(range(0, 40)) AS i),
    turns AS (SELECT unnest(range(0, 25)) AS j)
    SELECT 'c' || i AS conv_id, CAST(j AS INT) AS turn_idx,
           CASE WHEN j % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
           'turn ' || i || ' ' || j || ' ' || substr(md5('c' || i || ':' || j), 1, 8) AS text,
           CASE WHEN j % 5 = 3 THEN 'search' ELSE NULL END AS tool
    FROM convs CROSS JOIN turns
    """,
)
def source_synth_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python Data Source (sources/synth.py): every generated row
    — a pure md5 function of (conv, turn) — re-derived independently
    in DuckDB and value-hash-compared. ts is pinned by unit tests
    (timestamp formatting differs across engines, not semantics)."""
    from lnex_spark.sources import synth

    synth.register(spark)
    df = (
        spark.read.format("transcripts_synth")
        .option("n_convs", 40)
        .option("turns_per_conv", 25)
        .option("num_partitions", 4)
        .load()
    )
    return df.drop("ts")


@register(
    "incremental_votes_merge",
    f"""
    WITH {_SQL_TOKENIZE},
    {_SQL_LINK}
    SELECT norm, geo_id, count(*) AS votes
    FROM winners GROUP BY norm, geo_id
    """,
)
def incremental_votes_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental KG maintenance (operators/incremental.py): L2
    winners split into two batches (even/odd doc_id), vote tables
    merged — must equal DuckDB's direct whole-corpus vote count (the
    associativity the incremental design rests on)."""
    from lnex_spark.operators.incremental import batch_votes, merge_votes
    from lnex_spark.operators.link import link_mentions, score_candidates

    variants = _oracle_variants(spark)
    winners = score_candidates(link_mentions(_oracle_mentions(spark, sf_dir), variants))
    even = winners.where(F.col("conv_id").cast("long") % 2 == 0)
    odd = winners.where(F.col("conv_id").cast("long") % 2 == 1)
    merged = merge_votes(batch_votes(even), batch_votes(odd))
    return merged.select("norm", "geo_id", "votes")
