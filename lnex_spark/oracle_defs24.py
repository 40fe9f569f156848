"""Twenty-fourth oracle-registry module: k-core decomposition.

  * kcore_events — fixed-round k-core peeling of the hour-bucket
    co-occurrence graph (same edge construction as tri_count /
    lpa_communities): each round drops nodes with undirected degree
    below k and their edges, then recounts — the dense-subgraph
    filter that separates a KG's load-bearing hub entities from
    one-off co-occurrences.  k is derived from the graph itself
    (min degree + 2) so the op self-scales: strong cascade at sf0.1
    (40 → 20 nodes), mild peel at sf0.01, and a correct empty core on
    the sparse sf0.001 graph — both engines agree in every regime.
    Spark side is the genuinely iterative operators/graph.k_core job
    (per round: one hash agg + two left-semi joins reusing the edge
    partitioning); DuckDB side an independent fully-unrolled
    re-derivation (same pattern as the lpa/pagerank oracles).

Reference parity note: LNEx has no graph analytics (single-tweet
pipeline — SURVEY.md §0); the op serves the KG deployment of its
semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- k-core decomposition (unrolled-iteration oracle) ---------------------
def _kcore_round(prev_u: str, cur: str) -> str:
    return f"""
    k{cur} AS (
      SELECT a FROM {prev_u} GROUP BY a HAVING count(*) >= (SELECT k FROM kk)
    ),
    u{cur} AS (
      SELECT u.a, u.b FROM {prev_u} u
      JOIN k{cur} x ON u.a = x.a
      JOIN k{cur} y ON u.b = y.a
    )"""


_KCORE_SQL = (
    """
    WITH ev AS (
      SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hb
      FROM events WHERE user_id < 40
    ),
    e0 AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM ev a JOIN ev b
        ON a.event_type = b.event_type AND a.hb = b.hb AND a.user_id < b.user_id
    ),
    u0 AS (SELECT u AS a, v AS b FROM e0 UNION SELECT v, u FROM e0),
    kk AS (
      SELECT min(c) + 2 AS k FROM (SELECT a, count(*) AS c FROM u0 GROUP BY a)
    ),"""
    + ",".join(_kcore_round(f"u{i}", f"{i + 1}") for i in range(3))
    + """
    SELECT a AS node, count(*) AS deg FROM u3 GROUP BY a
    """
)


@register("kcore_events", _KCORE_SQL)
def kcore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.graph import k_core, undirect

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 40)
        .select("user_id", "event_type", F.date_trunc("hour", "ts").alias("hb"))
        .distinct()
    )
    a, b = ev.alias("a"), ev.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.hb") == F.col("b.hb"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("doc_a"), F.col("b.user_id").alias("doc_b"))
        .distinct()
    )
    k = (
        undirect(edges)
        .groupBy("a")
        .agg(F.count("*").alias("c"))
        .agg((F.min("c") + 2).alias("k"))
        .collect()[0]["k"]
    )
    return k_core(edges, k=int(k), rounds=3)

