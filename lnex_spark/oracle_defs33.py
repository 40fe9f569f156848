"""Oracle pairs that run ``operators.graph``.

  * gnn_aggregate_events — two rounds of mean-neighbor aggregation
    (degree as the initial feature) over the co-occurrence graph:
    the GraphSAGE/GCN message-passing primitive as a relational op —
    per layer one edge⋈feature join + one mean agg, the exact shuffle
    shape a distributed GNN feature pipeline runs.  Fully unrolled
    on the DuckDB side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- two message-passing rounds over the co-occurrence graph ---------------
_GNN_SQL = """
    WITH ev AS (
      SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hb
      FROM events WHERE user_id < 40
    ),
    e0 AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM ev a JOIN ev b
        ON a.event_type = b.event_type AND a.hb = b.hb AND a.user_id < b.user_id
    ),
    und AS (SELECT u AS a, v AS b FROM e0 UNION SELECT v, u FROM e0),
    h0 AS (SELECT a AS node, CAST(count(*) AS DOUBLE) AS h FROM und GROUP BY a),
    h1 AS (
      SELECT und.b AS node, avg(h0.h) AS h
      FROM und JOIN h0 ON und.a = h0.node GROUP BY und.b
    ),
    h2 AS (
      SELECT und.b AS node, avg(h1.h) AS h
      FROM und JOIN h1 ON und.a = h1.node GROUP BY und.b
    )
    SELECT h0.node, CAST(h0.h AS BIGINT) AS deg,
           round(h1.h, 6) AS h1, round(h2.h, 6) AS h2
    FROM h0 JOIN h1 ON h1.node = h0.node JOIN h2 ON h2.node = h0.node
"""


@register("gnn_aggregate_events", _GNN_SQL)
def gnn_aggregate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.graph import undirect

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
    und = undirect(edges)
    h0 = und.groupBy(F.col("a").alias("node")).agg(
        F.count("*").cast("double").alias("h")
    )
    h = h0
    layers = []
    for _ in range(2):
        h = (
            und.join(h.withColumnRenamed("node", "a"), "a")
            .groupBy(F.col("b").alias("node"))
            .agg(F.avg("h").alias("h"))
        )
        layers.append(h)
    out = (
        h0.select("node", F.col("h").cast("long").alias("deg"))
        .join(layers[0].select("node", F.round("h", 6).alias("h1")), "node")
        .join(layers[1].select("node", F.round("h", 6).alias("h2")), "node")
    )
    return out
