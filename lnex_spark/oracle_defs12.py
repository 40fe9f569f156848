"""Oracle pair for 3-round synchronous label propagation over the
hour-bucket co-occurrence graph (``operators.graph.label_propagation``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _lpa_round(prev: str, cur: str) -> str:
    """One unrolled synchronous-LPA round as DuckDB CTEs."""
    return f"""
    cnt_{cur} AS (
      SELECT und.b AS node, {prev}.label, count(*) AS c
      FROM und JOIN {prev} ON und.a = {prev}.node
      GROUP BY und.b, {prev}.label
    ),
    {cur} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rk
        FROM cnt_{cur}
      ) WHERE rk = 1
    )"""


_LPA_SQL = (
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
    und AS (SELECT u AS a, v AS b FROM e0 UNION SELECT v, u FROM e0),
    l0 AS (SELECT DISTINCT a AS node, a AS label FROM und),"""
    + ",".join(_lpa_round(f"l{i}", f"l{i + 1}") for i in range(3))
    + """
    SELECT node, label FROM l3
    """
)


# --- label-propagation communities (unrolled-iteration oracle) ----------
@register("lpa_communities_events", _LPA_SQL)
def lpa_communities_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round synchronous LPA over the hour-bucket co-occurrence graph
    (users linked by the same event type in the same hour) — the
    Spark side is the genuinely iterative
    operators/graph.label_propagation job, the DuckDB side an
    independent fully-unrolled re-derivation."""
    from lnex_spark.operators.graph import label_propagation

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
    return label_propagation(edges, iterations=3)
