"""Oracle pairs that run ``operators.graph``.

  * modularity_events — Newman modularity Q of the verified LPA
    communities over the co-occurrence graph: community detection
    plus its quality measurement in one value-checked op (compose
    the unrolled LPA fixpoint, then Q = Σ_c e_c/m − (deg_c/2m)²).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracle_defs12 import _LPA_SQL
from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- modularity of the LPA communities -------------------------------------
_MOD_SQL = (
    _LPA_SQL[: _LPA_SQL.rindex("SELECT node, label FROM l3")].rstrip()
    + """,
    labels AS (SELECT node, label FROM l3),
    m AS (SELECT count(*) / 2.0 AS m FROM und),
    e_in AS (
      SELECT la.label, count(*) / 2.0 AS ec
      FROM und
      JOIN labels la ON und.a = la.node
      JOIN labels lb ON und.b = lb.node
      WHERE la.label = lb.label GROUP BY la.label
    ),
    deg AS (
      SELECT la.label, count(*) AS dc
      FROM und JOIN labels la ON und.a = la.node GROUP BY la.label
    )
    SELECT count(*) AS n_communities,
           round(sum(coalesce(ec, 0) / m.m
                     - (dc / (2.0 * m.m)) * (dc / (2.0 * m.m))), 6) AS modularity
    FROM deg LEFT JOIN e_in ON deg.label = e_in.label CROSS JOIN m
"""
)


@register("modularity_events", _MOD_SQL)
def modularity_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the 3-round LPA communities (same graph
    and label derivation as lpa_communities_events): per community the
    internal-edge share minus the squared degree share, summed.
    One edge⋈label join per term over the already-partitioned edge
    list; the oracle re-derives labels via the unrolled LPA CTEs."""
    from lnex_spark.operators.graph import label_propagation, undirect

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
    labels = label_propagation(edges, iterations=3)
    und = undirect(edges)
    m = und.agg((F.count("*") / 2.0).alias("m"))
    la = labels.select(F.col("node").alias("a"), F.col("label").alias("label_a"))
    lb = labels.select(F.col("node").alias("b"), F.col("label").alias("label_b"))
    e_in = (
        und.join(la, "a")
        .join(lb, "b")
        .filter(F.col("label_a") == F.col("label_b"))
        .groupBy(F.col("label_a").alias("label"))
        .agg((F.count("*") / 2.0).alias("ec"))
    )
    deg = (
        und.join(la, "a")
        .groupBy(F.col("label_a").alias("label"))
        .agg(F.count("*").alias("dc"))
    )
    comp = deg.join(e_in, "label", "left").crossJoin(F.broadcast(m))
    term = F.coalesce(F.col("ec"), F.lit(0.0)) / F.col("m") - (
        F.col("dc") / (2.0 * F.col("m"))
    ) * (F.col("dc") / (2.0 * F.col("m")))
    return comp.agg(
        F.count("*").alias("n_communities"),
        F.round(F.sum(term), 6).alias("modularity"),
    )
