"""Oracle pairs that run ``operators.geomath``,
``operators.reconcile``, ``operators.triples``.

  * table_diff_orders — version reconciliation: classify every order
    key as added/deleted/changed between two table versions (the
    audit step after an incremental merge).  One full-outer join,
    column-wise null-safe comparison — no row hashing, so value
    formatting can never fake a diff (operators/reconcile.py).

  * concurrency_sweep_events — max-concurrent-users analytics via the
    classic +1/-1 boundary sweep: linear, one hash agg + one running
    sum, vs the O(n²) interval self-join it replaces.

  * kg_negative_samples — deterministic corrupted-object negatives
    for KG-embedding training over the REAL pipeline's canonical
    mention triples (same literal-gazetteer derivation as kg_e2e_sql):
    md5-gated vocabulary pick, collision advances one slot, so the
    negative set is a pure function of the triples — stable across
    engines/reruns/cluster sizes (operators/triples.negative_samples).

  * nearest_site_cells — grid-bucketed nearest-neighbor spatial join
    (reverse geocoding): each site replicated into its 3x3 neighbor
    cells (dimension side, broadcast), each point probes exactly its
    own cell; per-point candidates bounded by neighborhood density,
    independent of |sites| — the scale-safe form of the cross-join
    kNN (operators/geomath.grid_nearest_join).  Site geometry is
    constructed so the true nearest always lies inside the 3x3 ring
    and no two sites are near-equidistant from any point (margins are
    km-scale, so libm last-ulp differences cannot flip the argmin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracle_defs2 import _SQL_LINK, _SQL_TOKENIZE, _oracle_mentions, _oracle_variants
from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- table version reconciliation ----------------------------------------
_DIFF_SQL = """
    WITH v1 AS (
      SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS pr FROM orders
    ),
    v2 AS (
      SELECT k, st, CASE WHEN k % 13 = 0 THEN pr + 1.0 ELSE pr END AS pr
      FROM v1 WHERE k % 97 <> 0
      UNION ALL
      SELECT k + 100000000, st, pr FROM v1 WHERE k % 101 = 0
    ),
    j AS (
      SELECT v1.k AS k1, v2.k AS k2, v1.st AS st1, v2.st AS st2,
             v1.pr AS pr1, v2.pr AS pr2
      FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
    )
    SELECT o_orderkey, change FROM (
      SELECT coalesce(k1, k2) AS o_orderkey,
             CASE WHEN k1 IS NULL THEN 'added'
                  WHEN k2 IS NULL THEN 'deleted'
                  WHEN (st1 IS DISTINCT FROM st2) OR (pr1 IS DISTINCT FROM pr2)
                    THEN 'changed'
                  ELSE 'same' END AS change
      FROM j)
    WHERE change <> 'same'
"""


@register("table_diff_orders", _DIFF_SQL)
def table_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.reconcile import table_diff

    v1 = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.col("o_totalprice").alias("pr"),
    )
    changed = v1.filter(F.col("k") % 97 != 0).withColumn(
        "pr", F.when(F.col("k") % 13 == 0, F.col("pr") + 1.0).otherwise(F.col("pr"))
    )
    added = v1.filter(F.col("k") % 101 == 0).withColumn(
        "k", F.col("k") + 100000000
    )
    v2 = changed.unionByName(added)
    d = table_diff(v1, v2, ["k"], ["st", "pr"])
    return d.filter(F.col("change") != "same").select(
        F.col("k").alias("o_orderkey"), "change"
    )


# --- interval concurrency sweep ------------------------------------------
_SWEEP_SQL = """
    WITH iv AS (SELECT user_id, min(ts) AS s, max(ts) AS e FROM events GROUP BY user_id),
    d AS (
      SELECT ts, CAST(sum(d) AS BIGINT) AS delta FROM (
        SELECT s AS ts, 1 AS d FROM iv
        UNION ALL
        SELECT e AS ts, -1 AS d FROM iv
      ) GROUP BY ts
    )
    SELECT ts, delta,
           CAST(sum(delta) OVER (
             ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS concurrent
    FROM d
"""


@register("concurrency_sweep_events", _SWEEP_SQL)
def concurrency_sweep_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.reconcile import concurrency_sweep

    iv = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    return concurrency_sweep(iv)


# --- KG negative sampling --------------------------------------------------
_NEG_SQL = f"""
    WITH {_SQL_TOKENIZE},
    {_SQL_LINK},
    pos AS (
      SELECT DISTINCT CAST(w.doc_id AS VARCHAR) || '#0' AS subj,
             CAST(c.canonical AS BIGINT) AS pos_obj
      FROM winners w JOIN canon c ON w.norm = c.norm
    ),
    vocab AS (
      SELECT cand, row_number() OVER (ORDER BY cand ASC) - 1 AS idx
      FROM (SELECT DISTINCT CAST(geo_id AS BIGINT) AS cand FROM gaz)
    ),
    nn AS (SELECT count(*) AS n FROM vocab),
    h AS (
      SELECT subj, pos_obj,
             CAST(('0x' || substr(md5('neg-v1#' || subj || '|' || CAST(pos_obj AS VARCHAR)), 1, 4)) AS INTEGER) AS b
      FROM pos
    )
    SELECT h.subj, h.pos_obj,
           CASE WHEN v1.cand = h.pos_obj THEN v2.cand ELSE v1.cand END AS neg_obj
    FROM h CROSS JOIN nn
    JOIN vocab v1 ON v1.idx = h.b % nn.n
    JOIN vocab v2 ON v2.idx = (h.b + 1) % nn.n
"""


@register("kg_negative_samples", _NEG_SQL)
def kg_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.link import (
        apply_canonical,
        canonicalize,
        link_mentions,
        score_candidates,
    )
    from lnex_spark.operators.triples import mention_triples, negative_samples

    variants = _oracle_variants(spark)
    mentions = _oracle_mentions(spark, sf_dir)
    winners = score_candidates(link_mentions(mentions, variants))
    final = apply_canonical(winners, canonicalize(winners))
    positives = mention_triples(final).select("subj", "obj")
    vocab = variants.select(F.col("geo_id").alias("obj"))
    return negative_samples(positives, vocab)


# --- grid-bucketed nearest-site spatial join -------------------------------
_NEAREST_SQL = """
    WITH pts AS (
      SELECT c_custkey AS pid,
             (c_custkey % 160) / 4.0 + 0.1 AS plat,
             ((c_custkey * 7) % 160) / 4.0 + 0.2 AS plon
      FROM customer
    ),
    sites AS (
      SELECT n_nationkey AS site,
             (n_nationkey % 5) * 8.0 + 4.0 AS slat,
             floor(n_nationkey / 5) * 8.0 + 4.0 AS slon
      FROM nation
    ),
    s9 AS (
      SELECT site, slat, slon,
             CAST(floor(slat / 8.0) AS INT) + dlat AS cell_lat,
             CAST(floor(slon / 8.0) AS INT) + dlon AS cell_lon
      FROM sites
      CROSS JOIN (VALUES (-1), (0), (1)) o1(dlat)
      CROSS JOIN (VALUES (-1), (0), (1)) o2(dlon)
    ),
    j AS (
      SELECT p.pid, s.site,
             2 * 6371.0 * asin(sqrt(
               pow(sin(radians(s.slat - p.plat) / 2), 2) +
               cos(radians(p.plat)) * cos(radians(s.slat)) *
               pow(sin(radians(s.slon - p.plon) / 2), 2))) AS dist
      FROM pts p JOIN s9 s
        ON CAST(floor(p.plat / 8.0) AS INT) = s.cell_lat
       AND CAST(floor(p.plon / 8.0) AS INT) = s.cell_lon
    ),
    r AS (
      SELECT pid, site, dist,
             row_number() OVER (PARTITION BY pid ORDER BY dist ASC, site ASC) AS rk
      FROM j
    )
    SELECT pid, site, round(dist, 4) AS dist_km FROM r WHERE rk = 1
"""


@register("nearest_site_cells", _NEAREST_SQL)
def nearest_site_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.geomath import grid_nearest_join

    points = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pid"),
        ((F.col("c_custkey") % 160) / 4.0 + 0.1).alias("lat"),
        (((F.col("c_custkey") * 7) % 160) / 4.0 + 0.2).alias("lon"),
    )
    sites = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("site_id"),
        ((F.col("n_nationkey") % 5) * 8.0 + 4.0).alias("lat"),
        (F.floor(F.col("n_nationkey") / 5) * 8.0 + 4.0).alias("lon"),
    )
    return grid_nearest_join(points, sites, cell_deg=8.0, point_id="pid", site_id="site_id")
