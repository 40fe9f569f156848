"""Unit tests for reconciliation, interval sweep, negative sampling,
and the grid-bucketed nearest-site join."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F


def test_table_diff_classification(spark):
    v1 = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0), (4, "d", 4.0)],
        "k long, st string, pr double",
    )
    v2 = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 9.0), (5, "e", 5.0)],
        "k long, st string, pr double",
    )
    from lnex_spark.operators.reconcile import table_diff

    got = {
        r["k"]: r["change"]
        for r in table_diff(v1, v2, ["k"], ["st", "pr"]).collect()
    }
    # null == null is SAME under null-safe compare, not 'changed'
    assert got == {1: "same", 2: "same", 3: "changed", 4: "deleted", 5: "added"}


def test_concurrency_sweep(spark):
    ts = lambda h: datetime(2026, 1, 1, h)  # noqa: E731
    iv = spark.createDataFrame(
        [("a", ts(1), ts(4)), ("b", ts(2), ts(6)), ("c", ts(3), ts(5)), ("d", ts(4), ts(4))],
        "key string, s timestamp, e timestamp",
    )
    from lnex_spark.operators.reconcile import concurrency_sweep

    rows = {r["ts"].hour: r["concurrent"] for r in concurrency_sweep(iv).collect()}
    # h4 nets -1: a ends (-1), d starts AND ends (+1-1=0)
    assert rows == {1: 1, 2: 2, 3: 3, 4: 2, 5: 1, 6: 0}


def test_negative_samples_never_positive_and_deterministic(spark):
    pos = spark.createDataFrame(
        [(f"c{i}#0", i % 5 + 10) for i in range(200)], "subj string, obj long"
    )
    vocab = spark.createDataFrame([(i + 10,) for i in range(5)], "obj long")
    from lnex_spark.operators.triples import negative_samples

    out = negative_samples(pos, vocab).collect()
    assert len(out) == 200
    assert all(r["neg_obj"] != r["pos_obj"] for r in out)
    assert all(10 <= r["neg_obj"] <= 14 for r in out)
    # stable under repartitioning (content hashing, not RNG)
    out2 = negative_samples(pos.repartition(7), vocab).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_grid_nearest_equals_bruteforce(spark):
    """The 3x3 neighborhood restriction is exact on the oracle geometry:
    grid-bucketed argmin == unrestricted cross-join argmin."""
    from lnex_spark.operators.geomath import grid_nearest_join, haversine_km

    points = spark.range(0, 500).select(
        F.col("id").alias("pid"),
        ((F.col("id") % 160) / 4.0 + 0.1).alias("lat"),
        (((F.col("id") * 7) % 160) / 4.0 + 0.2).alias("lon"),
    )
    sites = spark.range(0, 25).select(
        F.col("id").alias("site_id"),
        ((F.col("id") % 5) * 8.0 + 4.0).alias("lat"),
        (F.floor(F.col("id") / 5) * 8.0 + 4.0).alias("lon"),
    )
    grid = grid_nearest_join(points, sites, cell_deg=8.0)

    d = haversine_km(F.col("plat"), F.col("plon"), F.col("slat"), F.col("slon"))
    brute = (
        points.select("pid", F.col("lat").alias("plat"), F.col("lon").alias("plon"))
        .crossJoin(
            sites.select(
                F.col("site_id").alias("site"),
                F.col("lat").alias("slat"),
                F.col("lon").alias("slon"),
            )
        )
        .select("pid", F.struct(d.alias("dist"), F.col("site")).alias("ds"))
        .groupBy("pid")
        .agg(F.min("ds").alias("m"))
        .select("pid", F.col("m.site").alias("site"), F.round("m.dist", 4).alias("dist_km"))
    )
    assert sorted(map(tuple, grid.collect())) == sorted(map(tuple, brute.collect()))


def test_k_core_peeling(spark):
    """Hand-built graph: a 4-clique (3-core) plus a tail; k=3 peels the
    tail in two rounds and keeps the clique at degree 3."""
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
        "doc_a long, doc_b long",
    )
    from lnex_spark.operators.graph import k_core

    got = {r["node"]: r["deg"] for r in k_core(edges, k=3, rounds=3).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_link_prediction_scores(spark):
    """Star around node 2: all non-adjacent leaf pairs share exactly
    neighbor 2 (deg 3), so cn=1 and aa=1/ln(3) for each."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (2, 4)], "doc_a long, doc_b long"
    )
    from lnex_spark.operators.graph import link_prediction_scores

    got = {(r["x"], r["y"]): (r["cn"], r["aa"]) for r in link_prediction_scores(edges).collect()}
    expect_aa = round(1.0 / __import__("math").log(3), 6)
    assert got == {(1, 3): (1, expect_aa), (1, 4): (1, expect_aa), (3, 4): (1, expect_aa)}


def test_blocking_quality_report(spark):
    from lnex_spark.operators.dedup import blocking_quality

    cands = spark.createDataFrame([(1, 2), (3, 4), (5, 6)], "doc_a long, doc_b long")
    truth = spark.createDataFrame([(1, 2), (3, 4), (7, 8)], "doc_a long, doc_b long")
    uni = spark.range(10).select(F.col("id").alias("doc_id"))
    r = blocking_quality(cands, truth, uni).collect()[0]
    assert (r["n_docs"], r["n_candidates"], r["n_true"], r["n_caught"]) == (10, 3, 3, 2)
    assert r["reduction_ratio"] == round(1 - 3 / 45.0, 6)
    assert r["pair_completeness"] == round(2 / 3.0, 6)


def test_resample_hourly_locf(spark):
    from datetime import datetime

    from lnex_spark.operators.timeseries import resample_hourly_locf

    ev = spark.createDataFrame(
        [
            ("u", datetime(2026, 1, 1, 1, 10), 2.0),
            ("u", datetime(2026, 1, 1, 1, 50), 3.0),  # h1 sum = 5.0
            ("u", datetime(2026, 1, 1, 4, 5), 7.0),   # h2, h3 empty -> carry 5.0
        ],
        "user_id string, ts timestamp, value double",
    )
    got = {
        r["h"].hour: r["v_filled"]
        for r in resample_hourly_locf(ev, key="user_id").collect()
    }
    assert got == {1: 5.0, 2: 5.0, 3: 5.0, 4: 7.0}
