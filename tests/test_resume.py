"""X3: checkpoint-resume produces triples identical to an
uninterrupted run; completed buckets are skipped on resume."""

from __future__ import annotations

import pytest

from lnex_spark.data import fixtures as FX
from lnex_spark.operators.lineage import completed_buckets
from lnex_spark.pipeline import (
    build_gazetteer,
    finalize_triples,
    run_pipeline,
    run_resumable,
)
from tests.conftest import (
    to_spark_gaz,
    to_spark_stopwords,
    to_spark_transcripts,
    to_spark_wordlist,
)


@pytest.fixture(scope="module")
def model(spark, fixture_data):
    return build_gazetteer(
        spark,
        to_spark_gaz(spark, fixture_data["gaz"]),
        to_spark_stopwords(spark, fixture_data["stopwords"]),
        to_spark_wordlist(spark, fixture_data["wordlist"]),
    )


def test_resume_identical_to_full_run(spark, fixture_data, model, tmp_path):
    t_df = to_spark_transcripts(spark, fixture_data["transcripts"])
    winners = str(tmp_path / "winners")
    manifest = str(tmp_path / "manifest")

    # simulated kill: only 1 batch (2 buckets) completes
    first = run_resumable(
        spark, t_df, model, winners, manifest, n_buckets=6, buckets_per_batch=2, fail_after_batches=1
    )
    assert len(first) == 2
    assert completed_buckets(spark, manifest) == sorted(first)

    # resume: picks up ONLY the pending buckets
    second = run_resumable(spark, t_df, model, winners, manifest, n_buckets=6, buckets_per_batch=2)
    assert sorted(first + second) == list(range(6))
    assert set(first).isdisjoint(second)

    resumed = {tuple(r) for r in finalize_triples(spark, winners).collect()}
    full, _ = run_pipeline(
        spark,
        t_df,
        to_spark_gaz(spark, fixture_data["gaz"]),
        to_spark_stopwords(spark, fixture_data["stopwords"]),
        to_spark_wordlist(spark, fixture_data["wordlist"]),
    )
    assert resumed == {tuple(r) for r in full.collect()}


def test_manifest_metrics_present(spark, fixture_data, model, tmp_path):
    t_df = to_spark_transcripts(spark, fixture_data["transcripts"])
    winners = str(tmp_path / "w2")
    manifest = str(tmp_path / "m2")
    run_resumable(spark, t_df, model, winners, manifest, n_buckets=4, buckets_per_batch=4)
    m = spark.read.parquet(manifest)
    assert set(m.columns) == {"bucket", "n_turns", "n_mentions", "wall_ms", "batch_id"}
    assert m.count() == 4
    # true per-bucket counts: they add up to the input and to the checkpoint
    totals = m.agg({"n_turns": "sum", "n_mentions": "sum"}).first()
    assert totals["sum(n_turns)"] == len(fixture_data["transcripts"])
    assert totals["sum(n_mentions)"] == spark.read.parquet(winners).count() > 0
    # one batch: every bucket carries the batch's whole wall time
    assert m.select("wall_ms").distinct().count() == 1


def test_resume_after_upgrade_from_reference_chain(spark, fixture_data, model, tmp_path):
    """A winners directory and manifest written by the earlier resumable
    run — L2 winners from the per-mention chain, a manifest with an
    n_triples column — resume and finalize to the same triples."""
    from pyspark.sql import functions as F

    from lnex_spark.operators.extract import extract_mentions_df
    from lnex_spark.operators.lineage import with_bucket
    from lnex_spark.operators.link import link_mentions, score_candidates

    t_df = to_spark_transcripts(spark, fixture_data["transcripts"])
    winners = str(tmp_path / "winners")
    manifest = str(tmp_path / "manifest")
    done = [0, 1]
    old = score_candidates(link_mentions(extract_mentions_df(t_df, model.bc_struct), model.variants))
    (
        with_bucket(old, 6)
        .filter(F.col("bucket").isin(done))
        .write.partitionBy("bucket")
        .parquet(winners)
    )
    spark.createDataFrame(
        [(b, 0, 0, 0, 0, "batch-0") for b in done],
        "bucket int, n_turns long, n_mentions long, n_triples long, wall_ms long, batch_id string",
    ).write.parquet(manifest)

    resumed = run_resumable(spark, t_df, model, winners, manifest, n_buckets=6, buckets_per_batch=4)
    assert resumed == [2, 3, 4, 5]
    full, _ = run_pipeline(
        spark,
        t_df,
        to_spark_gaz(spark, fixture_data["gaz"]),
        to_spark_stopwords(spark, fixture_data["stopwords"]),
        to_spark_wordlist(spark, fixture_data["wordlist"]),
    )
    assert {tuple(r) for r in finalize_triples(spark, winners).collect()} == {
        tuple(r) for r in full.collect()
    }


def test_triple_write_partitioned_and_pruned(spark, tmp_path):
    """K2: region triples written partitioned by region; reading one
    region back hits the partition filter (pruned scan), and the
    overwrite is idempotent."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from lnex_spark.operators.triples import region_triples, write_triples

    gaz = spark.createDataFrame(
        [(1, "a", "chennai"), (2, "b", "chennai"), (3, "c", "houston")],
        "geo_id long, name string, region string",
    )
    out = str(tmp_path / "region_triples")
    rt = region_triples(gaz)
    write_triples(rt, out, partition_cols=["obj"])
    write_triples(rt, out, partition_cols=["obj"])  # idempotent overwrite

    back = spark.read.parquet(out)
    assert back.count() == 3
    one = back.filter(F.col("obj") == "chennai")
    assert one.count() == 2
    buf = io.StringIO()
    with redirect_stdout(buf):
        one.explain("formatted")
    assert "PartitionFilters" in buf.getvalue()
    assert "chennai" in buf.getvalue()
