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


def _killed_run(spark, t_df, model, tmp_path):
    """An 8-bucket run killed after its first batch of 4; returns
    (winners, manifest)."""
    winners, manifest = str(tmp_path / "winners"), str(tmp_path / "manifest")
    run_resumable(
        spark, t_df, model, winners, manifest, n_buckets=8, buckets_per_batch=4, fail_after_batches=1
    )
    return winners, manifest


def test_resume_refuses_changed_n_buckets(spark, fixture_data, model, tmp_path):
    """Re-bucketing under a manifest of done bucket ids would skip the
    turns that move into a done id."""
    t_df = to_spark_transcripts(spark, fixture_data["transcripts"])
    winners, manifest = _killed_run(spark, t_df, model, tmp_path)
    with pytest.raises(ValueError, match="n_buckets"):
        run_resumable(spark, t_df, model, winners, manifest, n_buckets=12, buckets_per_batch=4)


def test_resume_refuses_changed_gazetteer(spark, fixture_data, model, tmp_path):
    """A resume with another gazetteer model (here: one entry fewer)
    would mix its linked mentions with the first model's."""
    t_df = to_spark_transcripts(spark, fixture_data["transcripts"])
    winners, manifest = _killed_run(spark, t_df, model, tmp_path)
    other = build_gazetteer(
        spark,
        to_spark_gaz(spark, fixture_data["gaz"][1:]),
        to_spark_stopwords(spark, fixture_data["stopwords"]),
        to_spark_wordlist(spark, fixture_data["wordlist"]),
    )
    with pytest.raises(ValueError, match="model"):
        run_resumable(spark, t_df, other, winners, manifest, n_buckets=8, buckets_per_batch=4)


def test_resume_refuses_a_batch_size_below_one(spark, fixture_data, model, tmp_path):
    """A negative batch size would process no bucket and return [], so
    the job would finalize the killed run's partial winners."""
    t_df = to_spark_transcripts(spark, fixture_data["transcripts"])
    winners, manifest = _killed_run(spark, t_df, model, tmp_path)
    with pytest.raises(ValueError, match="buckets_per_batch"):
        run_resumable(spark, t_df, model, winners, manifest, n_buckets=8, buckets_per_batch=-1)
    assert completed_buckets(spark, manifest) == [0, 1, 2, 3]


def test_zero_buckets_is_refused_before_the_identity_is_written(spark, fixture_data, model, tmp_path):
    """An identity stored with n_buckets=0 would refuse every later run
    with a valid bucket count as a changed identity."""
    t_df = to_spark_transcripts(spark, fixture_data["transcripts"])
    winners, manifest = str(tmp_path / "winners"), str(tmp_path / "manifest")
    with pytest.raises(ValueError, match="n_buckets"):
        run_resumable(spark, t_df, model, winners, manifest, n_buckets=0)
    assert not (tmp_path / "manifest_identity").exists()


def test_matching_resume_of_file_input_equals_uninterrupted(spark, fixture_data, model, tmp_path):
    """Same bucket count, model and input files: the resume is accepted
    and finalizes to the triples of an uninterrupted run."""
    path = str(tmp_path / "transcripts")
    to_spark_transcripts(spark, fixture_data["transcripts"]).write.parquet(path)
    t_df = spark.read.parquet(path)
    winners, manifest = _killed_run(spark, t_df, model, tmp_path)
    rest = run_resumable(
        spark, spark.read.parquet(path), model, winners, manifest, n_buckets=8, buckets_per_batch=4
    )
    assert len(rest) == 4

    full = tmp_path / "full"
    run_resumable(spark, t_df, model, str(full / "winners"), str(full / "manifest"), n_buckets=8)
    resumed = {tuple(r) for r in finalize_triples(spark, winners).collect()}
    assert resumed == {tuple(r) for r in finalize_triples(spark, str(full / "winners")).collect()}
    assert resumed


def test_resume_over_an_uncommitted_identity_write(spark, fixture_data, model, tmp_path):
    """A run killed while writing its identity leaves a directory that
    holds only ``_temporary/``. The next run treats it as absent,
    rewrites it, and finalizes to the triples of an uninterrupted run."""
    t_df = to_spark_transcripts(spark, fixture_data["transcripts"])
    winners, manifest = str(tmp_path / "winners"), str(tmp_path / "manifest")
    (tmp_path / "manifest_identity" / "_temporary" / "0").mkdir(parents=True)
    done = run_resumable(spark, t_df, model, winners, manifest, n_buckets=8, buckets_per_batch=4)
    assert sorted(done) == list(range(8))
    assert (tmp_path / "manifest_identity" / "_SUCCESS").exists()

    full = tmp_path / "full"
    run_resumable(spark, t_df, model, str(full / "winners"), str(full / "manifest"), n_buckets=8)
    got = {tuple(r) for r in finalize_triples(spark, winners).collect()}
    assert got == {tuple(r) for r in finalize_triples(spark, str(full / "winners")).collect()}
    assert got


def test_resume_refuses_an_unreadable_committed_identity(spark, fixture_data, model, tmp_path):
    """A committed identity that cannot be read is not rewritten: the
    run stops instead of accepting settings it cannot compare."""
    t_df = to_spark_transcripts(spark, fixture_data["transcripts"])
    winners, manifest = str(tmp_path / "winners"), str(tmp_path / "manifest")
    ident = tmp_path / "manifest_identity"
    ident.mkdir()
    (ident / "_SUCCESS").touch()
    with pytest.raises(ValueError, match="unreadable"):
        run_resumable(spark, t_df, model, winners, manifest, n_buckets=8)
    assert sorted(p.name for p in ident.iterdir()) == ["_SUCCESS"]


def test_resume_refuses_an_unreadable_committed_manifest(spark, fixture_data, model, tmp_path):
    """A committed manifest whose part file is corrupt is an error: read
    as empty, every rerun would redo every bucket and append to the same
    unreadable directory."""
    t_df = to_spark_transcripts(spark, fixture_data["transcripts"])
    winners, manifest = str(tmp_path / "winners"), tmp_path / "manifest"
    first = run_resumable(
        spark, t_df, model, winners, str(manifest), n_buckets=4, buckets_per_batch=2, fail_after_batches=1
    )
    assert len(first) == 2
    parts = list(manifest.glob("part-*.parquet"))
    assert parts and (manifest / "_SUCCESS").exists()
    for part in parts:
        part.write_bytes(b"not a parquet file")
    with pytest.raises(ValueError, match="unreadable"):
        run_resumable(spark, t_df, model, winners, str(manifest), n_buckets=4, buckets_per_batch=2)


def test_resume_over_an_uncommitted_manifest_append(spark, fixture_data, model, tmp_path):
    """A first manifest append killed before its commit leaves only
    ``_temporary/``: the manifest counts as empty, and the run finalizes
    to the triples of an uninterrupted run."""
    t_df = to_spark_transcripts(spark, fixture_data["transcripts"])
    winners, manifest = str(tmp_path / "winners"), str(tmp_path / "manifest")
    (tmp_path / "manifest" / "_temporary" / "0").mkdir(parents=True)
    done = run_resumable(spark, t_df, model, winners, manifest, n_buckets=8, buckets_per_batch=4)
    assert sorted(done) == list(range(8))
    assert completed_buckets(spark, manifest) == list(range(8))

    full = tmp_path / "full"
    run_resumable(spark, t_df, model, str(full / "winners"), str(full / "manifest"), n_buckets=8)
    got = {tuple(r) for r in finalize_triples(spark, winners).collect()}
    assert got == {tuple(r) for r in finalize_triples(spark, str(full / "winners")).collect()}
    assert got
