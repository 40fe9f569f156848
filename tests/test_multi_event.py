"""All three reference-style events (Chennai / Louisiana / Houston)
end-to-end, mirroring the reference's three-event evaluation, plus the
HR augmentation mode."""

from __future__ import annotations

from pyspark.sql import functions as F

from lnex_spark.data import fixtures as FX
from lnex_spark.operators.evaluate import gold_triples, precision_recall
from lnex_spark.pipeline import build_gazetteer, run_pipeline
from tests.conftest import (
    to_spark_gaz,
    to_spark_stopwords,
    to_spark_transcripts,
    to_spark_wordlist,
)


def test_all_three_events(spark):
    stop = FX.gen_stopwords()
    wl = FX.gen_wordlist()
    for event in ("chennai", "louisiana", "houston"):
        gaz = FX.gen_gazetteer(event)
        transcripts = FX.gen_transcripts(event, n_convs=12, n_turns=200, gazetteer=gaz)
        gold = FX.gold_annotations(transcripts, gaz, set(stop), wl)
        m, r = run_pipeline(
            spark,
            to_spark_transcripts(spark, transcripts),
            to_spark_gaz(spark, gaz),
            to_spark_stopwords(spark, stop),
            to_spark_wordlist(spark, wl),
            bbox=FX.EVENTS[event]["bbox"],
        )
        gold_df = spark.createDataFrame(
            gold,
            "conv_id string, turn_idx int, start int, end int, surface string, geo_id long",
        )
        pr = precision_recall(m, gold_triples(gold_df))
        assert pr["precision"] >= 0.95 and pr["recall"] >= 0.95, (event, pr)
        assert {x["obj"] for x in r.select("obj").distinct().collect()} == {event}


def test_region_partition_pruning(spark):
    """A region-partitioned gazetteer scan prunes to one partition
    (the Iceberg/parquet partition-pruning story for G1)."""
    import tempfile

    rows = []
    for event in ("chennai", "louisiana", "houston"):
        rows += FX.gen_gazetteer(event)
    gaz = to_spark_gaz(spark, rows)
    with tempfile.TemporaryDirectory() as tmp:
        gaz.write.partitionBy("region").parquet(f"{tmp}/gaz")
        scan = spark.read.parquet(f"{tmp}/gaz").filter(F.col("region") == "houston")
        import io
        from contextlib import redirect_stdout

        buf = io.StringIO()
        with redirect_stdout(buf):
            scan.explain("formatted")
        plan = buf.getvalue()
        assert "PartitionFilters: [isnotnull(region" in plan
        assert scan.count() == len(FX.gen_gazetteer("houston"))


def test_hr_mode_superset(spark, fixture_data):
    """HR adds interior skip-grams HP can't produce — needs names with
    NON-removable interior tokens ('Besant' below; the event fixtures'
    interiors are all category/stopword tokens, where HP == HR)."""
    rows = [
        {"geo_id": 1, "name": "Adyar Besant Nagar", "alt_names": [], "category": "place",
         "lat": 13.0, "lon": 80.2, "region": "chennai"},
        {"geo_id": 2, "name": "Guindy Velachery Saidapet Road", "alt_names": [], "category": "highway",
         "lat": 13.0, "lon": 80.2, "region": "chennai"},
    ]
    gaz_df = to_spark_gaz(spark, rows)
    stop_df = to_spark_stopwords(spark, fixture_data["stopwords"])
    hp = build_gazetteer(spark, gaz_df, stop_df, mode="hp").variants
    hr = build_gazetteer(spark, gaz_df, stop_df, mode="hr").variants
    hp_set = {(r["norm"], r["geo_id"]) for r in hp.select("norm", "geo_id").collect()}
    hr_set = {(r["norm"], r["geo_id"]) for r in hr.select("norm", "geo_id").collect()}
    assert hp_set <= hr_set
    assert ("adyar nagar", 1) in hr_set and ("adyar nagar", 1) not in hp_set
    assert ("guindy saidapet road", 2) in hr_set and ("guindy saidapet road", 2) not in hp_set


def test_single_pass_multi_region(spark):
    """ONE pipeline pass over a UNION gazetteer of all three events and
    the concatenated corpora — the planet-scale deployment shape (one
    extraction job, region-tagged gazetteer, no per-region re-scan of
    the transcript table). Quality must hold corpus-wide: conv_ids are
    event-prefixed so the gold sets concatenate cleanly."""
    stop = FX.gen_stopwords()
    wl = FX.gen_wordlist()
    all_gaz, all_turns, all_gold = [], [], []
    for event in ("chennai", "louisiana", "houston"):
        gaz = FX.gen_gazetteer(event)
        transcripts = FX.gen_transcripts(event, n_convs=8, n_turns=150, gazetteer=gaz)
        all_gold += FX.gold_annotations(transcripts, gaz, set(stop), wl)
        all_gaz += gaz
        all_turns += transcripts
    m, r = run_pipeline(
        spark,
        to_spark_transcripts(spark, all_turns),
        to_spark_gaz(spark, all_gaz),
        to_spark_stopwords(spark, stop),
        to_spark_wordlist(spark, wl),
        bbox=None,  # no region scoping: the union gazetteer IS the scope
    )
    gold_df = spark.createDataFrame(
        all_gold,
        "conv_id string, turn_idx int, start int, end int, surface string, geo_id long",
    )
    pr = precision_recall(m, gold_triples(gold_df))
    assert pr["precision"] >= 0.95 and pr["recall"] >= 0.95, pr
    # region triples carry all three regions
    regions = {row.obj for row in r.select("obj").distinct().collect()}
    assert regions == {"chennai", "louisiana", "houston"}
