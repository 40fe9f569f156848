"""Gazetteer build (G1 in Spark, G2-G7 on the driver) vs the gold
annotator's independent variant map and LM, plus the model contract
the link, relational-matcher and compat paths read."""

from __future__ import annotations

import os
import pickle
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import types as T

from lnex_spark.common import cat_priority
from lnex_spark.data import fixtures as FX
from lnex_spark.gazetteer.build import (
    build_match_struct,
    build_unigram,
    build_variants,
    candidate_rows,
    scan_gazetteer,
)
from lnex_spark.operators.textproc import HashtagSegmenter
from lnex_spark.pipeline import build_gazetteer, load_gazetteer_model, save_gazetteer_model
from tests.conftest import to_spark_gaz, to_spark_stopwords, to_spark_wordlist

ROOT = Path(__file__).resolve().parent.parent

# the variant table's schema before G2-G6 moved to the driver
VARIANTS_SCHEMA_CONTRACT = T.StructType(
    [
        T.StructField("norm", T.StringType(), True),
        T.StructField("geo_id", T.LongType(), False),
        T.StructField("match_type", T.IntegerType(), True),
        T.StructField("category", T.StringType(), True),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("lon", T.DoubleType(), True),
        T.StructField("region", T.StringType(), True),
        T.StructField("cat_priority", T.IntegerType(), False),
    ]
)


@pytest.fixture(scope="module")
def model(spark, fixture_data):
    return build_gazetteer(
        spark,
        to_spark_gaz(spark, fixture_data["gaz"]),
        to_spark_stopwords(spark, fixture_data["stopwords"]),
        to_spark_wordlist(spark, fixture_data["wordlist"]),
    )


@pytest.mark.parametrize("mode", ["HR", "hx", ""])
def test_unknown_augmentation_mode_is_refused(mode):
    """name_variants reads any mode but "hr" as "hp", so build_variants
    refuses the rest; every build path (build_gazetteer, both compat
    initializers) goes through it."""
    gaz = [
        {
            "geo_id": 1, "name": "t nagar bus terminus", "alt_names": None,
            "category": "transit", "lat": 13.0, "lon": 80.2, "region": "chennai",
        }
    ]
    with pytest.raises(ValueError, match="'hp' or 'hr'"):
        build_variants(gaz, set(), mode)


def test_bbox_scan_filters(spark, fixture_data):
    gaz = to_spark_gaz(spark, fixture_data["gaz"])
    inside = scan_gazetteer(spark, gaz, FX.EVENTS["chennai"]["bbox"]).count()
    assert inside == len(fixture_data["gaz"])
    assert scan_gazetteer(spark, gaz, [0.0, 0.0, 1.0, 1.0]).count() == 0


def test_variant_table_matches_gold_map(spark):
    """For every event x mode, the variant table must equal the gold
    annotator's variant map on (norm, geo_id, match_type,
    cat_priority), and every row must carry its source gazetteer row's
    category / lat / lon / region."""
    stop = FX.gen_stopwords()
    stop_df = to_spark_stopwords(spark, stop)
    for event in ("chennai", "louisiana", "houston"):
        gaz = FX.gen_gazetteer(event)
        src = {e["geo_id"]: e for e in gaz}
        for mode in ("hp", "hr"):
            m = build_gazetteer(spark, to_spark_gaz(spark, gaz), stop_df, mode=mode)
            rows = m.variants.collect()
            got = {(r["norm"], r["geo_id"], r["match_type"], r["cat_priority"]) for r in rows}
            assert len(got) == len(rows), (event, mode)
            vmap = FX.build_variant_map(gaz, set(stop), mode)
            want = {(v, gid, mt, cp) for v, cands in vmap.items() for gid, mt, cp in cands}
            assert got == want, (event, mode)
            for r in rows:
                e = src[r["geo_id"]]
                assert (r["category"], r["lat"], r["lon"], r["region"]) == (
                    e["category"], e["lat"], e["lon"], e["region"]
                ), (event, mode, r)
                assert r["cat_priority"] == cat_priority(e["category"]), (event, mode, r)


def test_generic_names_filtered(model):
    """G5: gazetteer names colliding with filler vocab must be dropped."""
    norms = {r[0] for r in model.variants.select("norm").distinct().collect()}
    for w in FX.GENERIC_NAME_WORDS:
        assert w not in norms


def test_unigram_lm_matches_gold(model, fixture_data):
    vmap = FX.build_variant_map(fixture_data["gaz"], set(fixture_data["stopwords"]))
    assert model.bc_struct.value.unigram == FX.build_lm(vmap, fixture_data["wordlist"])


def test_match_struct(model):
    st = model.bc_struct.value
    assert "adyar river" in st.prefixes or "adyar" in st.prefixes
    for name in st.full_names:
        toks = name.split(" ")
        assert len(toks) <= st.max_tokens
        assert " ".join(toks[:1]) in st.prefixes


def test_variants_schema_contract(model):
    """perfbench, jobs/run_kg.py, compat and the relational matcher read
    these columns: names, types, nullability and order are fixed."""
    assert model.variants.schema == VARIANTS_SCHEMA_CONTRACT


def test_save_load_roundtrip_contract(spark, model, tmp_path):
    """A saved model (parquet variants/ + unigram/) loads back to the
    same match structure and the same winner map (the link lookup)."""
    save_gazetteer_model(model, str(tmp_path / "model"))
    loaded = load_gazetteer_model(spark, str(tmp_path / "model"))
    a, b = model.bc_struct.value, loaded.bc_struct.value
    assert b.full_names == a.full_names
    assert b.prefixes == a.prefixes
    assert b.unigram == a.unigram
    assert b.max_tokens == a.max_tokens
    assert b.winners == a.winners
    assert b == a


_PICKLE_STRUCT = """
import pickle, sys
from lnex_spark.data import fixtures as FX
from lnex_spark.gazetteer.build import build_match_struct, build_unigram, build_variants, candidate_rows
v = build_variants(FX.gen_gazetteer("chennai"), set(FX.gen_stopwords()), "hp")
s = build_match_struct(candidate_rows(v), build_unigram(v, FX.gen_wordlist()))
sys.stdout.buffer.write(pickle.dumps(s, protocol=pickle.HIGHEST_PROTOCOL))
"""


def test_match_struct_pickle_is_repeatable():
    """The same gazetteer's match structure pickles to the same bytes
    whatever the string hash seed, and unpickles to an equal struct."""
    out = [
        subprocess.run(
            [sys.executable, "-c", _PICKLE_STRUCT],
            capture_output=True,
            check=True,
            cwd=str(ROOT),
            env={**os.environ, "PYTHONHASHSEED": seed},
        ).stdout
        for seed in ("1", "2")
    ]
    assert out[0] == out[1]
    variants = build_variants(FX.gen_gazetteer("chennai"), set(FX.gen_stopwords()), "hp")
    struct = build_match_struct(candidate_rows(variants), build_unigram(variants, FX.gen_wordlist()))
    assert pickle.loads(out[0]) == struct
    back = pickle.loads(pickle.dumps(struct))
    assert back == struct and back.winners == struct.winners
    assert back.full_names == struct.full_names
    # winners stay shared between the names of one entity
    assert len({id(w) for w in back.winners.values()}) == len(set(struct.winners.values()))


def test_match_struct_keeps_its_segmenter_out_of_the_pickle():
    struct = build_match_struct([("adyar river", 1, 1, 3, None, "chennai")], {"adyar": 2, "river": 1})
    seg = struct.segmenter()
    assert isinstance(seg, HashtagSegmenter) and struct.segmenter() is seg
    back = pickle.loads(pickle.dumps(struct))
    assert back._segmenter is None
    assert back.segmenter() is not seg and back.segmenter().freq == seg.freq
    assert back.winners == {"adyar river": (1, 1, 3, None, "chennai")}
