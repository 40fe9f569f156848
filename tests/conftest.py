from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from lnex_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # ~260 tests share this one long-lived JVM, which is on the tiered
    # side of the session.py JIT trade-off: opt back into tiered C2
    s = get_spark(
        master="local[4]",
        app_name="lnex_spark_tests",
        shuffle_partitions=4,
        extra_conf={"spark.driver.defaultJavaOptions": "-XX:TieredStopAtLevel=4"},
    )
    yield s


@pytest.fixture(scope="session")
def fixture_data():
    """One event's worth of deterministic fixtures (chennai)."""
    from lnex_spark.data import fixtures as FX

    gaz = FX.gen_gazetteer("chennai")
    transcripts = FX.gen_transcripts("chennai", n_convs=20, n_turns=400, gazetteer=gaz)
    stop = FX.gen_stopwords()
    wl = FX.gen_wordlist()
    gold = FX.gold_annotations(transcripts, gaz, set(stop), wl)
    return {"gaz": gaz, "transcripts": transcripts, "stopwords": stop, "wordlist": wl, "gold": gold}


def to_spark_gaz(spark, gaz_rows):
    from lnex_spark.gazetteer.build import GAZETTEER_SCHEMA

    return spark.createDataFrame(gaz_rows, GAZETTEER_SCHEMA)


def to_spark_transcripts(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )


def to_spark_stopwords(spark, words):
    return spark.createDataFrame([(w,) for w in words], "word string")


def to_spark_wordlist(spark, wl):
    return spark.createDataFrame(wl, "word string, freq long")
