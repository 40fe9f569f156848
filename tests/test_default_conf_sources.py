"""Driver-environment independence for every custom Python data source.

Round-2 lesson (CORRECTNESS_r02: 3 crashes): the driver runs queries on
a DEFAULT-conf SparkSession — none of lnex_spark/session.py's
``_BASE_CONF`` is set there, and Spark 4 hard-fails planning a Python
source whose reader defines ``pushFilters()`` while
``spark.sql.python.filterPushdown.enabled`` is false (the default).

Two layers of defense, both tested here:

1. ``synth.register(spark)`` flips the (runtime) conf on, so pushdown
   pruning still works on a default session;
2. if a session refuses the conf set, ``register`` falls back to
   ``SynthTranscriptDataSourceNoPushdown`` — same rows, no pruning.

The subprocess test is the real gate: a FRESH JVM + bare
``SparkSession.builder.getOrCreate()`` (no _BASE_CONF leakage through
the shared SparkContext's SparkConf, which in-process ``newSession()``
cannot avoid) smoke-reads/writes every custom format exactly as the
driver would.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_nopushdown_reader_matches_pushdown(spark):
    """The fallback reader class yields the same rows as the pushdown
    one under the same filters (pruning is an optimization, never a
    correctness dependency)."""
    from lnex_spark.sources.synth import (
        SynthTranscriptDataSourceNoPushdown,
        SynthTranscriptReaderNoPushdown,
    )
    from pyspark.sql.datasource import DataSourceReader

    # the Spark-4 probe: reader.pushFilters.__func__ must be the base
    # class function for the "implements pushFilters" check to say no
    r = SynthTranscriptReaderNoPushdown({"n_convs": "5", "turns_per_conv": "3"})
    assert getattr(r.pushFilters, "__func__", None) is DataSourceReader.pushFilters

    ns = spark.newSession()
    ns.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    ns.dataSource.register(SynthTranscriptDataSourceNoPushdown)
    df = (
        ns.read.format("transcripts_synth")
        .option("n_convs", 10)
        .option("turns_per_conv", 4)
        .load()
        .where("conv_id = 'c3' and turn_idx <= 2")
    )
    rows = sorted((r.conv_id, r.turn_idx) for r in df.collect())
    assert rows == [("c3", 0), ("c3", 1), ("c3", 2)]


def test_register_turns_conf_on(spark):
    """register() on a session with the conf OFF flips it on (runtime
    SQL conf) so the pushdown reader plans fine."""
    from lnex_spark.sources import synth

    ns = spark.newSession()
    ns.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    synth.register(ns)
    assert ns.conf.get("spark.sql.python.filterPushdown.enabled") == "true"
    n = (
        ns.read.format("transcripts_synth")
        .option("n_convs", 6)
        .option("turns_per_conv", 2)
        .load()
        .count()
    )
    assert n == 12


_SUBPROC = r"""
import sys, tempfile, os
sys.path.insert(0, "@REPO@")
from pyspark.sql import SparkSession

# the driver's world: bare builder, no lnex_spark conf
spark = SparkSession.builder.master("local[2]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
assert spark.conf.get("spark.sql.python.filterPushdown.enabled", None) in (None, "false")

# 1. transcripts_synth: filtered read (the r02 crash shape)
from lnex_spark.sources import synth
synth.register(spark)
t = (spark.read.format("transcripts_synth")
     .option("n_convs", 8).option("turns_per_conv", 5).load()
     .where("turn_idx < 3 and conv_id in ('c1','c2')"))
assert t.count() == 6, t.count()

# 2. jsonl_sink: batch write
from lnex_spark.sources import pysink
pysink.register(spark)
d2 = tempfile.mkdtemp()
df = spark.range(100).selectExpr("id", "cast(id as string) as s")
df.write.format("jsonl_sink").mode("overwrite").save(d2)
n_lines = sum(1 for p in os.listdir(d2) if not p.startswith("_")
              for _ in open(os.path.join(d2, p)))
assert n_lines == 100, n_lines

print("DEFAULT_CONF_SOURCES_OK")
"""


def test_all_sources_on_fresh_default_jvm():
    """Fresh JVM, bare getOrCreate(): every custom format must plan and
    run — this is byte-for-byte the driver's environment."""
    proc = subprocess.run(
        [sys.executable, "-c", _SUBPROC.replace("@REPO@", str(REPO))],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(REPO),
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout[-2000:]}\nstderr:\n{proc.stderr[-4000:]}"
    assert "DEFAULT_CONF_SOURCES_OK" in proc.stdout
