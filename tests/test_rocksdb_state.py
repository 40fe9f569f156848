"""RocksDB state store provider: the state backend a 100 TB streaming
deployment actually runs (bounded executor memory, state spills to
local SST files + changelog). Results must be identical to the
default HDFS-backed provider for a built-in streaming aggregation.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

ROCKS = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
EVENTS_SCHEMA = "user_id long, event_type string"


@pytest.fixture()
def rocksdb_conf(spark):
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(key, ROCKS)
    yield
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


def test_rocksdb_agg_matches_batch(spark, tmp_path, rocksdb_conf):
    src = str(tmp_path / "src")
    rows = [(i % 11, f"type_{i % 4}") for i in range(800)]
    spark.createDataFrame(rows, EVENTS_SCHEMA).repartition(4).write.parquet(src)

    q = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(src)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .writeStream.format("memory")
        .queryName("rocks_counts")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r["event_type"]: r["n"] for r in spark.sql("SELECT * FROM rocks_counts").collect()}
    expect = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet(src).groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert got == expect

    # the checkpoint must be readable back through the statestore source too
    state = spark.read.format("statestore").load(str(tmp_path / "ckpt"))
    got_state = {r["key"]["event_type"]: r["value"]["count"] for r in state.collect()}
    assert got_state == expect

