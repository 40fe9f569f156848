"""X2 skew evidence: salted repartition measurably balances a hot
conv_id across tasks (row counts per partition — deterministic, no
timing)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _skewed(spark, n_rows=8000, hot_share=0.5):
    hot = int(n_rows * hot_share)
    rows = [("conv_hot", i) for i in range(hot)] + [
        (f"conv_{i % 200}", i) for i in range(n_rows - hot)
    ]
    return spark.createDataFrame(rows, "conv_id string, turn_idx int")


def _max_partition_share(df) -> float:
    sizes = (
        df.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    total = sum(r["count"] for r in sizes)
    return max(r["count"] for r in sizes) / total


def test_salting_spreads_hot_key(spark):
    from lnex_spark.operators.skew import salt_repartition

    df = _skewed(spark)
    unsalted = df.repartition(8, F.col("conv_id"))
    salted = salt_repartition(df, 8)
    share_unsalted = _max_partition_share(unsalted)
    share_salted = _max_partition_share(salted)
    # the hot conversation (50% of rows) lands in ONE partition
    # unsalted; salted it spreads to ~uniform (1/8 = 0.125)
    assert share_unsalted >= 0.5
    assert share_salted < 0.25
    assert salted.count() == df.count()  # nothing lost


def test_salting_preserves_rows_exactly(spark):
    from lnex_spark.operators.skew import salt_repartition

    df = _skewed(spark, n_rows=1000)
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, salt_repartition(df, 5).collect()))
    assert a == b


def test_suggest_salt_detects_hot_key(spark):
    from pyspark.sql import functions as F

    from lnex_spark.operators.skew import suggest_salt_partitions

    # balanced corpus: 100 convs x 10 turns → no salting suggested
    balanced = spark.range(1000).select(
        F.concat(F.lit("c"), (F.col("id") % 100)).alias("conv_id"),
        (F.col("id") / 100).cast("int").alias("turn_idx"),
    )
    assert suggest_salt_partitions(balanced, target_parallelism=8) is None

    # skewed corpus: one conversation holds half of all turns
    skewed = spark.range(1000).select(
        F.when(F.col("id") < 500, "hot")
        .otherwise(F.concat(F.lit("c"), F.col("id") % 50))
        .alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
    )
    assert suggest_salt_partitions(skewed, target_parallelism=8) == 8

    # deterministic sampling probe agrees on the obvious skew
    assert suggest_salt_partitions(skewed, 8, sample_fraction=0.5) == 8
