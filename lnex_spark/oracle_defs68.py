"""Sixty-eighth oracle-registry module: content-defined chunking and
SLO burn-rate monitoring.

  * cdc_chunks_docs — content-defined chunking: a token stream is
    cut wherever the md5 of the trailing 4-token window lands in a
    1/16 hash band (the rolling-hash boundary rule of dedup storage
    systems — boundaries move WITH content, so an insertion only
    reshapes neighboring chunks, unlike fixed-size chunking).
    Chunk ids via cumulative boundary counts per doc; emits per-doc
    chunk count, average and max chunk length over a fixed 100-doc
    slice.  The storage-dedup complement of a sliding-window
    chunker, whose boundaries are positional.

  * slo_burn_events — error-budget burn rate: hourly error share
    over a 1% SLO budget, with the fast-burn (>=14x) and slow-burn
    (>=2x) alert flags of the standard multi-window SRE policy.
    One hour-bucket aggregate; the monitoring twin of the drift
    suite for operational rather than statistical regressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_CDC_SQL = r"""
    WITH arrs AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts
      FROM documents WHERE doc_id < 100
    ),
    toks AS (
      SELECT doc_id, u.i AS pos, ts[u.i] AS tok,
             CASE WHEN u.i >= 4 AND
               CAST(('0x' || substr(md5(ts[u.i - 3] || ' ' || ts[u.i - 2] || ' ' ||
                     ts[u.i - 1] || ' ' || ts[u.i]), 1, 4)) AS INTEGER) % 16 = 0
               THEN 1 ELSE 0 END AS boundary
      FROM arrs, (SELECT unnest(range(1, 2000)) AS i) u
      WHERE u.i <= len(ts)
    ),
    chunked AS (
      SELECT doc_id, pos,
             SUM(boundary) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_id
      FROM toks
    ),
    chunks AS (
      SELECT doc_id, chunk_id, COUNT(*) AS chunk_len
      FROM chunked GROUP BY doc_id, chunk_id
    )
    SELECT doc_id,
           COUNT(*) AS n_chunks,
           ROUND(AVG(chunk_len * 1.0), 6) AS avg_chunk_len,
           MAX(chunk_len) AS max_chunk_len
    FROM chunks GROUP BY doc_id
"""


@register("cdc_chunks_docs", _CDC_SQL)
def cdc_chunks_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    arrs = d.select("doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("ts"))
    toks = arrs.select(
        "doc_id",
        F.posexplode("ts").alias("pos0", "tok"),
        F.col("ts"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok", "ts")
    window_txt = F.concat_ws(
        " ",
        F.expr("ts[pos - 4]"),
        F.expr("ts[pos - 3]"),
        F.expr("ts[pos - 2]"),
        F.expr("ts[pos - 1]"),
    )
    boundary = F.when(
        (F.col("pos") >= 4)
        & (
            F.pmod(
                F.conv(F.substring(F.md5(window_txt), 1, 4), 16, 10).cast("long"), F.lit(16)
            )
            == 0
        ),
        1,
    ).otherwise(0)
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    chunked = toks.select("doc_id", "pos", boundary.alias("boundary")).select(
        "doc_id", "pos", F.sum("boundary").over(w).alias("chunk_id")
    )
    chunks = chunked.groupBy("doc_id", "chunk_id").agg(F.count("*").alias("chunk_len"))
    return chunks.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.round(F.avg(F.col("chunk_len") * 1.0), 6).alias("avg_chunk_len"),
        F.max("chunk_len").alias("max_chunk_len"),
    )


_SLO_SQL = """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hb,
             COUNT(*) AS n,
             SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS errs
      FROM events GROUP BY 1
    )
    SELECT hb, n, CAST(errs AS BIGINT) AS errs,
           ROUND(errs * 1.0 / n, 6) AS err_rate,
           ROUND((errs * 1.0 / n) / 0.01, 6) AS burn_rate,
           CAST((errs * 1.0 / n) / 0.01 >= 14 AS INTEGER) AS fast_burn,
           CAST((errs * 1.0 / n) / 0.01 >= 2 AS INTEGER) AS slow_burn
    FROM hourly
"""


@register("slo_burn_events", _SLO_SQL)
def slo_burn_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hb")).agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("errs"),
    )
    rate = F.col("errs") * 1.0 / F.col("n")
    return hourly.select(
        "hb",
        "n",
        "errs",
        F.round(rate, 6).alias("err_rate"),
        F.round(rate / 0.01, 6).alias("burn_rate"),
        (rate / 0.01 >= 14).cast("int").alias("fast_burn"),
        (rate / 0.01 >= 2).cast("int").alias("slow_burn"),
    )
