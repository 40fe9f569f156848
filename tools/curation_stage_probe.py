"""Per-stage N→4N attribution for the curation pipeline (VERDICT r03
item 3): times each sub-plan of curate_transcripts cumulatively at one
parallelism level, so two pinned runs (4 and 16 cores) attribute the
end-to-end scaling efficiency stage by stage.

Stages (cumulative materializations; incremental = difference):
  scan    — text scan + regexp_count + xxhash projection (the stage the
            Spark-free microbench caps at ~0.73 for 4→16 on this VM)
  window  — + the single fused conv_id WindowExec (fingerprint, gate
            quantities, context running sum)
  e2e     — + dedup classes, survivor semi-join, packing shard window

Run it pinned, once per level:
    taskset -c 0-3  python tools/curation_stage_probe.py 6000 4
    taskset -c 0-15 python tools/curation_stage_probe.py 6000 16
Prints one JSON line: {"cores":N,"turns":M,"scan":s,"window":s,"e2e":s}.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 6000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lnex_spark.data.derive import transcripts_from_documents
    from lnex_spark.operators.curation import CTX_PREV, curate_transcripts
    from lnex_spark.session import get_spark

    spark = get_spark(master=f"local[{cores}]", shuffle_partitions=cores)
    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    t = (
        transcripts_from_documents(docs, replicas=replicas)
        .select("conv_id", "turn_idx", "role", "text")
        .repartition(cores * 2)  # two tasks per core — the
        # derived frame otherwise inherits the tiny parquet scan's
        # partition count and caps every stage at ~4 tasks
        .persist()
    )
    n_turns = t.count()

    h = F.xxhash64("turn_idx", "text")
    rows = t.select(
        "conv_id",
        "turn_idx",
        "role",
        F.regexp_count(F.col("text"), F.lit(r"\S+")).alias("tok"),
        F.length("text").alias("_tlen"),
        h.bitwiseAND(F.lit(0xFFFFFFFF)).alias("_h_lo"),
        F.shiftrightunsigned(h, 32).alias("_h_hi"),
    )
    wc = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wctx = Window.partitionBy("conv_id").orderBy("turn_idx").rowsBetween(-CTX_PREV, -1)
    windowed = rows.select(
        "conv_id",
        "turn_idx",
        F.xxhash64(
            F.sum("_h_lo").over(wc), F.sum("_h_hi").over(wc), F.count("*").over(wc)
        ).alias("_fp"),
        F.count("*").over(wc).alias("_n_turns"),
        F.avg("_tlen").over(wc).alias("_mean_len"),
        (F.coalesce(F.sum(F.col("tok") + 1).over(wctx), F.lit(1)) - 1).alias("ctx_tok"),
    )

    def best(fn):
        walls = []
        for _ in range(reps):
            t0 = time.time()
            fn()
            walls.append(time.time() - t0)
        return min(walls)

    t_scan = best(lambda: rows.agg(F.sum("tok"), F.sum("_h_lo")).collect())
    t_win = best(lambda: windowed.agg(F.sum("ctx_tok"), F.max("_fp")).collect())
    t_e2e = best(lambda: curate_transcripts(t, budget=120, shards=256,
                                            min_turns=2, len_band=(1.0, 1e5)).count())
    print(json.dumps({
        "cores": cores, "turns": n_turns,
        "scan": round(t_scan, 2), "window": round(t_win, 2), "e2e": round(t_e2e, 2),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
