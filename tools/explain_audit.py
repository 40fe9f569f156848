"""Plan audit: print formatted physical plans for the engine's key
operators and grep them for the properties we require at scale:

  * the flagship links inside its one MapInPandas: no join of any
    kind and no BroadcastExchange, one Exchange (the salt shuffle)
  * the reference chain's L1 link join is a BroadcastHashJoin (no
    shuffle of the big side)
  * parquet scans show PushedFilters / pruned ReadSchema
  * built-in stages sit inside WholeStageCodegen spans
  * exactly the expected shuffles (Exchange) per pipeline

Usage: python tools/explain_audit.py [op ...]
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

CHECKS = {
    # linking is a lookup inside the extraction UDF: the salt shuffle,
    # one MapInPandas, then mention_triples' distinct — never a join
    "flagship": dict(
        want=["MapInPandas", "Exchange"],
        forbid=["Join", "BroadcastExchange"],
    ),
    "scan_pushdown": dict(want=["PushedFilters: \\[IsNotNull", "ReadSchema: struct<doc_id:bigint,text:string>"]),
    "link_join": dict(want=["BroadcastHashJoin"], forbid=["SortMergeJoin"]),
    # partial_sum before the Exchange = map-side combine (partial+final)
    "agg": dict(want=["HashAggregate", r"partial_sum"]),
    # explicit codegen-mode dump: the whole built-in chain must fuse
    "codegen": dict(want=[r"Found 1 WholeStageCodegen subtrees|WholeStageCodegen \(1\)"]),
    # co-mention pairs are unrolled array-side from collect_set —
    # NO self-join anywhere in the plan
    "comention": dict(want=["HashAggregate", "Generate"], forbid=["Join"]),
    # broadcast-free matcher: a REAL join against the gazetteer
    # (any strategy Catalyst picks) + the two Python islands
    "m1rel": dict(want=["Join", "MapInPandas", "FlatMapGroupsInPandas"]),
    # grid-bucketed spatial kNN: replicated-cells side broadcast, the
    # argmin a partial-aggregating struct-min — never a cross join
    # (struct-min plans as SortAggregate — structs aren't hashable-agg
    # buffers — but partial_min proves map-side combining still runs)
    "spatial_knn": dict(
        want=["BroadcastHashJoin", r"(Hash|Sort|ObjectHash)Aggregate", r"partial_min"],
        forbid=["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # weighted sampling: global top-k must plan as TakeOrderedAndProject
    # (per-partition heaps), never a full global Sort
    "wsample": dict(want=["TakeOrderedAndProject"]),
    # prefix-filtered set-similarity: equi-join on prefix shingles —
    # never a cartesian/nested-loop pair enumeration
    "setsim": dict(
        want=["Join", "Generate"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # sharded greedy packing: ONE grouped-map Python island on the
    # shard key; the sequential loop never leaks into a driver collect
    "pack": dict(want=["FlatMapGroupsInPandas", "Exchange"]),
    # r2 minhash rewrite: ONE groupBy(doc_id) with k min-columns —
    # map-side partial_min, no join, and NO Python anywhere (tokenize,
    # shingle, hash, min are all built-ins). min(string) buffers aren't
    # hash-agg mutable, so the agg plans as SortAggregate — partial_min
    # still proves the map-side combine.
    "minhash": dict(
        want=[r"(Hash|Sort|ObjectHash)Aggregate", r"partial_min", "Generate"],
        forbid=["Join", "EvalPython", "MapInPandas"],
    ),
    # r2 simhash rewrite: fully relational — per-token md5 JVM-side,
    # 64 partial_sum bit-vote columns in one hash agg; the round-1
    # per-token Python loop must NOT reappear
    "simhash": dict(
        want=["HashAggregate", r"partial_sum"],
        forbid=["EvalPython", "MapInPandas", "Join"],
    ),
    # r2 real media decode: synthesize + decode are chained MapInPandas
    # islands over the same scan — ZERO exchanges end-to-end
    "media": dict(want=["MapInPandas"], forbid=["Exchange", "Join"]),
    # r2 triple MERGE: the batch must broadcast into a left-anti hash
    # join — the big triple table is never shuffled or sort-merged
    "kg_merge": dict(
        want=["BroadcastHashJoin LeftAnti"],
        forbid=["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # r2 context assembly: sliding ROWS frame over ONE conv_id shuffle —
    # never a self-join blow-up, no Python
    "ctx_assembly": dict(
        want=["Window"],
        forbid=["Join", "CartesianProduct", "EvalPython", "MapInPandas"],
    ),
    # r2 conversation fingerprint: ONE groupBy(conv_id) with
    # sort_array(collect_list(struct)) — deterministic order WITHOUT a
    # window pass, so exactly one Exchange and no Window/Join
    "conv_fp": dict(
        want=[r"(Hash|Sort|ObjectHash)Aggregate"],
        forbid=["Window", "Join", "EvalPython", "MapInPandas"],
    ),
}


def main() -> int:
    from lnex_spark.data import fixtures as FX
    from lnex_spark.data.derive import transcripts_from_documents
    from lnex_spark.gazetteer.build import GAZETTEER_SCHEMA
    from lnex_spark.pipeline import build_gazetteer, extract_link
    from lnex_spark.operators.triples import mention_triples
    from lnex_spark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    sf = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    gaz = spark.createDataFrame(FX.gen_gazetteer("chennai"), GAZETTEER_SCHEMA)
    stop = spark.createDataFrame([(w,) for w in FX.gen_stopwords()], "word string")
    wl = spark.createDataFrame(FX.gen_wordlist(), "word string, freq long")
    model = build_gazetteer(spark, gaz, stop, wl)
    # materialize the cached gazetteer so downstream plans show the
    # runtime InMemoryTableScan instead of re-planning the whole build
    model.variants.count()

    plans: dict[str, str] = {}

    def grab(df) -> str:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    t = transcripts_from_documents(docs, "chennai")
    plans["flagship"] = grab(mention_triples(extract_link(t, model, salt_partitions=4)))
    plans["scan_pushdown"] = grab(
        docs.select("doc_id", "text").filter(F.col("doc_id") % 2 == 0).filter(F.col("doc_id").isNotNull())
    )
    from lnex_spark.operators.link import link_mentions
    from lnex_spark.operators.extract import extract_mentions_df

    plans["link_join"] = grab(link_mentions(extract_mentions_df(t, model.bc_struct), model.variants))
    plans["agg"] = grab(
        spark.read.parquet(f"{sf}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("q"))
    )

    def grab_codegen(df) -> str:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("codegen")
        return buf.getvalue()

    from lnex_spark.operators.textquality import quality_features

    plans["codegen"] = grab_codegen(quality_features(docs))

    from lnex_spark.operators.graph import comention_edges

    triples = spark.createDataFrame(
        [("c1#0", "mentionsLocation", 7), ("c1#1", "mentionsLocation", 3)],
        "subj string, pred string, obj long",
    )
    plans["comention"] = grab(comention_edges(triples))

    from lnex_spark.operators.extract_relational import extract_mentions_relational

    plans["m1rel"] = grab(extract_mentions_relational(t, model.variants))

    from lnex_spark.operators.curation import weighted_sample
    from lnex_spark.operators.geomath import grid_nearest_join

    cust = spark.read.parquet(f"{sf}/customer.parquet")
    points = cust.select(
        F.col("c_custkey").alias("pid"),
        ((F.col("c_custkey") % 160) / 4.0 + 0.1).alias("lat"),
        (((F.col("c_custkey") * 7) % 160) / 4.0 + 0.2).alias("lon"),
    )
    sites = spark.read.parquet(f"{sf}/nation.parquet").select(
        F.col("n_nationkey").alias("site_id"),
        ((F.col("n_nationkey") % 5) * 8.0 + 4.0).alias("lat"),
        (F.floor(F.col("n_nationkey") / 5) * 8.0 + 4.0).alias("lon"),
    )
    plans["spatial_knn"] = grab(grid_nearest_join(points, sites))
    plans["wsample"] = grab(
        weighted_sample(docs.withColumn("w", F.col("n_chars") + 1.0), "w", k=200)
    )

    from lnex_spark.operators.curation import pack_sequences
    from lnex_spark.operators.dedup import prefix_filter_pairs

    plans["setsim"] = grab(prefix_filter_pairs(docs, n=3, threshold=0.5))
    plans["pack"] = grab(pack_sequences(docs))

    from lnex_spark.operators.dedup import minhash_signatures, simhash_signatures
    from lnex_spark.operators.multimodal import image_stats, synthesize_real_media

    plans["minhash"] = grab(minhash_signatures(docs, k=8, n=3))
    plans["simhash"] = grab(simhash_signatures(docs))
    plans["media"] = grab(image_stats(synthesize_real_media(docs)))

    from lnex_spark.operators.incremental import merge_triples

    big = spark.read.parquet(f"{sf}/orders.parquet").select(
        F.col("o_custkey").cast("string").alias("subj"),
        F.lit("ordered").alias("pred"),
        F.col("o_orderkey").alias("obj"),
    )
    batch = spark.createDataFrame(
        [("1", "ordered", 7, "retract"), ("2", "ordered", 9_000_000, "assert")],
        "subj string, pred string, obj long, op string",
    )
    plans["kg_merge"] = grab(merge_triples(big, batch))

    from lnex_spark.oracle_defs223 import conv_dedup_fingerprint, turn_context_assembly

    plans["ctx_assembly"] = grab(turn_context_assembly(spark, sf))
    plans["conv_fp"] = grab(conv_dedup_fingerprint(spark, sf))

    import re

    only = set(sys.argv[1:])
    bad = 0
    for name, plan in plans.items():
        if only and name not in only:
            continue
        print(f"\n{'=' * 70}\n## {name}\n{plan}")
        checks = CHECKS.get(name, {})
        for pat in checks.get("want", []):
            ok = re.search(pat, plan) is not None
            print(f"  want {pat}: {'OK' if ok else 'MISSING'}")
            bad += 0 if ok else 1
        for pat in checks.get("forbid", []):
            hit = re.search(pat, plan) is not None
            print(f"  forbid {pat}: {'VIOLATED' if hit else 'OK'}")
            bad += 1 if hit else 0
        n_ex = plan.count("Exchange")
        print(f"  exchanges: {n_ex}")
    print(f"\n{bad} plan-check failures")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
