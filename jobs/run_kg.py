"""spark-submit entrypoint for the KG construction job (north rule:
``spark-submit --py-files lnex_spark.zip jobs/run_kg.py ...``).

Master/executor conf comes from the launcher (``--master``; local only
when none is set); this script only declares the job and prints the
master it ran on. Resumable by default: rerunning with the
same --manifest skips completed conv_id buckets.

Example (cluster):
    spark-submit --py-files lnex_spark.zip jobs/run_kg.py \
        --transcripts catalog.db.transcripts \
        --gazetteer catalog.db.gazetteer --region chennai \
        --out /warehouse/kg --manifest /warehouse/kg_manifest \
        --buckets 1024 --salt-partitions 4096

Example (local smoke):
    python jobs/run_kg.py --transcripts /root/testdata/sf0.001/documents.parquet \
        --derive-from-documents --out /tmp/kg --manifest /tmp/kg_manifest
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="LNEx-style KG construction over transcripts")
    p.add_argument("--transcripts", required=True, help="table name or parquet path")
    p.add_argument("--gazetteer", default=None, help="table name or parquet path (default: synthetic fixture)")
    p.add_argument("--region", default="chennai")
    p.add_argument("--bbox", default=None, help="min_lat,min_lon,max_lat,max_lon")
    p.add_argument("--mode", default="hp", choices=["hp", "hr"], help="augmentation mode")
    p.add_argument("--out", required=True, help="output path/table prefix")
    p.add_argument("--manifest", required=True, help="resume manifest path")
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--buckets-per-batch", type=int, default=8)
    p.add_argument("--salt-partitions", type=int, default=None)
    p.add_argument("--derive-from-documents", action="store_true",
                   help="input is a documents table; derive transcripts (testing)")
    return p.parse_args(argv)


def main(argv=None) -> None:
    args = parse_args(argv)

    from lnex_spark.data import fixtures as FX
    from lnex_spark.gazetteer.build import GAZETTEER_SCHEMA
    from lnex_spark.operators.triples import region_triples, write_triples
    from lnex_spark.pipeline import build_gazetteer, finalize_triples, run_resumable
    from lnex_spark.session import get_spark
    from lnex_spark.sources.tableformat import read_table

    spark = get_spark(master=None, app_name="lnex_kg_construct")

    transcripts = read_table(spark, args.transcripts)
    if args.derive_from_documents:
        from lnex_spark.data.derive import transcripts_from_documents

        transcripts = transcripts_from_documents(transcripts, args.region)

    if args.gazetteer:
        gaz = read_table(spark, args.gazetteer)
    else:
        gaz = spark.createDataFrame(FX.gen_gazetteer(args.region), GAZETTEER_SCHEMA)
    stop = spark.createDataFrame([(w,) for w in FX.gen_stopwords()], "word string")
    wl = spark.createDataFrame(FX.gen_wordlist(), "word string, freq long")
    bbox = [float(x) for x in args.bbox.split(",")] if args.bbox else None

    model = build_gazetteer(spark, gaz, stop, wl, bbox=bbox, mode=args.mode)
    processed = run_resumable(
        spark,
        transcripts,
        model,
        winners_path=f"{args.out}/winners",
        manifest_path=args.manifest,
        n_buckets=args.buckets,
        buckets_per_batch=args.buckets_per_batch,
        salt_partitions=args.salt_partitions,
    )
    triples = finalize_triples(spark, f"{args.out}/winners")
    write_triples(triples, f"{args.out}/mention_triples")
    write_triples(region_triples(gaz), f"{args.out}/region_triples")
    n = spark.read.parquet(f"{args.out}/mention_triples").count()
    print(json.dumps({
        "master": spark.sparkContext.master,
        "processed_buckets": len(processed),
        "mention_triples": n,
    }))


if __name__ == "__main__":
    main()
