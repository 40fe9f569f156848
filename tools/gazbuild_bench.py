"""Driver cost of one cold gazetteer build near region scale: write an
n-row synthetic gazetteer parquet, run ``pipeline.build_gazetteer`` on
it once on local[4], and print build seconds, the Python driver's peak
RSS, the JVM's peak RSS and the variant / distinct-name counts.

The names are 1-4 tokens over a 'zq' vocabulary plus category,
modifier and stop words, so G4 has augmentation work (hp: ~3.15
variant rows per name); every 5th row has an alt-name.

Usage:
    python tools/gazbuild_bench.py [n_names] [hp|hr]
"""

from __future__ import annotations

import hashlib
import json
import resource
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def write_synth_gazetteer(n: int, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    def tok(salt: str, i: int) -> str:
        return "Zq" + hashlib.md5(f"{salt}{i}".encode()).hexdigest()[:6]

    pats = [
        lambda i: tok("a", i),
        lambda i: f"{tok('a', i)} {tok('b', i)} Road",
        lambda i: f"{tok('a', i)} International Airport",
        lambda i: f"The {tok('a', i)} {tok('b', i)} Park",
    ]
    cats = ["city", "road", "airport", "park"]
    table = pa.table(
        {
            "geo_id": pa.array(range(n), pa.int64()),
            "name": [pats[i % 4](i) for i in range(n)],
            "alt_names": pa.array(
                [[tok("c", i) + " Lake"] if i % 5 == 0 else [] for i in range(n)], pa.list_(pa.string())
            ),
            "category": [cats[i % 4] for i in range(n)],
            "lat": [13.0 + (i % 1000) / 1e4 for i in range(n)],
            "lon": [80.0 + (i % 997) / 1e4 for i in range(n)],
            "region": ["synth"] * n,
        }
    )
    pq.write_table(table, path)


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 250_000
    mode = sys.argv[2] if len(sys.argv) > 2 else "hp"

    from lnex_spark.data import fixtures as FX
    from lnex_spark.gazetteer import build
    from lnex_spark.pipeline import build_gazetteer
    from lnex_spark.session import get_spark

    # measures driver cost up to and past the default guard on purpose
    # (hp makes ~3.15 variant rows per name)
    build.MAX_NAMES = max(build.MAX_NAMES, 4 * n)
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/gaz.parquet"
        write_synth_gazetteer(n, path)
        spark = get_spark(master="local[4]", shuffle_partitions=4)
        gaz = spark.read.parquet(path)
        stop = spark.createDataFrame([(w,) for w in FX.gen_stopwords()], "word string")
        spark.range(1).count()  # JVM warm, outside the timed build
        t = time.time()
        model = build_gazetteer(spark, gaz, stop, None, mode=mode)
        build_s = time.time() - t
        jvm_pid = spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{jvm_pid}/status") as f:
            jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
        print(
            json.dumps(
                {
                    "n_names": n,
                    "mode": mode,
                    "build_s": round(build_s, 1),
                    "py_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024,
                    "jvm_peak_rss_mb": jvm_kb // 1024,
                    "variant_rows": model.variants.count(),
                    "names": len(model.bc_struct.value.full_names),
                }
            )
        )
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
