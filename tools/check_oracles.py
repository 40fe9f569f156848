"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
sf parquet tables; compare row count, column names, and an
order-insensitive value hash. Usage:

    python tools/check_oracles.py [sf_dir] [only_op ...]
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents".split()


def _canon(v):
    import datetime
    import math

    if v is None:
        return "␀"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # full precision (round 3): %.6g truncated cents on 6+-digit
        # money and hid a real driver hash-fail — see driver_canon_check
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from lnex_spark.session import get_spark
    import __spark_entry__ as E

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = E.queries(), E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures += 1
            continue
        if name not in oracles:
            print(f"OK?  {name}: rows-only ({len(s_rows)} rows)")
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            failures += 1
            continue
        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols {sorted(s_cols)} vs {sorted(d_cols)}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rows {len(s_rows)} vs {len(d_rows)}")
        if not problems:
            hs, hd = value_hash(s_cols, s_rows), value_hash(d_cols, d_rows)
            if hs != hd:
                problems.append(f"hash {hs} vs {hd}")
        if problems:
            failures += 1
            print(f"FAIL {name}: {'; '.join(problems)}")
            if len(s_rows) and len(d_rows):
                order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
                order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
                ls = sorted("|".join(_canon(r[i]) for i in order_s) for r in s_rows)
                ld = sorted("|".join(_canon(r[i]) for i in order_d) for r in d_rows)
                for a, b in list(zip(ls, ld))[:2000]:
                    if a != b:
                        print(f"  spark : {a[:160]}\n  duckdb: {b[:160]}")
                        break
        else:
            print(f"PASS {name} ({len(s_rows)} rows)")
    print(f"\n{failures} failures / {len(qs)} ops")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
