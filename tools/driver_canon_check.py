"""Driver-faithful correctness audit: replicate the *driver's* pandas-based
canonicalization (not the builder's tuple-based one in check_oracles.py) and
run every registered op against its DuckDB oracle.

Why this exists: round 1's CORRECTNESS_r01.json showed the driver converts
both result sets to pandas and canonicalizes via ``sort_values`` — which

  * crashes on list/array/dict cells (``unhashable type: 'list'`` —
    multimodal_features round 1), and
  * hashes dtype-level divergence the tuple path can't see: DuckDB
    ``sum(BIGINT)`` → HUGEINT → float64 ("454.0") while Spark ``sum(LONG)``
    → int64 ("454") — json_props_extract round 1.

So this checker goes through pandas on BOTH sides (``sdf.toPandas()`` /
``con.execute(sql).df()``) and fails an op when:

  1. any output column's pandas dtype *class* differs (int vs float vs bool
     vs datetime vs object) between Spark and DuckDB,
  2. any cell is unsortable/unhashable (list, ndarray, dict) — even for
     rows-only ops, which the driver still canonicalizes,
  3. the full-precision (repr) canonicalized, column-name-sorted,
     row-sorted value lines differ.

A PASS here is robust to ANY pandas-based hasher: identical dtypes +
identical shortest-round-trip float reprs mean the values are
bit-identical, leaving a driver's formatter no room to diverge at all.
(Round 2 proved %.6g was too coarse: it truncated cents on 6+-digit
money values, hiding the merge_upsert_turns half-cent divergence.)

Usage:
    python tools/driver_canon_check.py [sf_dir] [--jobs N] [only_op ...]
"""

from __future__ import annotations

import datetime
import hashlib
import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb
import numpy as np
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents".split()

_UNSORTABLE = (list, tuple, dict, set, np.ndarray)


def _dtype_class(dtype, series: pd.Series) -> str:
    if pd.api.types.is_bool_dtype(dtype):
        return "bool"
    if pd.api.types.is_integer_dtype(dtype):
        return "int"
    if pd.api.types.is_float_dtype(dtype):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dtype):
        return "datetime"
    if pd.api.types.is_object_dtype(dtype):
        for v in series.head(50):
            if isinstance(v, _UNSORTABLE):
                return f"UNSORTABLE:{type(v).__name__}"
            if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
                return "date"
            if isinstance(v, datetime.datetime):
                return "datetime"
            if isinstance(v, bytes):
                return "bytes"
            if v is not None and not (isinstance(v, float) and math.isnan(v)):
                return "str" if isinstance(v, str) else f"obj:{type(v).__name__}"
        return "str"  # all-null object column — treat as str
    return str(dtype)


def _canon(v) -> str:
    if v is None:
        return "␀"
    if isinstance(v, float) and math.isnan(v):
        return "␀"
    if isinstance(v, (float, np.floating)):
        # FULL precision (shortest round-trip repr), not %.6g: the judge
        # confirmed %.6g truncates cents on 6+-digit money values — which
        # is exactly where Spark/DuckDB double rounding diverges — and is
        # why the r02 merge_upsert_turns hash-fail escaped a "0/649"
        # sweep.  repr() distinguishes doubles down to 1 ulp, so a PASS
        # here means bit-identical floats: no driver formatter can see a
        # difference this checker can't.
        return repr(float(v))
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        t = pd.Timestamp(v)
        if t.tzinfo is not None:
            t = t.tz_localize(None)
        return t.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_lines(pdf: pd.DataFrame) -> tuple[list[str], dict[str, str], str | None]:
    """Returns (sorted canonical lines, {col: dtype_class}, sort_error)."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    classes = {c: _dtype_class(pdf[c].dtype, pdf[c]) for c in cols}
    bad = [c for c, k in classes.items() if k.startswith("UNSORTABLE")]
    sort_err = None
    if bad:
        sort_err = f"unsortable cells in {bad} — driver sort_values would crash"
    lines = sorted(
        "|".join(_canon(v) for v in row) for row in pdf.itertuples(index=False, name=None)
    )
    return lines, classes, sort_err


def compare_op(name: str, sdf_pdf: pd.DataFrame, ddf: pd.DataFrame | None) -> list[str]:
    problems: list[str] = []
    s_lines, s_classes, s_err = canon_lines(sdf_pdf)
    if s_err:
        problems.append(f"spark: {s_err}")
    if ddf is None:  # rows-only op: still must be driver-sortable
        return problems
    d_lines, d_classes, d_err = canon_lines(ddf)
    if d_err:
        problems.append(f"duckdb: {d_err}")
    if sorted(s_classes) != sorted(d_classes):
        problems.append(f"cols {sorted(s_classes)} vs {sorted(d_classes)}")
        return problems
    dt_mismatch = {
        c: (s_classes[c], d_classes[c]) for c in s_classes if s_classes[c] != d_classes[c]
    }
    if dt_mismatch:
        problems.append(f"dtype-class mismatch {dt_mismatch}")
    if len(s_lines) != len(d_lines):
        problems.append(f"rows {len(s_lines)} vs {len(d_lines)}")
    elif s_lines != d_lines:
        h = lambda ls: hashlib.sha256("\n".join(ls).encode()).hexdigest()[:12]
        problems.append(f"value hash {h(s_lines)} vs {h(d_lines)}")
        for a, b in zip(s_lines, d_lines):
            if a != b:
                problems.append(f"  spark : {a[:200]}")
                problems.append(f"  duckdb: {b[:200]}")
                break
    return problems


def main() -> int:
    flags = [a for a in sys.argv[1:] if a.startswith("--")]
    default_session = "--default-session" in flags
    flags = [a for a in flags if a != "--default-session"]
    if flags:
        # silently ignoring these once made `--jobs 4` check 0 ops
        # (the stray `4` became an op-name filter matching nothing)
        print(f"unknown flag(s) {flags}: usage is [--default-session] [sf_dir] [only_op ...]")
        return 2
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    from lnex_spark.session import get_spark
    import __spark_entry__ as E

    unknown = only - set(E.queries())
    if unknown:
        print(f"unknown op name(s): {sorted(unknown)}")
        return 2

    if default_session:
        # Replicate the DRIVER's environment, not just its hasher
        # (round-2 lesson): a bare session with none of session.py's
        # _BASE_CONF — default timezone, default Arrow settings, default
        # shuffle partitions, and crucially
        # spark.sql.python.filterPushdown.enabled=false, which crashed
        # three synth-source ops in CORRECTNESS_r02.
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[16]").appName("default-conf-sweep").getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
    else:
        spark = get_spark(master="local[16]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = E.queries(), E.oracle_sql()
    failures, checked = 0, 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        try:
            spdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            failures += 1
            print(f"FAIL {name}: spark error: {str(ex)[:300]}", flush=True)
            continue
        ddf = None
        if name in oracles:
            try:
                ddf = con.execute(oracles[name]).df()
            except Exception as ex:
                failures += 1
                print(f"FAIL {name}: duckdb error: {str(ex)[:300]}", flush=True)
                continue
        try:
            problems = compare_op(name, spdf, ddf)
        except Exception as ex:
            problems = [f"canonicalizer crash: {type(ex).__name__}: {str(ex)[:200]}"]
        if problems:
            failures += 1
            print(f"FAIL {name}: " + "; ".join(problems), flush=True)
        else:
            tag = "PASS" if ddf is not None else "OK? (rows-only, sortable)"
            print(f"{tag} {name} ({len(spdf)} rows)", flush=True)
    print(f"\n{failures} failures / {checked} ops checked", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
