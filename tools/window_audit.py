"""Global-window audit (round-4, VERDICT r03 item 2).

For every registered op, PLAN (don't execute) its DataFrame and find
physical Window nodes that sit on an ``Exchange SinglePartition`` —
the unambiguous marker of an unpartitioned window (Spark warns
"Moving all data to a single partition").  For each such node, walk
its input subtree and classify what actually flows in:

  bounded-agg    nearest descendant is HashAggregate/ObjectHashAggregate
                 whose grouping keys are bounded-cardinality columns
                 (status/flag/date/bucket/... lists below)
  raw-agg        aggregate keyed by raw-scale ids (custkey, doc_id, …):
                 group count is proportional to the corpus
  limited        a GlobalLimit/TakeOrderedAndProject below the window
                 bounds the input rows
  raw            no aggregate/limit between the window and a scan/join:
                 the window consumes row-scale input
  offsets        the known bucket-count-bounded offsets table of
                 operators/scalable_windows (matched by its __sw_bucket
                 / _sw_n / _sw_s0 / __sw_b0 / __sw_px columns) — the
                 audited scale pattern itself

Usage:
    python tools/window_audit.py [--json out.json] [only_op ...]
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# column-name fragments whose distinct-count is bounded (enumerations,
# calendar units, engine-chosen bucket/band counts) vs raw-scale ids
BOUNDED_FRAGMENTS = (
    "status", "flag", "priority", "mode", "segment", "brand", "container",
    "region", "nation", "role", "lang", "band", "bucket", "cell", "shard",
    "month", "year", "week", "day", "date", "hour", "minute", "quarter",
    "threshold", "decile", "quantile", "grp", "bin", "tier", "type",
    "route", "kind", "event", "split", "page", "state", "source", "level",
    "category", "window", "step", "iter", "round", "k", "lag", "q",
    "plane", "probe", "rank", "name", "label",
)
RAW_FRAGMENTS = (
    "custkey", "orderkey", "partkey", "suppkey", "doc_id", "conv_id",
    "vec_id", "query_id", "user", "session", "fingerprint", "id",
    "tok", "term", "word", "ts",
)


def classify_key(col: str) -> str:
    c = col.lower().split("#")[0]
    for f in RAW_FRAGMENTS:
        if f in c:
            return "raw"
    for f in BOUNDED_FRAGMENTS:
        if f in c:
            return "bounded"
    return "unknown"


def _tree_lines(plan_str: str) -> list[tuple[int, str]]:
    """(depth, text) per plan line; depth from the +-/:-/space prefix."""
    out = []
    for ln in plan_str.split("\n"):
        stripped = ln.lstrip(" +-:*()0123456789")
        m = re.search(r"[A-Za-z]", ln)
        if not m:
            continue
        depth = m.start()
        out.append((depth, ln[m.start():]))
    return out


def audit_plan(plan_str: str) -> list[dict]:
    """Find global-window nodes and classify each one's input subtree."""
    lines = _tree_lines(plan_str)
    findings = []
    for i, (d, txt) in enumerate(lines):
        if not txt.startswith("Window "):
            continue
        # subtree = following lines with depth > d, until depth <= d
        sub = []
        for j in range(i + 1, len(lines)):
            dj, tj = lines[j]
            if dj <= d:
                break
            sub.append((dj, tj))
        is_global = any("Exchange SinglePartition" in t for _, t in sub[:6])
        if not is_global:
            continue
        marker = ("__sw_bucket", "_sw_n", "_sw_s0", "__sw_b0", "__sw_px")
        near = [txt] + [t for _, t in sub[:6]]
        if any(m in t for m in marker for t in near):
            findings.append({"class": "offsets", "window": txt[:160], "evidence": "scalable_windows bucket-offsets table"})
            continue
        # walk down for the nearest bounding node
        cls, ev = "raw", ""
        for dj, tj in sub:
            if tj.startswith(("GlobalLimit", "TakeOrderedAndProject", "CollectLimit")):
                cls, ev = "limited", tj[:120]
                break
            m = re.match(r"(?:\*?\(?\d*\)?\s*)?(HashAggregate|ObjectHashAggregate|SortAggregate)\(keys=\[(.*?)\]", tj)
            if m:
                keys = [k.strip() for k in m.group(2).split(",") if k.strip()]
                if not keys:
                    cls, ev = "limited", "global aggregate (1 row)"
                    break
                kinds = {classify_key(k) for k in keys}
                if "raw" in kinds:
                    cls, ev = "raw-agg", tj[:140]
                elif kinds == {"bounded"}:
                    cls, ev = "bounded-agg", tj[:140]
                else:
                    cls, ev = "unknown-agg", tj[:140]
                break
            if tj.startswith(("FileScan", "Scan", "BatchScan")):
                cls, ev = "raw", tj[:120]
                break
        findings.append({"class": cls, "window": txt[:160], "evidence": ev})
    return findings


def main() -> int:
    args = [a for a in sys.argv[1:]]
    out_json = None
    if "--json" in args:
        k = args.index("--json")
        out_json = args[k + 1]
        del args[k : k + 2]
    only = set(args)

    from lnex_spark.session import get_spark
    import __spark_entry__ as E

    spark = get_spark(master="local[4]", shuffle_partitions=8)
    sf_dir = "/root/testdata/sf0.001"

    results: dict[str, list[dict]] = {}
    errors: dict[str, str] = {}
    qs = E.queries()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # planning itself may execute eager ops
            errors[name] = str(e)[:200]
            continue
        f = audit_plan(plan)
        if f:
            results[name] = f

    worst_rank = {"raw": 0, "raw-agg": 1, "unknown-agg": 2, "unknown": 2,
                  "bounded-agg": 3, "limited": 4, "offsets": 5}
    flat = []
    for name, fs in results.items():
        worst = min(fs, key=lambda x: worst_rank.get(x["class"], 2))
        flat.append((worst_rank.get(worst["class"], 2), name, worst))
    flat.sort()
    for _, name, worst in flat:
        print(f"{worst['class']:<12} {name:<40} {worst['evidence'][:90]}")
    print(f"\n{len(results)} ops with global windows; {len(errors)} planning errors")
    by_class: dict[str, int] = {}
    for _, _, w in flat:
        by_class[w["class"]] = by_class.get(w["class"], 0) + 1
    print("summary:", json.dumps(by_class))
    if errors:
        for n, e in list(errors.items())[:10]:
            print("ERR", n, e[:120])
    if out_json:
        Path(out_json).write_text(json.dumps(
            {"results": results, "errors": errors}, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
