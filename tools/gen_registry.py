"""Generate REGISTRY.md — the grep-able index of every queries() op:
op name → defining module:line → oracle kind → driver-check history.

The oracle_defs modules that oracles._load_all_defs imports register
ops via side effect; this table is the map from op name to its
decorator (VERDICT r04 item 8).
tests/test_registry_doc.py fails when it drifts from the code.

Usage:  python tools/gen_registry.py [--check]
  --check: exit 1 if REGISTRY.md is stale instead of rewriting it.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def op_locations() -> dict[str, str]:
    """op name -> 'module.py:line' of its @register decorator (the name
    may sit on a later line than the opening paren — multi-line
    decorators are common in the registry)."""
    out: dict[str, str] = {}
    pkg = ROOT / "lnex_spark"
    pat = re.compile(r'@register\(\s*[\'"]([\w]+)[\'"]', re.DOTALL)
    for p in sorted(pkg.glob("*.py")):
        text = p.read_text()
        for m in pat.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            out[m.group(1)] = f"lnex_spark/{p.name}:{line}"
    return out


def driver_history() -> dict[str, list[int]]:
    """op name -> rounds in which the driver hash/rows-checked it."""
    hist: dict[str, list[int]] = {}
    for f in sorted(ROOT.glob("CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", f.name).group(1))
        for name in json.loads(f.read_text()):
            hist.setdefault(name, []).append(rnd)
    return hist


def build_markdown() -> str:
    from lnex_spark.oracles import duckdb_sql, spark_queries

    qs = spark_queries()
    sql = duckdb_sql()
    locs = op_locations()
    hist = driver_history()

    # row order depends only on the source tree: module file, then line
    def sort_key(name: str):
        mod, _, line = locs.get(name, "~:0").partition(":")
        return (mod, int(line or 0), name)

    lines = [
        "# REGISTRY — operator index (generated by tools/gen_registry.py; do not edit)",
        "",
        f"{len(qs)} queries() ops; {len(sql)} carry a DuckDB value-hash oracle,",
        f"{len(qs) - len(sql)} are rows-only by design.  'rounds checked' lists the",
        "rounds whose CORRECTNESS_r*.json checked the op.",
        "",
        "| op | where | oracle | rounds checked |",
        "|---|---|---|---|",
    ]
    for name in sorted(qs, key=sort_key):
        kind = "sql-hash" if name in sql else "rows-only"
        rounds = ",".join(f"r{r}" for r in hist.get(name, [])) or "—"
        lines.append(f"| {name} | {locs.get(name, '?')} | {kind} | {rounds} |")
    lines.append("")
    return "\n".join(lines)


def main() -> int:
    md = build_markdown()
    target = ROOT / "REGISTRY.md"
    if "--check" in sys.argv:
        if not target.exists() or target.read_text() != md:
            print("REGISTRY.md is stale — run: python tools/gen_registry.py")
            return 1
        print("REGISTRY.md up to date")
        return 0
    target.write_text(md)
    print(f"wrote {target} ({len(md.splitlines())} lines)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
