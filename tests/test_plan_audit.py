"""Physical-plan audit as a regression gate.

tools/explain_audit.py greps the formatted plans of the engine's key
operators for the shapes we require at scale (a join-free flagship,
pushdown, codegen fusion, no-Python minhash, broadcast-anti triple
merge, ...); the closing gates run it by hand each round.  This test
runs the same audit in a subprocess and asserts zero want/forbid
failures, so a plan-shape regression (a lost broadcast, a reintroduced
self-join, a Python island reappearing in a relational pipeline) fails
CI instead of only the next manual audit.

Boots a second Spark JVM and plans 14 operators (~25 s on 4 vCPU). It
is the only tier-1 check of the KG plan shapes (the join-free flagship,
the reference chain's broadcast join, the relational matcher), so it
runs on every suite run.
"""

from __future__ import annotations

import re
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_plan_audit_has_zero_failures():
    out = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "explain_audit.py")],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=str(ROOT),
    )
    assert out.returncode == 0, out.stdout[-3000:] + out.stderr[-3000:]
    m = re.search(r"^(\d+) plan-check failures$", out.stdout, re.M)
    assert m, "audit summary line missing:\n" + out.stdout[-3000:]
    failed = [
        ln
        for ln in out.stdout.splitlines()
        if ln.endswith("MISSING") or ln.endswith("VIOLATED")
    ]
    assert m.group(1) == "0", "plan-shape regressions:\n" + "\n".join(failed)
