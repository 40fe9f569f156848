"""Global-window audit as a regression gate (VERDICT r04 wart 2).

BENCH.md's round-4 audit table classified every registry op's global
windows (0 raw / 0 raw-agg after the scalable_windows conversion); the
table alone cannot stop a future edit from silently reintroducing an
unpartitioned window over row-scale input.  This test re-runs
tools/window_audit.py's plan walk over ALL registry ops and fails on
any raw / raw-agg finding.

It also asserts that every op still plans: an op that stops planning
drops out of the audit's coverage.

Planning all 83 ops takes ~41 s on 4 vCPU, so it runs in tier-1.
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

from tests.test_registry_doc import KG_OPS

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))

# ops allowed to fail planning on the sf0.001 inputs (none today)
PLANNING_ERRORS_ALLOWED: frozenset[str] = frozenset()


def _load_audit():
    spec = importlib.util.spec_from_file_location(
        "window_audit", ROOT / "tools" / "window_audit.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_no_new_raw_scale_global_windows(spark):
    audit = _load_audit()
    sys.path.insert(0, str(ROOT))
    import __spark_entry__ as E

    sf_dir = "/root/testdata/sf0.001"
    offenders: dict[str, list[str]] = {}
    errors: dict[str, str] = {}
    for name, fn in E.queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # planning may execute eager splitter collects
            errors[name] = str(e)[:200]
            continue
        for f in audit.audit_plan(plan):
            if f["class"] in ("raw", "raw-agg"):
                offenders.setdefault(name, []).append(f"{f['class']}: {f['evidence'][:100]}")

    assert not offenders, (
        "new raw-scale global windows (unpartitioned window over "
        f"row-proportional input): {offenders}"
    )
    # the audit must actually have seen the registry (catch silent
    # registry-load failures masquerading as a clean audit)
    import gen_registry

    assert KG_OPS <= set(E.queries()) == set(gen_registry.op_locations())
    # an op that fails planning is silently skipped by the audit
    assert errors.keys() <= PLANNING_ERRORS_ALLOWED, errors
