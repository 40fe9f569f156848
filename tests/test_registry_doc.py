"""Registry gates, none of which starts Spark.

* REGISTRY.md freshness: the generated operator index must match the
  registry exactly — op set, module:line locations, oracle kinds, and
  the rounds that checked each op.  Regenerate with ``python tools/gen_registry.py``
  after adding/moving an op.
* The registry holds every SURVEY.md §2A op with its SQL twin, and
  every ``lnex_spark`` module is reachable from the KG roots, a
  registry module or a test, so an orphan module fails here.  In a
  fresh process the §2A ops are the first keys of ``queries()``.
"""

from __future__ import annotations

import ast
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))


def test_registry_md_is_fresh():
    import gen_registry

    expected = gen_registry.build_markdown()
    target = ROOT / "REGISTRY.md"
    assert target.exists(), "REGISTRY.md missing — run python tools/gen_registry.py"
    assert target.read_text() == expected, (
        "REGISTRY.md is stale — run python tools/gen_registry.py"
    )


def test_registry_md_covers_every_op():
    import gen_registry

    from lnex_spark.oracles import spark_queries

    locs = gen_registry.op_locations()
    missing = [k for k in spark_queries() if k not in locs]
    assert missing == [], f"ops with no @register location found: {missing[:10]}"


KG_OPS = frozenset(
    """
    g1_gaz_scan g2_name_normalize g3_altname_explode g4_skipgram_augment
    g5_gaz_filter g6_unigram_lm g7_match_struct t1_turn_order t2_preprocess
    t3_hashtag_segment t3_hashtag_segment_sql m1_ngram_match m1_ngram_match_sql
    m1_relational_sql m2_overlap_resolve m3_offset_align l1_entity_link
    l2_link_score l3_canonicalize k1_triple_emit k2_graph_write x1_geo_math
    x2_skew_salt x3_checkpoint_lineage e1_eval_pr kg_e2e_sql
    kg_e2e_relational_sql compat_extract_sets flagship_kg_triples
    """.split()
)

# The KG build paths plus the library surface that no engine module
# imports: the session factory (jobs, benchmark), the Photon gazetteer
# adapter, gold P/R scoring and incremental maintenance (with the
# reference vote chain).
KG_ROOTS = [
    "pipeline",
    "compat",
    "streaming.stream",
    "sources.tableformat",
    "data.derive",
    "session",
    "gazetteer.photon",
    "operators.evaluate",
    "operators.incremental",
]


def _module_map() -> dict[str, Path]:
    out = {}
    for p in (ROOT / "lnex_spark").rglob("*.py"):
        parts = list(p.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        out[".".join(parts)] = p
    return out


def _imports(path: Path, mods: dict[str, Path]) -> set[str]:
    """Every lnex_spark module ``path`` imports, at module level or
    inside functions."""
    out = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            out.add(node.module)
            out.update(f"{node.module}.{a.name}" for a in node.names)
    return out & mods.keys()


def test_registry_is_the_kg_set():
    """The §2A ops are all registered, every SQL twin has a Spark side,
    every registry module on disk is loaded, and every ``lnex_spark``
    module is reached from a KG root, a registry module or a test — so
    a module that nothing runs or checks fails here."""
    sys.path.insert(0, str(ROOT))
    import __spark_entry__ as E
    from lnex_spark.oracles import MODULES

    queries = set(E.queries())
    assert KG_OPS <= queries
    assert set(E.oracle_sql()) <= queries

    mods = _module_map()
    registry = {m for m in mods if m.startswith("lnex_spark.oracle_defs")}
    assert registry == {f"lnex_spark.{m}" for m in MODULES}

    tested: set[str] = set()
    for p in (ROOT / "tests").glob("*.py"):
        tested |= _imports(p, mods)
    stack = [f"lnex_spark.{r}" for r in KG_ROOTS] + sorted(registry | tested)
    seen: set[str] = set()
    while stack:
        m = stack.pop()
        if m in seen:
            continue
        seen.add(m)
        parts = m.split(".")  # importing a module runs its packages' __init__
        stack.extend(".".join(parts[:i]) for i in range(1, len(parts)))
        stack.extend(_imports(mods[m], mods))
    assert sorted(mods.keys() - seen) == []


def test_kg_ops_lead_a_fresh_registry():
    """In a fresh process the first queries() keys are the §2A ops, so
    a sample of the first 50 keys holds every one of them.  A
    subprocess, because registration order in this one depends on which
    registry modules earlier tests imported."""
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import __spark_entry__ as E; print(' '.join(list(E.queries())[:50]))",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    assert set(out[: len(KG_OPS)]) == KG_OPS
