"""Turn a finished run's operations, spans and Spark event log into the
metrics BENCHMARK.json names."""

from __future__ import annotations

import os
from collections import defaultdict
from statistics import mean

from perfbench.trace import EventLog, median, tail

# span name -> per-operation self-time metric
SELF_TIME = {
    "skew": "skew.s",
    "extract": "extract.s",
    "link": "link.s",
    "canon": "canon.s",
    "triples": "triples.s",
    "tableformat.write": "tableformat.write_s",
    "incremental.merge": "incremental.merge_s",
}
# span name -> per-call duration metric
PER_CALL = {
    "lineage.plan": "lineage.plan_s",
    "lineage.batch": "lineage.batch_s",
    "lineage.manifest_write": "lineage.manifest_write_s",
}
# counts each traced operation reports itself (see workloads.py)
COUNTS = (
    "skew.task_imbalance",
    "extract.turns_in", "extract.mentions_out", "extract.hit_ratio",
    "link.candidates", "link.winners",
    "canon.surface_forms",
    "triples.rows",
    "tableformat.bytes_written", "tableformat.files_written",
    "incremental.vote_rows", "incremental.rewrite_ratio",
)


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _unit(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("_ratio", "_frac", "imbalance")):
        return "ratio"
    return "count"


def end_to_end_metrics(bench, ops, setup_s: float, attempted: int, failed: int) -> dict:
    times = [op.seconds for op in ops]
    checked = [op for op in ops if op.checked]
    tail_s, pct, n = tail(times)
    print(f"{bench.args.workload} seed={bench.args.seed}: {n} operations; wall p50 {median(times):.3f} s, "
          f"tail p{pct:.0f} {tail_s:.3f} s; setup {setup_s:.2f} s; per operation: "
          f"wall {' '.join(f'{t:.2f}' for t in times)} s, "
          f"cpu {' '.join(f'{op.cpu_s:.2f}' for op in ops)} s, "
          f"stolen {' '.join(f'{op.stolen_s:.2f}' for op in ops)} s")
    return {
        "setup_s": _metric(setup_s, "s"),
        "turns_per_cpu_s": _metric(sum(op.turns for op in ops) / sum(op.cpu_s for op in ops), "turns/cpu-s"),
        "peak_rss_mb": _metric(bench.rss.mb(), "MB"),
        "triple_precision": _metric(min(op.precision for op in checked), "ratio"),
        "triple_recall": _metric(min(op.recall for op in checked), "ratio"),
        "ok_frac": _metric(1 - failed / attempted, "ratio"),
    }


def layer_metrics(bench, traced, bc_bytes: int) -> dict:
    tr = bench.tracer
    ev = EventLog(f"{bench.work}/events")
    spans = tr.live()
    self_time = tr.self_times()
    named = defaultdict(list)
    for s in spans:
        named[s["name"]].append(s)
    # warm-up operations run inside the set-up's "warm" span; keep them out
    untraced = [s for s in named["op.untraced"] if s["parent"] is None]

    # metric -> one value per traced operation that exercised the layer
    per_op = defaultdict(list)
    per_op_layers, per_op_root = [], []  # "op" roots: self time inside layer spans / of the root
    for root in named["op"] + named["resume"]:
        ids = tr.descendants(root["id"])
        inside = [s for s in spans if s["id"] in ids and s is not root]
        if root["name"] == "op":
            per_op_layers.append(sum(self_time[s["id"]] for s in inside))
            per_op_root.append(self_time[root["id"]])
        sums = defaultdict(float)
        for s in inside:
            if s["name"] in SELF_TIME:
                sums[SELF_TIME[s["name"]]] += self_time[s["id"]]
        for metric, value in sums.items():
            per_op[metric].append(value)
        for name in ("skew", "link"):
            ids = {s["id"] for s in inside if s["name"] == name}
            if ids:
                per_op[f"{name}.shuffle_bytes"].append(ev.totals(ids).get("shuffle_bytes", 0))
        extract = [s for s in inside if s["name"] == "extract"]
        if extract:
            wall = sum(s["end"] - s["start"] for s in extract)
            busy = ev.totals({s["id"] for s in extract}).get("run_s", 0)
            per_op["extract.busy_frac"].append(busy / (wall * bench.cores))
        batches = sum(s["name"] == "lineage.batch" for s in inside)
        if batches:
            per_op["lineage.batches"].append(batches)
    for op in traced:
        for name in COUNTS:
            if name in op.counts:
                per_op[name].append(op.counts[name])

    metrics = {
        "op.wall_s": _metric(median([s["end"] - s["start"] for s in untraced]), "s"),
        "session.start_s": _metric(named["session"][0]["end"] - named["session"][0]["start"], "s"),
        "gazetteer.build_s": _metric(named["gazetteer"][0]["end"] - named["gazetteer"][0]["start"], "s"),
        "gazetteer.variants": _metric(bench.n_variants, "count"),
        "gazetteer.bc_bytes": _metric(bc_bytes, "bytes"),
    }
    for name in (*SELF_TIME.values(), *COUNTS, "skew.shuffle_bytes", "link.shuffle_bytes",
                 "extract.busy_frac", "lineage.batches"):
        metrics[name] = _metric(median(per_op[name]), _unit(name))
    for name, metric in PER_CALL.items():
        metrics[metric] = _metric(median([s["end"] - s["start"] for s in named[name]]), "s")

    spark = ev.totals({s["id"] for s in untraced})
    n = len(untraced)
    metrics["spark.jobs_per_op"] = _metric(spark.get("jobs", 0) / n, "count")
    metrics["spark.gc_s"] = _metric(spark.get("gc_s", 0) / n, "s")
    metrics["spark.spill_bytes"] = _metric(spark.get("spill_bytes", 0) / n, "bytes")

    # per traced operation, layer self times + the root's own self time
    # sum to its wall time exactly, so the accounting uses means
    untraced_s = mean([s["end"] - s["start"] for s in untraced])
    traced_s = mean([s["end"] - s["start"] for s in named["op"]])
    overhead = traced_s - untraced_s
    layers_s, unattributed_s = mean(per_op_layers), mean(per_op_root)
    print(f"{bench.args.workload} seed={bench.args.seed}: mean untraced op {untraced_s:.3f} s "
          f"(n={len(untraced)}), mean traced op {traced_s:.3f} s (n={len(per_op_layers)}), "
          f"tracing overhead {overhead:+.3f} s ({overhead / untraced_s:+.1%}); "
          f"layer self times {layers_s:.3f} s + unattributed {unattributed_s:.3f} s "
          f"- overhead = {layers_s + unattributed_s - overhead:.3f} s vs untraced {untraced_s:.3f} s")

    os.makedirs(bench.out_dir, exist_ok=True)
    tr.dump(
        os.path.join(bench.out_dir, f"trace-{bench.args.workload}-seed{bench.args.seed}.json"),
        {"self_time_s": {str(k): v for k, v in self_time.items()},
         "untraced_op_s": untraced_s, "traced_op_s": traced_s,
         "tracing_overhead_s": overhead, "metrics": metrics},
    )
    return metrics
