"""Where a build's CPU goes, by process and by JVM thread.

Runs N operations back to back in one ``get_spark`` session over
seeded perfbench inputs and prints, per operation, the CPU-s of:

* ``driver_py`` — this Python process (plans, Py4J, collect);
* ``workers``   — the pyspark daemon and its Python workers;
* ``jvm``       — the driver JVM, split by thread name (from
  ``/proc/<jvm>/task/*/{comm,stat}``) into ``jit`` (C1/C2 compiler
  threads), ``gc`` (GC and G1 threads), ``tasks`` (``Executor task
  launch`` threads) and ``jvm_rest`` (planning, Py4J, shuffle, netty,
  and any thread that was born and died between two samples).

Two operation shapes:

* ``batch``       — ``extract_link`` + ``mention_triples`` over one
  ``--turns``-turn input, collected (``--count`` counts instead), as
  perfbench's kg_batch does;
* ``incremental`` — perfbench's kg_incremental batch itself
  (``KgIncremental._batch`` over its own generated 1000-turn batches),
  one stream of ``--ops`` batches from empty state: extract, link,
  append the winners, merge the votes, re-canonicalize and commit a
  snapshot.

Reads ``/proc`` only. The session is ``get_spark``'s, with perfbench's
1 GB driver heap; ``--driver-java-options`` replaces its default
driver JVM flags (``spark.driver.defaultJavaOptions``), e.g.
``--driver-java-options=-XX:TieredStopAtLevel=4`` for tiered C2.

Usage:
    python tools/jvm_cpu_split.py batch --ops 12 [--turns 30000] [--seed 41]
    python tools/jvm_cpu_split.py incremental --ops 60
    python tools/jvm_cpu_split.py batch --ops 3 --turns 1000000 --count

Prints one row per operation, then the median of each column over
operations ``--from``..end (1-based).
"""

from __future__ import annotations

import argparse
import os
import random
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

COLS = ("wall_s", "total", "driver_py", "workers", "jvm", "jit", "gc", "tasks", "jvm_rest")
CHUNK_TURNS = 100_000  # rows generated and written per parquet file


def _stat(path: str) -> tuple[int, int] | None:
    """(utime + stime ticks, start time) of a process or thread."""
    try:
        with open(path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None  # exited since it was listed
    return int(fields[11]) + int(fields[12]), int(fields[19])


def _thread_part(comm: str) -> str | None:
    if comm.startswith(("C1 Compiler", "C2 Compiler")):
        return "jit"
    if comm.startswith(("GC Thread", "G1 ")):
        return "gc"
    if comm.startswith("Executor task"):
        return "tasks"
    return None


class CpuSplit:
    """Cumulative CPU-s per part. A process or thread that has exited
    keeps the ticks it was last seen with, so a retired worker does not
    take its time out of the total; the JVM's process total counts its
    dead threads too, and ``jvm_rest`` is what the named threads leave."""

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid
        self._ticks: dict[tuple[str, int, int], int] = {}

    def sample(self) -> dict[str, float]:
        from perfbench.trace import descendant_pids

        me = os.getpid()
        for pid in [me, *descendant_pids()]:
            s = _stat(f"/proc/{pid}/stat")
            if s is not None:
                part = "driver_py" if pid == me else "jvm" if pid == self.jvm else "workers"
                self._ticks[(part, pid, s[1])] = s[0]
        for tid in os.listdir(f"/proc/{self.jvm}/task"):
            try:
                with open(f"/proc/{self.jvm}/task/{tid}/comm") as f:
                    part = _thread_part(f.read())
            except OSError:
                continue
            s = _stat(f"/proc/{self.jvm}/task/{tid}/stat") if part else None
            if s is not None:
                self._ticks[(part, int(tid), s[1])] = s[0]
        tck = os.sysconf("SC_CLK_TCK")
        out = dict.fromkeys(COLS[1:], 0.0)
        for (part, _, _), ticks in self._ticks.items():
            out[part] += ticks / tck
        out["jvm_rest"] = out["jvm"] - out["jit"] - out["gc"] - out["tasks"]
        out["total"] = out["driver_py"] + out["workers"] + out["jvm"]
        return out


def write_turns(path: str, rng: random.Random, gaz_rows: list, turns: int) -> None:
    """``turns`` perfbench-generated turns (perfbench.inputs, 400
    conversations, hot conversation share 0.15-0.25) as parquet. Rows
    are made ``CHUNK_TURNS`` at a time; every chunk gets its own conv_id
    suffix, so (conv_id, turn_idx) stays unique."""
    from perfbench import inputs as IN

    os.makedirs(path)
    for c, lo in enumerate(range(0, turns, CHUNK_TURNS)):
        rows = IN.gen_rows(rng, gaz_rows, min(CHUNK_TURNS, turns - lo), 400, hot_share=rng.uniform(0.15, 0.25))
        for r in rows:
            r["conv_id"] += f"-{c}"
        IN.write_parquet(rows, f"{path}/part{c:04d}.parquet")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("shape", choices=["batch", "incremental"])
    p.add_argument("--ops", type=int, default=10)
    p.add_argument("--turns", type=int, default=30_000, help="batch: turns per build")
    p.add_argument("--seed", type=int, default=41)
    p.add_argument("--cores", type=int, default=os.cpu_count() or 1)
    p.add_argument("--count", action="store_true", help="batch: count the triples, do not collect them")
    p.add_argument("--from", dest="first", type=int, default=4, help="first operation in the median")
    p.add_argument("--driver-java-options", help="spark.driver.defaultJavaOptions instead of the session's")
    args = p.parse_args(argv)
    batch = args.shape == "batch"

    from lnex_spark.data import fixtures as FX
    from lnex_spark.gazetteer.build import GAZETTEER_SCHEMA
    from lnex_spark.operators.triples import mention_triples
    from lnex_spark.pipeline import build_gazetteer, extract_link
    from lnex_spark.session import get_spark
    from perfbench import inputs as IN
    from perfbench.trace import CpuMeter, PeakRss, Tracer
    from perfbench.workloads import Ctx, KgIncremental, _dropping_persisted

    # inherited by the gateway JVM and, through it, by the Python workers
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    with tempfile.TemporaryDirectory(prefix="jvm_cpu_split-") as work:
        # perfbench's session, gazetteer and turns
        rng, gaz_rows = random.Random(args.seed), FX.gen_gazetteer(IN.EVENT)
        inc = KgIncremental()
        if batch:
            write_turns(f"{work}/turns", rng, gaz_rows, args.turns)
        else:  # seconds that give exactly --ops batches
            inc.generate(rng, gaz_rows, work, args.ops / inc.BATCHES_PER_SECOND)
        conf = {"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"}
        if args.driver_java_options is not None:
            conf["spark.driver.defaultJavaOptions"] = args.driver_java_options
        spark = get_spark(master=f"local[{args.cores}]", app_name="jvm_cpu_split",
                          shuffle_partitions=args.cores, extra_conf=conf)
        jvm = spark.sparkContext._jvm
        flags = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
        print("driver JVM flags:", " ".join(str(a) for a in flags if str(a).startswith("-XX")))
        gaz = spark.createDataFrame(gaz_rows, GAZETTEER_SCHEMA)
        stop = spark.createDataFrame([(w,) for w in FX.gen_stopwords()], "word string")
        wordlist = spark.createDataFrame(FX.gen_wordlist(), "word string, freq long")
        model = build_gazetteer(spark, gaz, stop, wordlist)
        ctx = Ctx(spark, model, gaz, args.cores, Tracer(), PeakRss(), CpuMeter())
        split = CpuSplit(spark.sparkContext._gateway.proc.pid)
        votes, state = None, f"{work}/state"

        def op(k: int) -> None:
            nonlocal votes
            with _dropping_persisted():
                if not batch:
                    votes, _ = inc._batch(ctx, k, votes, state)
                    return
                triples = mention_triples(extract_link(spark.read.parquet(f"{work}/turns"), model, args.cores))
                if args.count:
                    triples.count()
                else:
                    triples.collect()

        turns = args.turns if batch else inc.BATCH_TURNS
        print(f"{args.shape}, {turns} turns per op, local[{args.cores}], seed {args.seed}; CPU-s per op")
        print("op " + " ".join(f"{c:>9}" for c in COLS))
        rows = []
        for k in range(args.ops):
            before, t0 = split.sample(), time.monotonic()
            op(k)
            wall, after = time.monotonic() - t0, split.sample()
            rows.append({"wall_s": wall, **{c: after[c] - before[c] for c in COLS[1:]}})
            print(f"{k + 1:>2} " + " ".join(f"{rows[-1][c]:>9.2f}" for c in COLS), flush=True)
        tail = rows[args.first - 1:] or rows
        med = {c: statistics.median(r[c] for r in tail) for c in COLS}
        print(f"median of ops {len(rows) - len(tail) + 1}-{len(rows)}")
        print("md " + " ".join(f"{med[c]:>9.2f}" for c in COLS))
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
