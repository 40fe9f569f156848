"""KG-construction benchmark for lnex_spark.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. One process: generate the workload's
inputs from the seed (untimed), set up (Spark session, gazetteer
build, warm-up), run a number of operations sized from ``--seconds``,
check every output
against the gold annotator, and print one JSON object as the last line
of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` sizes its
untraced operations from half the time and its traced ones (spans
around each layer's public call, Spark's event log on) from the other
half, and reports per-layer metrics; the spans go to
``perfbench/_out/``. See perfbench/README.md
for every metric's definition.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import random
import shutil
import signal
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HARD_LIMIT_S = 170  # the run must end within 180 s, whatever happens
DRIVER_MEMORY = "1g"


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["kg_batch", "kg_incremental"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _timeout(signum, frame):
    raise TimeoutError(f"benchmark exceeded {HARD_LIMIT_S} s")


def _stop_spark() -> None:
    """Stop the session and the gateway JVM and wait until every child
    process (JVM, pyspark daemon and workers) has exited."""
    from pyspark import SparkContext

    from perfbench.trace import descendant_pids

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            proc.wait(timeout=30)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 10
    while descendant_pids() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendant_pids():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass  # exited since it was listed


class Bench:
    """One benchmark run: inputs, set-up, measured operations, metrics."""

    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.out_dir = ROOT / "perfbench" / "_out"
        self.cores = os.cpu_count() or 1

    def setup(self):
        """Session, gazetteer model (variants materialized, match
        structure broadcast) and the workload's warm-up operations, which
        also start the Python workers."""
        from lnex_spark.data import fixtures as FX
        from lnex_spark.gazetteer.build import GAZETTEER_SCHEMA
        from lnex_spark.pipeline import build_gazetteer
        from lnex_spark.session import get_spark

        from perfbench.trace import CpuMeter
        from perfbench.workloads import Ctx

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            os.makedirs(self.work / "events")
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.work}/events",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        tr = self.tracer
        with tr.span("session"):
            spark = get_spark(master=f"local[{self.cores}]", app_name="perfbench",
                              shuffle_partitions=self.cores, extra_conf=conf)
        if self.args.trace:
            tr.attach(spark.sparkContext)
        with tr.span("gazetteer"):
            gaz_df = spark.createDataFrame(self.gaz_rows, GAZETTEER_SCHEMA)
            stop = spark.createDataFrame([(w,) for w in FX.gen_stopwords()], "word string")
            wordlist = spark.createDataFrame(FX.gen_wordlist(), "word string, freq long")
            model = build_gazetteer(spark, gaz_df, stop, wordlist)
            self.n_variants = model.variants.count()
        ctx = Ctx(spark, model, gaz_df, self.cores, tr, self.rss, CpuMeter())
        with tr.span("warm"):
            if not self.workload.warm(ctx):
                raise RuntimeError("warm-up operation failed its output check")
        return ctx

    def run(self) -> dict:
        from lnex_spark.data import fixtures as FX

        from perfbench.trace import PeakRss, Tracer
        from perfbench.workloads import WORKLOADS

        args = self.args
        t_gen = time.monotonic()
        self.gaz_rows = FX.gen_gazetteer("chennai")
        self.workload = WORKLOADS[args.workload]()
        self.workload.generate(random.Random(args.seed), self.gaz_rows, str(self.work), args.seconds)
        gen_s = time.monotonic() - t_gen

        self.tracer, self.rss = Tracer(), PeakRss()
        ctx = self.setup()
        setup_s = process_age_s() - gen_s
        self.rss.sample()

        if args.trace:
            untraced = self.workload.run(ctx, traced=False, seconds=args.seconds / 2)
            traced = self.workload.run(ctx, traced=True, seconds=args.seconds / 2)
            ops = untraced + traced
        else:
            ops = self.workload.run(ctx, traced=False, seconds=args.seconds)
        self.rss.sample()
        bc_bytes = len(pickle.dumps(ctx.model.bc_struct.value, protocol=pickle.HIGHEST_PROTOCOL))
        _stop_spark()

        attempted = len(ops)
        failed = sum(not op.ok for op in ops)
        if args.trace:
            from perfbench.report import layer_metrics

            metrics = layer_metrics(self, traced, bc_bytes)
        else:
            from perfbench.report import end_to_end_metrics

            metrics = end_to_end_metrics(self, ops, setup_s, attempted, failed)
        return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import lnex_spark.pipeline  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: cannot import lnex_spark from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = ROOT / "perfbench" / "_work" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    os.makedirs(work / "tmp")
    # inherited by the gateway JVM and, through it, by pyspark workers
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(HARD_LIMIT_S)
    try:
        result = Bench(args, work).run()
    finally:
        signal.alarm(0)
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
