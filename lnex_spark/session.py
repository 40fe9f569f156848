"""SparkSession factory with scale-oriented defaults.

Centralizes the conf so tests, the benchmark and spark-submit jobs agree.
Tuned for the Arrow-UDF-heavy extraction stage: AQE on (post-shuffle
coalescing + skew-join splitting), Arrow batches sized so the Python
matcher amortizes broadcast-dict access across ~10k rows per batch.

Decision record: a driver JVM that ``get_spark`` starts itself (a
local master, no launcher) compiles with C1 only
(``-XX:TieredStopAtLevel=1``). A build or an incremental batch is a
few short Spark jobs, so Spark's planning, AQE and scheduling code is
warm but never hot. Under tiered compilation it keeps crossing the C2
thresholds one method at a time: the compiler threads spent 2.1-2.5
CPU-s per incremental batch over batches 4-10, and still 0.3 per
30k-turn build over builds 16-30. C1 compiles that code cheaply; the
price is slower compiled code wherever a job's data keeps its code hot.
Measured with ``tools/jvm_cpu_split.py`` (local[4], 4 vCPU, 1 GB driver
heap; CPU-s per operation, tiered ``TieredStopAtLevel=4`` -> C1, as the
range over sessions; one session per setting and seed):

  ===========================  ============  ==========================
  operation (sessions/side)    operations    CPU-s, tiered -> C1
  ===========================  ============  ==========================
  incremental batch: one       1st           16.6-19.9 -> 8.8-11.6
  stream from empty state,     median 4-10   3.7-4.6 -> 2.0-2.5
  perfbench's 1000-turn batch  median 11-20  2.8-3.3 -> 2.2-2.4
  (3; seeds 41-43)             median 21-30  2.5-2.7 -> 2.3-2.8
                               median 41-60  2.4 -> 2.9-3.4
                               sum 1-60      179-197 -> 160-186
  same, 120 batches (1)        median 91-120 2.54 -> 4.37
                               sum 1-120     342 -> 431
  30k-turn build, collect (2)  1st           13.1-13.4 -> 8.4-9.4
                               median 16-30  2.1-2.2 -> 2.2
                               sum 1-30      80-81 -> 73-75
  same, builds 4-7 (5)         median 4-7    2.5-3.0 -> 2.3-2.6
  300k-turn build, collect (1) 1st           29.8 -> 24.4
                               median 3-6    14.0 -> 19.4
  1M-turn build, count (1)     1st           46.4 -> 44.8
                               median 2-3    36.8 -> 35.1
  ===========================  ============  ==========================

The saving is in the compiler threads (incremental batches 4-10:
2.1-2.5 -> 0.3 CPU-s). The cost is in the executor task threads, and
it grows with the data a job touches: in an incremental stream every
batch re-reads all the winners so far, and the task threads' CPU per
batch went 0.6-0.7 -> 0.9 at batches 11-20 and 1.4 -> 2.8 at batches
91-120; at 300k turns, builds 3-6, 2.2 -> 5.0 (GC 1.2 -> 2.3). At 1M
turns the driver JVM's share of a warm build rose 11.3 -> 15.6 CPU-s,
and the workers' CPU differed more than that between the two sessions.
So C1 wins a process's first operations and loses once the
per-operation data is large or the state has grown. The per-operation
curves cross near incremental batch 20-40, 30k-turn build 8-16 and
the 3rd 300k-turn build; the sums still favour C1 at 30 builds and 60
batches (one of three streams level by then) and favour tiered at 120
batches (+26%). Warm wall time is higher under C1 from the first few
operations on (incremental batches 11-20 1.20-1.29 -> 1.40-1.43 s,
91-120 1.39 -> 2.38 s; 30k-turn builds 16-30 0.85-0.89 -> 1.03 s),
because tiered compiles on otherwise idle cores.

Which side a local process is on: perfbench's two workloads (2-3 warm
operations, then 4-7 measured) are on the C1 side; ``turns_per_cpu_s``
rose 253 -> 417 on kg_incremental and 9531 -> 11860 on kg_batch
(medians of 12 and 10 interleaved pairs, every pair higher). So was
a one-pass local run of the training-data curation job, since deleted
with its library: 34.5-37.4 -> 18.6-21.2 CPU-s for the whole process
at sf0.01 and 36.0-42.0 -> 19.8-23.0 at sf0.1, wall level (3 runs
each). The tier-1 test suite is not: its ~280
tests share one session, and the planning-heavy ones (the window audit
plans every op) keep Spark's code hot; one run each took 513 -> 612 s
wall and 1250 -> 1303 CPU-s, the window audit 45 -> 68 s, so its
shared session (``tests/conftest.py``) passes the tiered override
below. A long-lived local streaming session past a few dozen batches,
or one that repeats builds of 300k+ turns, is on the tiered side.
``get_spark`` cannot see how long a session will live, and the JIT
mode is fixed when the JVM starts, so the caller chooses: such a
session should pass
``extra_conf={"spark.driver.defaultJavaOptions": "-XX:TieredStopAtLevel=4"}``
(``extra_conf`` overrides every default) or launch with
``spark-submit``. Where it does not apply: a JVM a launcher started
(``spark-submit``, a cluster manager) and executors on a cluster keep
the JVM's default. In this branch ``get_spark`` sets
``spark.driver.defaultJavaOptions`` with ``--conf`` precedence, so a
value from ``spark-defaults.conf`` (an administrator's proxy, security
or stack flags) is replaced, not extended; to keep it, pass it in
``extra_conf`` together with the JIT flag.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# One knob for every entrypoint. On a real cluster most of these are
# inherited from spark-defaults; locally they make local[N] behave like
# a small cluster (shuffle partitions ~ cores, AQE coalesces remainder).
_BASE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # default 64m advisory lets AQE coalesce the (small) post-extraction
    # shuffles into 1-2 partitions — a serial tail that wastes the rest
    # of the cluster; 8m keeps mid-size stages parallel while still
    # collapsing truly tiny ones
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.ui.enabled": "false",
    # Python Data Source API: let sources/synth.py prune generation
    # from pushed conv_id/turn_idx predicates
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


_MAX_DRIVER_MB = 24 * 1024


def _default_driver_memory() -> str:
    """Local-mode driver heap: half of physical RAM, capped at 24g. In
    local mode the driver JVM hosts every executor task, and the Python
    workers and the OS need the other half."""
    physical_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    return f"{min(physical_mb // 2, _MAX_DRIVER_MB)}m"


# C1 only for a driver JVM this process starts (module docstring).
# defaultJavaOptions, not extraJavaOptions: Spark puts it in front of a
# caller's extraJavaOptions, so both apply.
_LOCAL_DRIVER_JIT = "-XX:TieredStopAtLevel=1"

# Spark's own local master grammars (SparkContext.createTaskScheduler):
# local, local[N|*], local[N|*,F] (F = task failures), local-cluster[W,C,M]
_LOCAL_RE = re.compile(r"local(?:\[\s*([0-9]+|\*)\s*(?:,\s*[0-9]+\s*)?\])?")
_LOCAL_CLUSTER_RE = re.compile(r"local-cluster\[\s*([0-9]+)\s*,\s*([0-9]+)\s*,\s*[0-9]+\s*\]")


def _master_parallelism(master: str) -> int | None:
    """Task slots of a local master: N for ``local[N]`` and
    ``local[N,F]``, the host's cores for ``*``, 1 for bare ``local``,
    workers x cores for ``local-cluster[W,C,M]``; None for any other
    master, whose size the driver cannot read from the URL."""
    m = _LOCAL_RE.fullmatch(master)
    if m:
        n = m.group(1) or "1"
        return (os.cpu_count() or 1) if n == "*" else int(n)
    m = _LOCAL_CLUSTER_RE.fullmatch(master)
    if m:
        return int(m.group(1)) * int(m.group(2))
    return None


def _launcher_conf():
    """The spark.* properties a launcher already set (``spark-submit
    --master/--conf``, or the JVM of a session this process started);
    empty when no JVM is up yet."""
    from pyspark import SparkConf, SparkContext

    if SparkContext._jvm is None and "PYSPARK_GATEWAY_PORT" in os.environ:
        # under spark-submit the driver JVM is already up: attach to it so
        # SparkConf() loads the launcher's properties
        SparkContext._ensure_initialized()
    return SparkConf()


def _session_conf(
    master: str,
    launcher,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The conf ``get_spark`` applies for ``master``, given the
    properties a launcher set (``launcher.get(key)``, None if unset).

    The shuffle-partition default is the launcher's setting, else
    follows the master's task slots. The driver heap and JIT policy
    are set only for a local master (Spark's local grammar, not any
    URL that contains "local") that no launcher set, i.e. when this
    process starts a JVM that hosts every task. ``extra_conf``
    overrides any default.
    """
    conf = dict(_BASE_CONF)
    slots = _master_parallelism(master)
    if shuffle_partitions is None:
        shuffle_partitions = launcher.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is None:
        # match parallelism, not the 200 default: at local[N] a 200-way
        # shuffle just fragments the Arrow batches the matcher feeds on.
        shuffle_partitions = 32 if slots is None else max(slots, 4)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if slots is not None and launcher.get("spark.master") is None:
        conf["spark.driver.memory"] = _default_driver_memory()
        conf["spark.driver.defaultJavaOptions"] = _LOCAL_DRIVER_JIT
    if extra_conf:
        conf.update(extra_conf)
    return conf


def get_spark(
    master: str | None = None,
    app_name: str = "lnex_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    master=None keeps the launcher's master (spark-submit ``--master``,
    so a job runs on whatever cluster it was submitted to) and falls
    back to ``local[$SPARK_GRAFT_CPUS or *]`` only when none is set.
    The defaults are ``_session_conf``'s; ``extra_conf`` overrides any
    of them, including ``spark.driver.defaultJavaOptions``.
    """
    launcher = _launcher_conf()
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = launcher.get("spark.master") or (f"local[{cpus}]" if cpus else "local[*]")
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _session_conf(master, launcher, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
