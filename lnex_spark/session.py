"""SparkSession factory with scale-oriented defaults.

Centralizes the conf so tests, the benchmark and spark-submit jobs agree.
Tuned for the Arrow-UDF-heavy extraction stage: AQE on (post-shuffle
coalescing + skew-join splitting), Arrow batches sized so the Python
matcher amortizes broadcast-dict access across ~10k rows per batch.
"""

from __future__ import annotations

import os

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
    The shuffle-partition default is the launcher's setting, else
    follows the master in use; the local driver heap is set only when
    no launcher set a master, i.e. when this call starts the JVM.
    """
    launcher = _launcher_conf()
    launched = launcher.get("spark.master")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = launched or (f"local[{cpus}]" if cpus else "local[*]")
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_BASE_CONF)
    if shuffle_partitions is None:
        shuffle_partitions = launcher.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is None:
        # match parallelism, not the 200 default: at local[N] a 200-way
        # shuffle just fragments the Arrow batches the matcher feeds on.
        n = master.split("[")[-1].rstrip("]") if "[" in master else "32"
        shuffle_partitions = 32 if n in ("*", "") else max(int(n), 4)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if "local" in master and launched is None:
        conf["spark.driver.memory"] = _default_driver_memory()
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
