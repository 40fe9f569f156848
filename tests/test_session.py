"""Session-factory defaults that must be safe on a small host."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from lnex_spark.session import _default_driver_memory, _master_parallelism, _session_conf

REPO = Path(__file__).resolve().parent.parent


def test_default_driver_memory_fits_physical_ram():
    physical_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    default = _default_driver_memory()
    assert default.endswith("m")
    assert 0 < int(default[:-1]) <= min(physical_mb, 24 * 1024)


@pytest.mark.parametrize(
    "master, slots",
    [
        ("local", 1),
        ("local[4]", 4),
        ("local[4,2]", 4),
        ("local[ 3 , 5 ]", 3),
        ("local[*]", os.cpu_count()),
        ("local[*,3]", os.cpu_count()),
        ("local-cluster[2,1,1024]", 2),
        ("local-cluster[3, 2, 512]", 6),
        ("spark://host:7077", None),
        ("yarn", None),
        ("k8s://https://host:6443", None),
    ],
)
def test_master_parallelism(master, slots):
    """The shuffle-partition default follows these task slots: a
    failure count or a cluster shape is a valid master, and ``*`` means
    the host's cores."""
    assert _master_parallelism(master) == slots


@pytest.mark.parametrize(
    "master, local_driver",
    [
        ("local", True),
        ("local[4]", True),
        ("local[*,3]", True),
        ("local-cluster[2,1,1024]", True),
        ("spark://localhost:7077", False),
        ("k8s://https://localhost:6443", False),
        ("yarn", False),
    ],
)
def test_local_driver_conf_follows_the_local_master_grammar(master, local_driver):
    """Only a local master gets the local driver heap and JIT policy: a
    cluster URL that merely names localhost runs its tasks in other
    JVMs, so its driver keeps the JVM's defaults."""
    conf = _session_conf(master, {})
    assert ("spark.driver.memory" in conf) is local_driver
    assert ("spark.driver.defaultJavaOptions" in conf) is local_driver


def test_launcher_master_keeps_the_jvm_defaults():
    conf = _session_conf("local[4]", {"spark.master": "local[4]"})
    assert "spark.driver.memory" not in conf
    assert "spark.driver.defaultJavaOptions" not in conf


_JIT_PROBE = """
import json
from lnex_spark.session import get_spark
spark = get_spark()
bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps(list(bean.getInputArguments())))
spark.stop()
"""


def test_local_driver_jvm_compiles_with_c1_only(tmp_path):
    """The JVM a default ``get_spark()`` starts runs with the session's
    JIT policy. It needs a fresh process: the shared test session opts
    back into tiered compilation (tests/conftest.py)."""
    proc = subprocess.run(
        [sys.executable, "-c", _JIT_PROBE],
        cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": str(REPO)},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    args = json.loads(proc.stdout.strip().splitlines()[-1])
    assert "-XX:TieredStopAtLevel=1" in args
