"""Session-factory defaults that must be safe on a small host."""

from __future__ import annotations

import os

import pytest

from lnex_spark.session import _default_driver_memory, _master_parallelism


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


def test_local_driver_jvm_compiles_with_c1_only(spark):
    """The JVM get_spark starts runs with the session's JIT policy."""
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    assert "-XX:TieredStopAtLevel=1" in args
