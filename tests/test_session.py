"""Session-factory defaults that must be safe on a small host."""

from __future__ import annotations

import os

from lnex_spark.session import _default_driver_memory


def test_default_driver_memory_fits_physical_ram():
    physical_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    default = _default_driver_memory()
    assert default.endswith("m")
    assert 0 < int(default[:-1]) <= min(physical_mb, 24 * 1024)
