"""Session defaults sized from the host. No Spark job runs here."""

from __future__ import annotations

import os

from kinbaku_spark.session import default_driver_memory


def test_default_driver_memory_fits_the_host():
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    default = default_driver_memory()
    assert default.endswith("m")
    assert 0 < int(default[:-1]) <= min(24 * 1024, ram_mb)
