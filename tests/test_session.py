"""Session defaults that depend on the host."""

import os

from etl_spark.session import default_driver_memory


def test_default_driver_memory_below_physical_ram():
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem = default_driver_memory()
    assert mem.endswith("m")
    assert 512 <= int(mem[:-1]) and int(mem[:-1]) << 20 < phys
