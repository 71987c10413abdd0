"""Spark-free checks of the session defaults :func:`get_spark` derives
from the host."""

import os

from sketchlib.session import default_driver_memory

GIB = 2**30


def test_driver_heap_is_half_the_host_up_to_48g():
    assert default_driver_memory(15 * GIB) == "7680m"
    assert default_driver_memory(96 * GIB) == "49152m"  # 48g
    assert default_driver_memory(512 * GIB) == "49152m"


def test_driver_heap_default_reads_this_host():
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert default_driver_memory() == default_driver_memory(phys)
    assert int(default_driver_memory()[:-1]) * 2**20 <= phys // 2
