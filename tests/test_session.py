"""Session defaults that must fit the host they run on."""

from __future__ import annotations

import os

import pytest


def test_driver_heap_fits_physical_ram(spark):
    """Without an override, the driver heap is sized from the host: a
    heap above physical RAM lets the JVM grow until the kernel kills
    it on a host without swap."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        pytest.skip("SPARK_GRAFT_DRIVER_MEM overrides the derived heap")
    mem = spark.sparkContext.getConf().get("spark.driver.memory")
    heap = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(mem)
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < heap <= ram, (mem, ram)
