"""The session factory sizes the driver heap from the host: a heap
limit above physical RAM let the JVM grow into the kernel's OOM killer
in the middle of a test run."""

from __future__ import annotations

import os

from hunt_spark.session import default_driver_mem


def test_default_driver_heap_fits_the_host(spark):
    phys_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    mib = int(default_driver_mem().removesuffix("m"))
    assert 1024 <= mib <= min(32 * 1024, max(1024, phys_mib // 4))
    want = os.environ.get("HUNT_SPARK_DRIVER_MEM") or default_driver_mem()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want
