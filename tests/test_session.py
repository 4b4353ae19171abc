"""Guard: the session's driver heap fits the host it runs on.

In local[N] every task runs inside the one driver JVM, which grows to its
heap limit before a full GC; a heap sized for a bigger host lets the
kernel's OOM killer take the driver mid-suite."""

import os

from medical_ocr_pipeline_spark.session import (
    default_driver_memory,
    host_memory_mb,
)


def _physical_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)


def test_configured_heap_is_below_physical_ram(spark):
    jvm = spark.sparkContext._jvm
    configured_mb = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsMb(
        spark.conf.get("spark.driver.memory")
    )
    max_heap_mb = jvm.java.lang.Runtime.getRuntime().maxMemory() // (1 << 20)
    usable_mb = min(_physical_mb(), host_memory_mb())
    assert configured_mb < usable_mb
    assert max_heap_mb < usable_mb


def test_default_heap_is_below_physical_ram():
    assert int(default_driver_memory().rstrip("m")) < min(
        _physical_mb(), host_memory_mb()
    )
