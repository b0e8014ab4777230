"""get_spark's defaults come from the machine, not from fixed constants."""

from __future__ import annotations

import os

from cortex_spark.session import MAX_DRIVER_MEM_GB, _machine_resources, default_resources

GIB = 2**30


def test_default_resources_sizing():
    assert default_resources(4, 15 * GIB) == (4, "7g")
    assert default_resources(16, 64 * GIB) == (16, "32g")
    assert default_resources(128, 1024 * GIB) == (128, f"{MAX_DRIVER_MEM_GB}g")
    assert default_resources(1, 1 * GIB) == (1, "1g")
    assert default_resources(0, 0) == (1, "1g")


def test_machine_resources_use_affinity_and_physical_memory():
    cpus, mem = _machine_resources()
    assert cpus == len(os.sched_getaffinity(0))
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert mem == default_resources(cpus, phys)[1]
