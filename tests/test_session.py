"""Session defaults that must fit the host they start on."""

from __future__ import annotations

import os

from wal_consumer_spark.session import default_master, driver_memory

GiB = 2**30


def test_driver_memory_is_sized_from_host_ram():
    assert driver_memory(15 * GiB) == "9g"  # 60% of 15 GiB, whole GiB
    assert driver_memory(64 * GiB) == "16g"  # capped
    assert driver_memory(1 * GiB) == "1g"  # floored


def test_default_master_fits_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_master() == f"local[{len(os.sched_getaffinity(0))}]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")  # the variable still wins
    assert default_master() == "local[3]"
