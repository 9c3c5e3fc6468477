"""get_spark's host-derived driver-heap default, checked without a JVM."""

from __future__ import annotations

from dedupe_spark.session import driver_memory_for

GiB = 1 << 30


def test_heap_is_half_the_cgroup_limit():
    assert driver_memory_for("4294967296\n", 16 * GiB) == "2048m"


def test_unlimited_or_missing_cgroup_falls_back_to_physical_memory():
    assert driver_memory_for("max\n", 15 * GiB) == "7680m"
    assert driver_memory_for(None, 15 * GiB) == "7680m"


def test_cgroup_limit_above_physical_memory_is_ignored():
    assert driver_memory_for(str(64 * GiB), 8 * GiB) == "4096m"


def test_heap_floor():
    assert driver_memory_for(str(256 << 20), 8 * GiB) == "512m"

