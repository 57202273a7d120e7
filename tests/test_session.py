"""Session defaults that depend on the host."""

from __future__ import annotations

from time_series_db_spark.session import driver_memory

GIB = 2**30


def test_driver_memory_is_half_the_host_at_most_16g():
    assert driver_memory(None, 15 * GIB) == "7680m"
    assert driver_memory(None, 4 * GIB + 1) == "2048m"
    assert driver_memory(None, 32 * GIB) == "16384m"
    assert driver_memory(None, 256 * GIB) == "16384m"


def test_driver_memory_override_wins():
    assert driver_memory("3g", 256 * GIB) == "3g"
    assert driver_memory("40g", 15 * GIB) == "40g"
    assert driver_memory("", 8 * GIB) == "4096m"
