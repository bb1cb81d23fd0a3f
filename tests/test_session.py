"""Session defaults derive from the host, not from a fixed large box."""

from __future__ import annotations

from stanford_relation_extractor_spark.session import driver_memory

GIB = 2**30


def test_driver_memory_is_half_of_host_ram():
    assert driver_memory(15 * GIB) == "7g"
    assert driver_memory(64 * GIB) == "32g"
    # bounded: a tiny host still gets 1g, a huge one stops at 48g
    assert driver_memory(GIB) == "1g"
    assert driver_memory(512 * GIB) == "48g"
