"""Session factory defaults that need no JVM."""

from __future__ import annotations

from trembita_spark.session import driver_mem_default

GIB = 1024**3


def test_driver_mem_default_is_half_the_host():
    assert driver_mem_default(15 * GIB) == "7680m"
    assert driver_mem_default(4 * GIB + 123) == "2048m"


def test_driver_mem_default_caps_at_16g():
    assert driver_mem_default(32 * GIB) == "16384m"
    assert driver_mem_default(512 * GIB) == "16384m"


def test_driver_mem_default_unknown_host():
    assert driver_mem_default(None) == "16384m"
