"""Default driver-heap sizing (pure: no Spark session)."""

from spark_validate.session import driver_memory_for

GIB = 2**30


def test_driver_memory_is_half_the_machine():
    assert driver_memory_for(16 * GIB) == "8192m"
    assert driver_memory_for(15 * GIB + 123) == "7680m"
    assert driver_memory_for(3 * GIB) == "1536m"


def test_driver_memory_caps_at_64g():
    assert driver_memory_for(128 * GIB) == "65536m"
    assert driver_memory_for(1024 * GIB) == "65536m"


def test_driver_memory_unknown_machine_keeps_64g():
    assert driver_memory_for(None) == "65536m"
    assert driver_memory_for(0) == "65536m"
