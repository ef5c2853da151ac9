"""Session configuration defaults that need no Spark session."""

from __future__ import annotations

from graphem_rapids_spark.session import default_driver_memory

GIB = 1 << 30


def test_driver_memory_is_half_of_host_ram():
    assert default_driver_memory(16 * GIB) == "8g"
    # a 15 GiB host: 7.5 GiB rounds down to whole gigabytes
    assert default_driver_memory(15 * GIB) == "7g"


def test_driver_memory_capped_and_floored():
    assert default_driver_memory(512 * GIB) == "48g"
    assert default_driver_memory(1 * GIB) == "1g"


def test_driver_memory_probes_host():
    probed = default_driver_memory()
    assert probed.endswith("g") and 1 <= int(probed[:-1]) <= 48
