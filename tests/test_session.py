"""The default driver heap follows the host's physical memory."""

from __future__ import annotations

from atd_data_lake_spark.session import default_driver_memory

GiB = 1024**3


def test_large_host_keeps_90g():
    assert default_driver_memory(90 * GiB) == "90g"
    assert default_driver_memory(512 * GiB) == "90g"


def test_small_host_gets_a_quarter_of_physical_memory():
    assert default_driver_memory(16 * GiB) == "4096m"
    assert default_driver_memory(90 * GiB - 4 * 1024**2) == f"{90 * 256 - 1}m"
    # a 15 GB host: 15e9 / 4 bytes, floored to MiB
    assert default_driver_memory(15 * 10**9) == "3576m"
