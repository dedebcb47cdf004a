"""Driver heap sizing from host memory (pure arithmetic, no session)."""

from __future__ import annotations

from pelinker_spark.session import default_driver_mem

GiB = 2**30


def test_default_driver_mem_is_half_host_capped():
    assert default_driver_mem(int(15.7 * GiB)) == "7g"
    assert default_driver_mem(16 * GiB) == "8g"
    assert default_driver_mem(48 * GiB) == "24g"
    assert default_driver_mem(512 * GiB) == "24g"  # historical default caps
    assert default_driver_mem(1 * GiB) == "1g"  # never below 1g
    assert default_driver_mem(0) == "1g"
