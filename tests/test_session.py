"""Session defaults that must hold on the host the session starts on."""

from __future__ import annotations

from fec_cn_support_etl_spark.session import default_driver_memory

MEMINFO = "MemTotal:       {kib} kB\nMemFree:        1024 kB\nMemAvailable:   2048 kB\n"


def test_default_driver_memory_is_half_of_ram_in_whole_gib():
    gib = 1024 * 1024
    assert default_driver_memory(MEMINFO.format(kib=16 * gib)) == "8g"
    # a 15 GB host reports a little under 16 GiB: the heap rounds down
    assert default_driver_memory(MEMINFO.format(kib=16_069_960)) == "7g"
    assert default_driver_memory(MEMINFO.format(kib=256 * gib)) == "128g"


def test_default_driver_memory_floor_is_1g():
    assert default_driver_memory(MEMINFO.format(kib=1024 * 1024)) == "1g"
    assert default_driver_memory(MEMINFO.format(kib=0)) == "1g"
    assert default_driver_memory("") == "1g"
