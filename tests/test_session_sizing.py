"""session.default_driver_memory: the driver heap default is sized
from physical memory, so a small host is not OOM-killed."""

from __future__ import annotations

from catenae_kafka_spark.session import default_driver_memory


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_third_of_small_host(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 16_456_384)) == "5356m"
    assert default_driver_memory(_meminfo(tmp_path, 8 * 1024 * 1024)) == "2730m"


def test_large_host_keeps_16g(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 48 * 1024 * 1024)) == "16g"
    assert default_driver_memory(_meminfo(tmp_path, 64 * 1024 * 1024)) == "16g"


def test_unreadable_meminfo_falls_back_to_16g(tmp_path):
    assert default_driver_memory(str(tmp_path / "absent")) == "16g"
    (tmp_path / "garbled").write_text("MemFree: 1 kB\n")
    assert default_driver_memory(str(tmp_path / "garbled")) == "16g"
