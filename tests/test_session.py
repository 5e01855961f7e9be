"""Driver-heap sizing of the session factory."""

from __future__ import annotations

from news_please_spark.session import (
    DRIVER_MEM_CAP_MB,
    DRIVER_MEM_FLOOR_MB,
    default_driver_memory,
    driver_memory,
)


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(
        f"MemTotal:       {total_kb} kB\n"
        "MemFree:         1000000 kB\n"
        "MemAvailable:    2000000 kB\n"
    )
    return str(p)


def test_default_driver_memory_is_half_of_physical(tmp_path):
    # a 15 GB machine: 15 * 1024 * 1024 kB -> 7680 MB
    assert default_driver_memory(_meminfo(tmp_path, 15 * 1024 * 1024)) == "7680m"


def test_default_driver_memory_is_capped_and_floored(tmp_path):
    assert DRIVER_MEM_CAP_MB == 48 * 1024
    assert default_driver_memory(_meminfo(tmp_path, 512 * 1024 * 1024)) == f"{DRIVER_MEM_CAP_MB}m"
    assert default_driver_memory(_meminfo(tmp_path, 1024 * 1024)) == f"{DRIVER_MEM_FLOOR_MB}m"


def test_default_driver_memory_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == f"{DRIVER_MEM_CAP_MB}m"
    empty = tmp_path / "empty"
    empty.write_text("")
    assert default_driver_memory(str(empty)) == f"{DRIVER_MEM_CAP_MB}m"


def test_spark_driver_mem_overrides_the_default(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"
    monkeypatch.delenv("SPARK_DRIVER_MEM")
    assert driver_memory() == default_driver_memory()
