"""SparkSession factory defaults."""

from __future__ import annotations

from cryoflow_spark.core.session import default_driver_memory


def _meminfo(tmp_path, total_kib: int):
    path = tmp_path / "meminfo"
    path.write_text(
        f"MemTotal:       {total_kib} kB\nMemFree:        1024 kB\n"
    )
    return str(path)


def test_driver_memory_is_half_of_a_small_host(tmp_path):
    # 15 GiB host -> 7.5 GiB heap, not the 16g that exceeds the machine
    assert default_driver_memory(_meminfo(tmp_path, 15 * 1024 * 1024)) == "7680m"


def test_driver_memory_caps_at_16g_on_a_large_host(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 256 * 1024 * 1024)) == "16384m"


def test_driver_memory_falls_back_when_meminfo_unreadable(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "16g"
    bad = tmp_path / "garbled"
    bad.write_text("nothing useful here\n")
    assert default_driver_memory(str(bad)) == "16g"
