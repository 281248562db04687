"""Driver heap sizing: derived from the host's MemTotal, with
SPARK_DRIVER_MEMORY as the override."""

from __future__ import annotations

from hugegraph_computer_spark.session import HEAP_SHARE, driver_memory


def _mib(value: str) -> int:
    assert value.endswith("m"), value
    return int(value[:-1])


def test_driver_memory_bounded_by_memtotal(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        "MemTotal:       16777216 kB\nMemFree:         1048576 kB\n"
    )
    heap = _mib(driver_memory(str(meminfo)))
    assert heap == int(16 * 1024 * HEAP_SHARE)  # 6144m on a 16 GiB host
    assert 0 < heap < 16 * 1024
    # the live host: a positive heap below MemTotal
    with open("/proc/meminfo") as f:
        total_mib = next(
            int(ln.split()[1]) // 1024 for ln in f if ln.startswith("MemTotal:")
        )
    assert 0 < _mib(driver_memory()) < total_mib


def test_driver_memory_override(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert driver_memory(str(tmp_path / "missing")) == "3g"


def test_session_uses_derived_heap(spark):
    assert spark.sparkContext.getConf().get("spark.driver.memory") == driver_memory()
