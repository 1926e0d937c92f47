"""Session sizing: the default driver heap must fit the host."""

from __future__ import annotations

from tsengine import session

_UNITS = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}


def _bytes(spec: str) -> int:
    spec = spec.strip().lower()
    if spec[-1] in _UNITS:
        return int(spec[:-1]) * _UNITS[spec[-1]]
    return int(spec)


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise AssertionError("no MemTotal in /proc/meminfo")


def test_default_driver_memory_share_of_memtotal(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16777216 kB\nMemFree:  1 kB\n")
    assert session.default_driver_memory(str(meminfo)) == "6553m"
    assert session.default_driver_memory(str(tmp_path / "missing")) == "4g"


def test_configured_heap_below_physical_ram(spark):
    total = _mem_total_bytes()
    assert _bytes(session.default_driver_memory()) < total
    heap = spark.sparkContext.getConf().get("spark.driver.memory")
    assert _bytes(heap) < total, (heap, total)
