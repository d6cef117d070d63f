"""Session defaults that must fit the host."""

from __future__ import annotations

import pytest

from kg_curation_spark.session import driver_memory


@pytest.fixture
def meminfo(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)

    def write(text):
        p = tmp_path / "meminfo"
        p.write_text(text)
        return str(p)

    return write


def test_driver_memory_is_60_percent_of_memtotal(meminfo):
    # a 15 GiB host: 60% is 9216 MiB
    path = meminfo("MemFree:  100 kB\nMemTotal:  15728640 kB\n")
    assert driver_memory(path) == "9216m"


def test_driver_memory_capped_at_48g(meminfo):
    assert driver_memory(meminfo("MemTotal: 263856888 kB\n")) == "49152m"


def test_driver_memory_unreadable_meminfo_falls_back(meminfo, tmp_path):
    assert driver_memory(str(tmp_path / "missing")) == "48g"
    assert driver_memory(meminfo("MemFree: 1 kB\n")) == "48g"


def test_driver_memory_env_overrides(meminfo, monkeypatch):
    path = meminfo("MemTotal:  15728640 kB\n")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert driver_memory(path) == "2g"
