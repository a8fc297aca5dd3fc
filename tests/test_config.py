"""config.session() defaults come from the host, not fixed numbers."""

import os

from mbrngq_spark import config


def test_default_cores_env_then_host(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert config.default_cores() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    monkeypatch.setattr(os, "cpu_count", lambda: 6)
    assert config.default_cores() == 6
    monkeypatch.setattr(os, "cpu_count", lambda: None)
    assert config.default_cores() == 1


def test_default_driver_mem_env_then_host_fraction(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert config.default_driver_mem() == "2g"
    monkeypatch.delenv("SPARK_DRIVER_MEM")
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (16 << 30) // 4096}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    assert config.default_driver_mem() == \
        f"{int((16 << 10) * config.DRIVER_MEM_FRACTION)}m"
    pages["SC_PHYS_PAGES"] = (512 << 20) // 4096       # tiny host: floor
    assert config.default_driver_mem() == "1024m"
