"""Session defaults that depend on the host."""

from __future__ import annotations

import os

from aspep_etl_spark.session import default_driver_memory


def test_driver_memory_default_is_half_physical_capped(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    got = default_driver_memory()
    assert got.endswith("m")
    mb = int(got[:-1])
    assert 0 < mb <= phys_mb // 2
    assert mb <= 16 * 1024
    assert mb == min(phys_mb // 2, 16 * 1024)


def test_driver_memory_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"
