"""session.get_spark's resource defaults."""

from __future__ import annotations

import os

from visual_asset_management_system_spark import session


def test_default_driver_memory_fits_physical_ram(monkeypatch):
    """Without ``SPARK_DRIVER_MEMORY`` the driver heap is half of
    physical RAM, capped at 24g — never more than the host has."""
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    got = session.driver_memory()
    assert got.endswith("m")
    assert 0 < int(got[:-1]) <= min(phys_mb // 2, 24 * 1024) < phys_mb

    for host_mb, want in ((4 * 1024, "2048m"), (256 * 1024, "24576m")):
        pages = {"SC_PHYS_PAGES": host_mb * 256, "SC_PAGE_SIZE": 4096}
        monkeypatch.setattr(os, "sysconf", pages.__getitem__)
        assert session.driver_memory() == want

    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "6g")
    assert session.driver_memory() == "6g"
