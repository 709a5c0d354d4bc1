"""Session defaults (crysda_spark/session.py)."""

from __future__ import annotations

import os

from crysda_spark.session import _driver_memory


def test_driver_memory_fits_the_host(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert _driver_memory() == "3g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    phys_mb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) >> 20
    heap_mb = int(_driver_memory().removesuffix("m"))
    assert 1024 <= heap_mb <= min(48 * 1024, max(1024, phys_mb // 2))
