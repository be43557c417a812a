"""Session defaults (dataslicer_spark/session.py) computed without a JVM."""

from __future__ import annotations

import pytest

from dataslicer_spark import session


def _host(monkeypatch, phys_bytes: int) -> None:
    page = 4096
    pages = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": phys_bytes // page}
    monkeypatch.setattr(session.os, "sysconf", lambda name: pages[name])
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)


@pytest.mark.parametrize(
    "phys_gib, want",
    [(15, "7680m"), (16, "8192m"), (128, "65536m"), (512, "65536m")],
)
def test_driver_memory_defaults_to_half_of_host_capped(monkeypatch, phys_gib, want):
    _host(monkeypatch, phys_gib << 30)
    assert session.driver_memory() == want


def test_exported_driver_memory_wins(monkeypatch):
    _host(monkeypatch, 16 << 30)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert session.driver_memory() == "2g"
