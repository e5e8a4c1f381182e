"""get_spark's driver-memory default, derived without starting a JVM."""

from __future__ import annotations

import os

from lucene_spark import session


def _host(monkeypatch, ram_bytes: int) -> None:
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_bytes // 4096}
    monkeypatch.setattr(session.os, "sysconf", lambda name: pages[name])


def test_quarter_of_ram_on_a_small_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    _host(monkeypatch, 15 << 30)
    assert session.default_driver_memory() == f"{(15 << 10) // 4}m"


def test_capped_at_16g_on_a_large_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    _host(monkeypatch, 256 << 30)
    assert session.default_driver_memory() == "16384m"


def test_environment_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    _host(monkeypatch, 256 << 30)
    assert session.default_driver_memory() == "3g"


def test_default_fits_this_host():
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert int(session.default_driver_memory().rstrip("m")) <= ram_mb // 4
