"""The driver-heap default of ``get_spark``."""

from __future__ import annotations

import os

from idn_area_etl_spark import session

GIB = 2**30


def _host_with(monkeypatch, ram_bytes: int) -> None:
    page = 4096
    values = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": ram_bytes // page}
    monkeypatch.setattr(os, "sysconf", lambda name: values[name])


def test_driver_memory_is_half_of_a_small_host(monkeypatch):
    _host_with(monkeypatch, 15 * GIB)
    assert session.default_driver_memory() == f"{15 * 1024 // 2}m"


def test_driver_memory_is_capped_at_16g(monkeypatch):
    _host_with(monkeypatch, 256 * GIB)
    assert session.default_driver_memory() == "16384m"
