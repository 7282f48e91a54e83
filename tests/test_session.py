"""Session defaults that depend on the host."""

from __future__ import annotations

import os

import pytest

from curator_spark import session


@pytest.mark.parametrize("gib, want", [(15.7, "6g"), (64, "16g"), (2, "1g")])
def test_driver_memory_default_is_sized_from_host(monkeypatch, gib, want):
    page = 4096
    pages = int(gib * 2**30) // page
    monkeypatch.setattr(
        os,
        "sysconf",
        lambda name: {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}[name],
    )
    assert session.default_driver_memory() == want
