"""Session defaults: host-sized memory, and the py4j cost of building a plan."""

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


def test_session_turns_off_dataframe_debugging(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_quality_filter_build_round_trips(spark, pages_df, monkeypatch):
    """Building the flagship plan stays under 900 py4j round trips. With
    PySpark's call-site capture on, every Column call adds ~8-10 of them
    and the build makes ~2,000. Only the building thread's commands count:
    py4j's finalizer thread sends deletes of earlier garbage at any time."""
    import threading

    import pyspark.errors.utils
    from py4j.clientserver import ClientServerConnection

    from curator_spark.plans.pipeline import quality_filter

    # forget the per-process cache, so the session's setting is read again
    monkeypatch.setattr(pyspark.errors.utils, "_enable_debugging_cache", None)
    quality_filter(pages_df)  # warm
    trips = []
    real = ClientServerConnection.send_command

    builder = threading.get_ident()

    def counting(self, command):
        if threading.get_ident() == builder:
            trips.append(1)
        return real(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    quality_filter(pages_df)
    monkeypatch.setattr(ClientServerConnection, "send_command", real)
    assert len(trips) < 900, len(trips)
