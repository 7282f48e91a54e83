"""The stat-gated ``zipimporter.invalidate_caches`` (``curator_spark.zipgate``):
stock semantics whenever an archive changes, no re-read when none did, and
live where the gain is — in Spark's Python workers and under ``--py-files``."""

from __future__ import annotations

import importlib
import os
import runpy
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from curator_spark import zipgate

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GATED = sys.version_info < (3, 13)


def _write_zip(path, modules: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    return str(path)


@pytest.fixture
def count_reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory`` from now on."""
    reads: list[str] = []
    stock = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_installed_on_import_below_313():
    assert zipgate.is_gated() == GATED


def test_stdlib_method_kept_on_313(monkeypatch):
    stock = getattr(zipimport.zipimporter.invalidate_caches, "__wrapped__", zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    zipgate.install()
    assert zipimport.zipimporter.invalidate_caches is stock


@pytest.mark.skipif(not GATED, reason="CPython >= 3.13 keeps the stdlib method")
def test_unchanged_zip_is_not_reread_and_changed_zip_is(tmp_path, monkeypatch, count_reads):
    archive = _write_zip(tmp_path / "mods.zip", {"zipgate_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("zipgate_mod_a").X == 1
    importlib.invalidate_caches()  # records every importer's signature
    count_reads.clear()

    importlib.invalidate_caches()
    assert count_reads == []

    _write_zip(archive, {"zipgate_mod_a": "X = 1\n", "zipgate_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert count_reads == [archive]
    assert importlib.import_module("zipgate_mod_b").Y == 2


@pytest.mark.skipif(not GATED, reason="CPython >= 3.13 keeps the stdlib method")
def test_deleted_and_restored_archive_match_stock(tmp_path, count_reads):
    archive = _write_zip(tmp_path / "mods.zip", {"zipgate_mod_c": "Z = 3\n"})
    gated, stock = zipimport.zipimporter(archive), zipimport.zipimporter(archive)
    stock_invalidate = zipimport.zipimporter.invalidate_caches.__wrapped__

    def states():
        gated.invalidate_caches()
        gated_state = (gated._files, zipimport._zip_directory_cache.get(archive))
        stock_invalidate(stock)
        return gated_state, (stock._files, zipimport._zip_directory_cache.get(archive))

    gated.invalidate_caches()
    count_reads.clear()
    os.remove(archive)
    for _ in range(2):  # a missing archive re-reads (and fails) on every call, as stock does
        g, s = states()
        assert g == s == ({}, None)
    assert count_reads == [archive] * 4

    _write_zip(archive, {"zipgate_mod_c": "Z = 3\n"})
    g, s = states()
    assert g == s and "zipgate_mod_c.py" in g[0]


@pytest.mark.skipif(not GATED, reason="CPython >= 3.13 keeps the stdlib method")
def test_gate_is_live_in_spark_workers(spark):
    """A worker imports curator_spark while unpickling the UDF, before its
    body runs; the body then checks that a repeated invalidation re-reads
    no zip on the worker's path (pyspark.zip and py4j's zip)."""

    @F.pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        import importlib
        import zipimport

        gated = zipgate.is_gated()
        importlib.invalidate_caches()
        reads = []
        stock = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or stock(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        n_zip = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        return pd.Series([f"{gated}:{len(reads)}:{n_zip > 0}"] * len(s))

    df = spark.range(4, numPartitions=2)
    for _ in range(2):
        got = {r[0] for r in df.select(probe(F.col("id").cast("string"))).collect()}
        assert got == {"True:0:True"}


@pytest.mark.skipif(not GATED, reason="CPython >= 3.13 keeps the stdlib method")
def test_pyfiles_zip_importers_reread_nothing(tmp_path):
    """Under ``spark-submit --py-files`` curator_spark itself comes from a
    zip, with one more zipimporter per package directory it imports."""
    build = runpy.run_path(os.path.join(REPO, "scripts", "build_pyfiles.py"))["build"]
    archive = build(str(tmp_path / "curator_spark.zip"))
    code = textwrap.dedent(
        f"""
        import importlib, sys, zipimport
        sys.path.insert(0, {archive!r})
        import curator_spark.operators.udf_stages as m
        assert m.__file__.startswith({archive!r}), m.__file__
        n = sum(isinstance(f, zipimport.zipimporter) and f.archive == {archive!r}
                for f in sys.path_importer_cache.values())
        importlib.invalidate_caches()
        reads = []
        stock = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or stock(p)
        for _ in range(3):
            importlib.invalidate_caches()
        print(n, len(reads))
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env, capture_output=True, text=True, check=True
    )
    n_importers, n_reads = map(int, out.stdout.split())
    assert n_importers >= 3 and n_reads == 0
