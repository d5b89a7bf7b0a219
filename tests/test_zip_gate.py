"""The stat-gated ``zipimporter.invalidate_caches`` of Spark Python workers
(``lucene_spark._gate_zip_invalidation``): an unchanged archive is never
re-read, a changed one is, and only worker processes are patched."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import lucene_spark


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def as_worker(monkeypatch):
    """Let the gate install as in a worker; the original method comes back
    at teardown."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(lucene_spark, "_in_spark_worker", lambda: True)


@pytest.fixture
def reads(monkeypatch):
    """Archives whose central directory is read, one entry per read."""
    seen = []
    read = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13 never re-reads")
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, as_worker, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zgate_a"])
    monkeypatch.syspath_prepend(archive)
    for m in ("zgate_a", "zgate_b"):
        monkeypatch.delitem(sys.modules, m, raising=False)
    assert importlib.import_module("zgate_a").NAME == "zgate_a"

    lucene_spark._gate_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches.stat_gated
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0

    _write_zip(archive, ["zgate_a", "zgate_b"])
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zgate_b").NAME == "zgate_b"
    importlib.invalidate_caches()
    assert reads.count(archive) == 1

    # an archive that cannot be stat'ed is always handed to the original
    (tmp_path / "mods.zip").unlink()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 3


def test_gate_only_in_workers_before_313(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    lucene_spark._gate_zip_invalidation()  # this process is no worker
    assert zipimport.zipimporter.invalidate_caches is original

    monkeypatch.setattr(lucene_spark, "_in_spark_worker", lambda: True)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    lucene_spark._gate_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is original


def test_worker_is_gated_driver_is_not(spark):
    def probe(batches):
        import zipimport

        import lucene_spark  # noqa: F401  (as every engine kernel does)

        gated = getattr(zipimport.zipimporter.invalidate_caches, "stat_gated", False)
        for _ in batches:
            pass
        yield pd.DataFrame({"gated": [bool(gated)]})

    row = spark.range(1, numPartitions=1).mapInPandas(probe, "gated boolean").collect()
    assert row[0]["gated"] is (sys.version_info < (3, 13))
    assert not getattr(zipimport.zipimporter.invalidate_caches, "stat_gated", False)
