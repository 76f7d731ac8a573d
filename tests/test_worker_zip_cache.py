"""Gates for the lazy zip-directory invalidation the package installs on
import (``open_source_search_engine_spark._lazy_zip_invalidation``):
``importlib.invalidate_caches()`` re-reads a zip archive on sys.path only
when the file changed, so a reused pyspark worker stops re-parsing
pyspark.zip (1,328 entries, twelve importers) at the start of every task."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport
from collections import defaultdict

import pandas as pd
import pytest

import open_source_search_engine_spark  # noqa: F401  (installs the patch)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13's zipimport invalidates lazily; the package installs nothing",
)


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    """A zip holding one module, on sys.path and imported from; the
    module, its importer and the path are dropped afterwards."""
    path = str(tmp_path / "zipcache_probe.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zipcache_a.py", "X = 1\n")
    monkeypatch.syspath_prepend(path)
    assert importlib.import_module("zipcache_a").X == 1
    yield path
    for name in ("zipcache_a", "zipcache_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def _count_reads(monkeypatch, path: str) -> list[str]:
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    reads = _count_reads(monkeypatch, archive)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module("zipcache_a").X == 1


@pytest.mark.parametrize("change", ["grown", "touched"])
def test_rewritten_archive_is_reread(archive, monkeypatch, change):
    reads = _count_reads(monkeypatch, archive)
    ino = os.stat(archive).st_ino
    if change == "grown":
        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("zipcache_b.py", "Y = 2\n")
    else:
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert os.stat(archive).st_ino == ino  # rewritten in place
    importlib.invalidate_caches()
    assert reads == [archive]
    importlib.invalidate_caches()
    assert reads == [archive]  # read once per change, not per call
    if change == "grown":
        assert importlib.import_module("zipcache_b").Y == 2


def test_reused_worker_keeps_pyspark_zip_directory(spark):
    """Two runs of a Python UDF, grouped by worker PID: a task in a reused
    worker finds the very directory object the worker's previous task
    held for pyspark.zip, so the task's setup did not re-read it."""

    def probe(batches):
        import os
        import zipimport

        import open_source_search_engine_spark  # noqa: F401

        for _ in batches:
            pass
        cache = zipimport._zip_directory_cache
        (archive,) = [a for a in cache if a.endswith("pyspark.zip")]
        # a strong reference kept across tasks, so a fresh directory can
        # never take the old one's id
        prev = getattr(zipimport, "_gate_prev_directory", None)
        zipimport._gate_prev_directory = cache[archive]
        yield pd.DataFrame(
            {
                "pid": [os.getpid()],
                "first": [prev is None],
                "kept": [prev is cache[archive]],
            }
        )

    tasks = defaultdict(list)
    for _ in range(2):
        rows = (
            spark.range(0, 8, 1, 8)
            .mapInPandas(probe, "pid long, first boolean, kept boolean")
            .collect()
        )
        for r in rows:
            tasks[r.pid].append(r)
    later = [r for rs in tasks.values() for r in rs if not r.first]
    assert later, f"no worker ran two tasks: {dict(tasks)}"
    assert all(r.kept for r in later), dict(tasks)
