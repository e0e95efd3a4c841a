"""The zip re-read guard installed by ``subgraph_extractor_spark.session``:
``importlib.invalidate_caches()`` must not re-read unchanged zip archives,
must still see a changed one, and must reach Spark's Python workers."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import subgraph_extractor_spark  # noqa: F401  (installs the guard)

needs_guard = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13+ zipimporter only drops its cache entry; no guard installed",
)


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")
    os.replace(tmp, path)


@pytest.fixture()
def zip_on_path(tmp_path):
    """A zip archive holding ``mod_a``, first on ``sys.path``."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["mod_a"])
    sys.path.insert(0, archive)
    try:
        yield archive
    finally:
        sys.path.remove(archive)
        for name in ("mod_a", "mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


@pytest.fixture()
def directory_reads(monkeypatch):
    """Archives passed to ``zipimport._read_directory``, in call order."""
    reads = []
    original = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@needs_guard
def test_zip_reread_only_when_changed(zip_on_path, directory_reads):
    assert importlib.import_module("mod_a").NAME == "mod_a"
    # The first call may read each archive once: this process has no stat
    # recorded for a read done before the guard was installed.
    importlib.invalidate_caches()
    directory_reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert directory_reads == []

    _write_zip(zip_on_path, ["mod_a", "mod_b"])
    importlib.invalidate_caches()
    assert directory_reads == [zip_on_path]
    assert importlib.import_module("mod_b").NAME == "mod_b"


@pytest.mark.skipif(sys.version_info < (3, 13), reason="guard active < 3.13")
def test_stdlib_method_untouched_from_313():
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


@needs_guard
def test_python_worker_skips_zip_rereads(spark):
    """A worker that has imported the package re-reads no archive on a
    repeated ``invalidate_caches()``, which every Python worker call runs."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def rereads(x: pd.Series) -> pd.Series:
        import importlib
        import zipimport

        import subgraph_extractor_spark  # noqa: F401

        importlib.invalidate_caches()
        original = zipimport._read_directory
        n = 0

        def counting(archive):
            nonlocal n
            n += 1
            return original(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        return pd.Series([n] * len(x))

    df = spark.range(0, 8, numPartitions=4).select(rereads("id").alias("n"))
    assert {r.n for r in df.collect()} == {0}
