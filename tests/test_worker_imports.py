"""The stat-guarded zipimport invalidation (json_remedy_spark._zipimport).

PySpark's worker calls ``importlib.invalidate_caches()`` once per task;
before CPython 3.13 that re-reads every cached zip archive's directory.
These tests pin that the guard skips the re-read while an archive is
unchanged, re-reads it once it changes, and is live in the workers."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from json_remedy_spark import _zipimport

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ invalidates zipimport caches lazily; no guard is installed",
)


def _count_reads(monkeypatch):
    """Wrap zipimport._read_directory; return the list of archives read."""
    reads = []
    original = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    path = str(tmp_path / "guarded.zip")
    _write_zip(path, ["jrs_zip_mod_a"])
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("jrs_zip_mod_a", "jrs_zip_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    assert importlib.import_module("jrs_zip_mod_a").NAME == "jrs_zip_mod_a"
    assert isinstance(sys.path_importer_cache[zip_on_path], zipimport.zipimporter)
    importlib.invalidate_caches()  # stamps importers created after install
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_changed_archive_is_reread_and_new_module_imports(zip_on_path, monkeypatch):
    importlib.import_module("jrs_zip_mod_a")
    importlib.invalidate_caches()
    _write_zip(zip_on_path, ["jrs_zip_mod_a", "jrs_zip_mod_b"])
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads == [zip_on_path]
    assert importlib.import_module("jrs_zip_mod_b").NAME == "jrs_zip_mod_b"
    importlib.invalidate_caches()
    assert reads == [zip_on_path]  # re-stamped: no second read


def test_install_twice_is_a_noop():
    guarded = zipimport.zipimporter.invalidate_caches
    assert getattr(guarded, "_stat_guarded", False)  # package import installed it
    _zipimport.install()
    _zipimport.install()
    assert zipimport.zipimporter.invalidate_caches is guarded


def test_workers_skip_pyspark_zip_reread(spark):
    """Every task of a Python UDF: after the package import, a
    per-task invalidate_caches() reads no zip directory."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("reads long, zipimporters long")
    def probe(ids: pd.Series) -> pd.DataFrame:
        import json_remedy_spark  # noqa: F401  installs the guard

        reads = [0]
        original = zipimport._read_directory

        def counting(archive):
            reads[0] += 1
            return original(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        n_zip = sum(isinstance(i, zipimport.zipimporter) for i in sys.path_importer_cache.values())
        return pd.DataFrame({"reads": [reads[0]] * len(ids), "zipimporters": [n_zip] * len(ids)})

    n = 4 * spark.sparkContext.defaultParallelism
    rows = spark.range(n, numPartitions=n).select(probe("id").alias("p")).select("p.*").collect()
    assert len(rows) == n
    if all(r["zipimporters"] == 0 for r in rows):
        pytest.skip("the Python workers hold no zipimporter (pyspark is not imported from a zip)")
    assert [r["reads"] for r in rows] == [0] * n
