"""The package's zipimporter guard: an archive that has not changed on
disk is not re-read by ``importlib.invalidate_caches()``, which Spark's
Python worker calls before every task."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import web_search_engine_spark as wse

GUARDED = sys.version_info < (3, 12)
needs_guard = pytest.mark.skipif(
    not GUARDED, reason="the guard is installed only before Python 3.12"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A one-module zip on sys.path, imported once; removed afterwards."""
    path = str(tmp_path / "guarded.zip")
    _write_zip(path, {"zguard_a": 1})
    monkeypatch.syspath_prepend(path)
    assert importlib.import_module("zguard_a").VALUE == 1
    yield path
    for name in ("zguard_a", "zguard_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``."""
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@needs_guard
def test_unchanged_archive_is_not_reread(archive, reads):
    importlib.invalidate_caches()
    assert reads.count(archive) <= 1
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 0
    assert importlib.import_module("zguard_a").VALUE == 1


@needs_guard
def test_rewritten_archive_is_reread(archive, reads):
    importlib.invalidate_caches()
    size = os.path.getsize(archive)
    _write_zip(archive, {"zguard_a": 1, "zguard_b": 2})
    assert os.path.getsize(archive) != size
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zguard_b").VALUE == 2


@needs_guard
def test_deleted_archive_falls_through(archive, reads):
    importlib.invalidate_caches()
    os.remove(archive)
    reads.clear()
    importlib.invalidate_caches()  # must not raise
    assert reads.count(archive) == 1
    assert sys.path_importer_cache[archive]._files == {}


@needs_guard
def test_guard_is_installed_once():
    guarded = zipimport.zipimporter.invalidate_caches
    assert guarded._keeps_unchanged_archives
    wse._install_zip_cache_guard()
    importlib.reload(wse)
    assert zipimport.zipimporter.invalidate_caches is guarded
    assert not hasattr(guarded.__wrapped__, "_keeps_unchanged_archives")


def test_guard_not_installed_from_python_312(monkeypatch):
    original = getattr(
        zipimport.zipimporter.invalidate_caches,
        "__wrapped__",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    wse._install_zip_cache_guard()
    assert zipimport.zipimporter.invalidate_caches is original
    if not GUARDED:
        # a real 3.12+ interpreter never had the attribute replaced
        assert not hasattr(original, "_keeps_unchanged_archives")


def test_engine_workers_skip_the_per_task_reread(spark, tmp_path):
    """After engine functions ran in the Python workers, the
    ``invalidate_caches()`` every task starts with re-reads no zip."""
    from web_search_engine_spark.operators.blocks import blocks_to_postings
    from web_search_engine_spark.plans.build_index import build_index
    from web_search_engine_spark.sources.catalog import IndexCatalog
    from web_search_engine_spark.sources.corpus import corpus_df

    d = str(tmp_path / "index")
    build_index(spark, corpus_df(spark, n_docs=100, seed=11), d, num_shards=2)
    catalog = IndexCatalog(spark, d)
    blocks_to_postings(catalog.blocks(), codec=catalog.codec).collect()

    def count_rereads(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        seen = []
        real = zipimport._read_directory

        def counting(archive):
            seen.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pd.DataFrame({
            "zips": [sum(p.endswith(".zip") for p in sys.path)],
            "engine": ["web_search_engine_spark" in sys.modules],
            "reads": [len(seen)],
        })

    rows = (
        spark.range(0, 4, numPartitions=4)
        .mapInPandas(count_rereads, "zips long, engine boolean, reads long")
        .collect()
    )
    if not any(r.zips for r in rows):
        pytest.skip("the Python workers have no zip archive on sys.path")
    if not GUARDED:
        pytest.skip("Python 3.12+ invalidates zip caches lazily")
    engine_rows = [r for r in rows if r.engine]
    assert engine_rows, rows
    assert [r.reads for r in engine_rows] == [0] * len(engine_rows), rows
