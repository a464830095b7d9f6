"""web_search_engine_spark — a PySpark-native inverted-index + BM25 engine.

A brand-new Spark-first engine with the query and data-processing
capabilities of the reference repo siyanlau/Web-Search-Engine (inverted
index build: tokenize -> postings -> blocked varbyte-compressed index +
lexicon; query engine: Boolean AND/OR, TAAT/DAAT BM25 top-k), re-expressed
on the DataFrame API so Catalyst/Tungsten pick physical strategies and the
shuffle replaces the reference's explicit sort/merge pipeline
(/root/reference/HW2/engine/{build_runs_mp,parallel_merge,merger}.py).

Layout:
  functions/  tokenizer (pandas_udf + JVM-regex variants), BM25 column
              expressions, varbyte+delta-gap codec (numpy).
  operators/  postings build, block/lexicon build, top-k, dedup,
              similarity search, text analysis, multimodal plumbing.
  sources/    synthetic source-code corpus generator, table catalog I/O.
  plans/      end-to-end build pipeline (resumable) and query paths.
  streaming/  incremental (availableNow) index-delta ingestion.
"""

import sys

__version__ = "0.1.0"


def _install_zip_cache_guard() -> None:
    """Keep zipimporters' directory caches while their archive is unchanged.

    Before every task, Spark's Python worker runs ``setup_spark_files``
    (pyspark ``worker_util.py``), which calls
    ``importlib.invalidate_caches()``. On Python 3.10 and 3.11 that makes
    every ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read
    its archive's central directory at once. A worker's ``sys.path`` holds
    ``$SPARK_HOME/python/lib/pyspark.zip`` and the py4j zip, with 14-16
    importers over the two, so each task paid 70-170 ms of CPU in
    ``zipimport._read_directory``, far more than the engine's own work in
    a small decode, tokenize or encode task.

    The guard wraps ``zipimporter.invalidate_caches`` so that an importer
    skips the re-read while its archive's ``(st_mtime_ns, st_size)``
    equals the key of its last read. A changed or deleted archive still
    goes through the original method, and a new ``--py-files`` zip gets a
    new importer. The first call per importer reads once, to record the
    key. Importing this package installs the guard, so it reaches every
    worker that unpickles an engine function, with no Spark conf. Python
    3.12 made the invalidation lazy (gh-103200), so there the guard is
    not installed.
    """
    if sys.version_info >= (3, 12):
        return
    import functools
    import os
    import zipimport

    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_keeps_unchanged_archives", False):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            self.__dict__.pop("_archive_key", None)
            return original(self)
        key = (st.st_mtime_ns, st.st_size)
        if self.__dict__.get("_archive_key") == key:
            return None
        # stat before the read: a rewrite racing the read leaves a stale
        # key, which only costs one more re-read on the next call
        original(self)
        self._archive_key = key

    invalidate_caches._keeps_unchanged_archives = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_zip_cache_guard()
