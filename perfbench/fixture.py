"""The serving fixture: one index shared by serve_hot and serve_cold.

It is built once per checkout and kept in the checkout's work directory,
because a build takes about a minute of Spark time at 100k documents;
its corpus seed is fixed, so every run of a checkout serves the same
index and only the query streams follow ``--seed``. Building it is not
part of any timed figure.
"""

from __future__ import annotations

import os
import shutil
import time

import common
import gen

SERVE_DOCS = 100_000
CORPUS_SEED = 20_240_101


def serve_index(run: common.Run) -> str:
    path = os.path.join(common.CACHE, f"serve-{SERVE_DOCS}")
    if os.path.exists(os.path.join(path, "stats.json")):
        return path
    t0 = time.perf_counter()
    from web_search_engine_spark.plans.build_index import build_index
    from web_search_engine_spark.streaming.incremental import SOURCE_SCHEMA

    pdf, sum_dl = gen.corpus(gen.Vocabulary(common.VOCAB_SIZE), SERVE_DOCS, CORPUS_SEED)
    spark = run.spark(eventlog=False)
    try:
        tmp = path + ".building"
        shutil.rmtree(tmp, ignore_errors=True)
        src = spark.createDataFrame(pdf, SOURCE_SCHEMA).repartition(run.nproc)
        cat = build_index(spark, src, tmp, codec="varbyte", resume=False)
        if cat.n_docs != SERVE_DOCS or round(cat.avgdl * cat.n_docs) != sum_dl:
            raise RuntimeError(
                f"fixture index stats {cat.n_docs} docs / avgdl {cat.avgdl} "
                f"do not match the generated {SERVE_DOCS} docs / Σdl {sum_dl}"
            )
    finally:
        common.stop_spark()
    os.rename(tmp, path)
    # write the new index back to disk now, not during the first timed run
    os.sync()
    run.note(f"fixture: built {SERVE_DOCS}-doc serving index in {time.perf_counter() - t0:.1f} s")
    return path
