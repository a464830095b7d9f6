"""Hot-query kernel-cliff evidence (VERDICT r2 #4).

The reference's hot case is a stopword-heavy OR query on a multi-million
doc index (HW2/benchmark.txt runs 8.8M docs, 0.6-62 ms DAAT). Above
TAAT_MAX_POSTINGS the round-2 engine fell into the per-posting Python
cursor loop (~8 us/posting -> seconds). This script builds an index over
N synthetic docs (default 3M) and times the same hot OR query through:

  - taat        : vectorized exhaustive term-at-a-time (the sub-threshold
                  kernel, forced here above threshold)
  - bmw_block   : the vectorized blockwise block-max kernel (the
                  default above threshold; it replaced the round-2
                  per-posting cursor loop)

"no cliff" = bmw_block stays within a small factor of taat on the hot
query (where pruning cannot bite).
Also reports the 8-query mixed set for realistic p50 with the auto
kernel. Prints one JSON line; results go into BENCH.md.

Usage: python scripts/bench_hot_query.py [n_docs] (default 3_000_000)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from web_search_engine_spark.plans.build_index import build_index  # noqa: E402
from web_search_engine_spark.plans.search import SearchEngine  # noqa: E402
from web_search_engine_spark.session import get_spark  # noqa: E402
from web_search_engine_spark.sources.corpus import (  # noqa: E402
    generate_corpus_pdf_fast,
)

MIXED_QUERIES = [
    "manhattan project", "communication policy", "machine learning",
    "the import", "spark shuffle partition", "score block heap",
    "the i 0 import", "varbyte lexicon",
]


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 3_000_000
    spark = get_spark(
        "hot-query-bench", master="local[32]", shuffle_partitions=32,
        extra_conf={"spark.local.dir": "/dev/shm/wse_shuffle"},
    )
    src_dir = f"/tmp/wse_hotq_src_{n_docs}"
    if not os.path.exists(src_dir + "/_SUCCESS"):
        pdf = generate_corpus_pdf_fast(n_docs, seed=42)
        spark.createDataFrame(pdf).repartition(64).write.mode(
            "overwrite"
        ).parquet(src_dir)
    src = spark.read.parquet(src_dir)
    idx = tempfile.mkdtemp(prefix="wse_hotq_idx_", dir="/dev/shm")
    t0 = time.perf_counter()
    build_index(spark, src, idx, codec="varbyte", num_shards=32)
    build_sec = round(time.perf_counter() - t0, 1)
    eng = SearchEngine(idx)

    # hottest 3 terms by df — guaranteed above TAAT_MAX_POSTINGS together
    hot_terms = sorted(eng._df, key=lambda t: -eng._df[t])[:3]
    hot_q = " ".join(hot_terms)
    total_df = sum(eng._df[t] for t in hot_terms)

    out: dict = {
        "metric": "hot_query_kernels",
        "n_docs": n_docs,
        "index_build_sec": build_sec,
        "hot_query": hot_q,
        "hot_total_postings": total_df,
    }
    for kern, trials in (("taat", 5), ("bmw_block", 5)):
        eng.search(hot_q, "OR", 10, force_kernel=kern)  # warm (+flat cache)
        samples = []
        for _ in range(trials):
            t0 = time.perf_counter()
            r = eng.search(hot_q, "OR", 10, force_kernel=kern)
            samples.append(time.perf_counter() - t0)
        out[f"hot_{kern}_ms"] = round(statistics.median(samples) * 1000, 1)
        out.setdefault("hot_top1", [r[0][0], round(r[0][1], 6)])
        # every kernel must return the identical ranking
        if [d for d, _ in r] != out.setdefault("_docs", [d for d, _ in r]):
            raise SystemExit(f"kernel {kern} diverged")
    del out["_docs"]

    # hot AND (VERDICT r3 #1): hot terms co-occur in most docs, so the
    # intersection is corpus-sized — the class where the old per-posting
    # daat_and galloping loop paid ~8 us/visited posting. vec_and
    # (searchsorted intersection + taat scoring) must stay near taat_and;
    # daat is the cursor baseline (1 trial — it is the slow path).
    for kern, trials in (("taat", 5), ("vec_and", 5), ("daat", 1)):
        eng.search(hot_q, "AND", 10, force_kernel=kern)
        samples = []
        for _ in range(trials):
            t0 = time.perf_counter()
            r = eng.search(hot_q, "AND", 10, force_kernel=kern)
            samples.append(time.perf_counter() - t0)
        out[f"hot_and_{kern}_ms"] = round(statistics.median(samples) * 1000, 1)
        if [d for d, _ in r] != out.setdefault("_and_docs", [d for d, _ in r]):
            raise SystemExit(f"AND kernel {kern} diverged")
    del out["_and_docs"]

    lat = []
    for q in MIXED_QUERIES:
        eng.search(q, "OR", 10)
    for _ in range(3):
        for q in MIXED_QUERIES:
            t0 = time.perf_counter()
            eng.search(q, "OR", 10)
            lat.append((time.perf_counter() - t0) * 1000)
    lat.sort()
    out["mixed8_auto_p50_ms"] = round(statistics.median(lat), 2)
    out["mixed8_auto_p95_ms"] = round(lat[int(len(lat) * 0.95) - 1], 2)
    print(json.dumps(out))
    import shutil

    shutil.rmtree(idx, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
