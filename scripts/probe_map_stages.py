"""Decompose the MAP side of the blocks-write action, per parallelism
level (BENCH.md round 4 'map probe').

Variants, each from cached source rows into a noop sink (warm + 2
timed, min reported; fresh child JVM per level so JIT state never
leaks across levels):

  M0_tokenize   with_tokens -> (doc_id, size(tokens)) — prices the
                pandas_udf + Arrow->JVM array conversion alone
  M1_explode    + explode (token-occurrence row blowup)
  M2_postings   + both hash aggregations + the exchange — the full
                build_postings relation

The M1->M2 DELTA prices Spark's aggregation machinery in isolation;
M0 prices the Python/Arrow worker boundary. Round-4 readings (3M
docs): the delta scales at 0.94 across 4->16 cores while M0 reads
0.70 — post-Arrow-fix, the JVM is not the scaling problem; the worker
boundary is.

Usage: python scripts/probe_map_stages.py [--docs 3000000]
                                          [--levels 4,16]
"""
import argparse
import os
import subprocess
import sys

CHILD = r"""
import sys, time
cores = int(sys.argv[1]); n_docs = int(sys.argv[2])
from web_search_engine_spark.session import get_spark
from web_search_engine_spark.operators.postings import (
    assign_doc_ids_counted, build_postings, with_tokens)
from web_search_engine_spark.sources.corpus import generate_corpus_pdf_fast
from pyspark.sql import functions as F

spark = get_spark(f"mapprobe-{cores}", master=f"local[{cores}]",
                  shuffle_partitions=cores,
                  extra_conf={"spark.local.dir": "/dev/shm/wse_shuffle",
                              "spark.sql.files.maxPartitionBytes":
                                  str(16 * 1024 * 1024),
                              "spark.sql.files.openCostInBytes":
                                  str(1024 * 1024)})
src_dir = f"/tmp/wse_scale_src_{n_docs}"
import os
if not os.path.exists(src_dir + "/_SUCCESS"):
    pdf = generate_corpus_pdf_fast(n_docs, seed=42)
    spark.createDataFrame(pdf).repartition(64).write.mode(
        "overwrite").parquet(src_dir)
src = spark.read.parquet(src_dir)
docs, n, handle = assign_doc_ids_counted(src, ["repo", "path"])
docs = docs.cache(); docs.count(); handle.unpersist()

def noop(df):
    df.write.format("noop").mode("overwrite").save()

def m0():
    noop(with_tokens(docs, "content").select(
        "doc_id", F.size("tokens").alias("k")))
def m1():
    noop(with_tokens(docs, "content").select(
        "doc_id", F.explode("tokens").alias("term")))
def m2():
    noop(build_postings(with_tokens(docs, "content")))
for name, fn in (("M0_tokenize", m0), ("M1_explode", m1),
                 ("M2_postings", m2)):
    fn()
    best = 1e9
    for _ in range(2):
        t0 = time.perf_counter(); fn(); best = min(best, time.perf_counter() - t0)
    print(f"RESULT {cores} {name} {best:.2f}", flush=True)
spark.stop()
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=3_000_000)
    ap.add_argument("--levels", default="4,16")
    args = ap.parse_args()
    for cores in (int(c) for c in args.levels.split(",")):
        print(f"=== local[{cores}] ===", flush=True)
        env = dict(os.environ)
        env["PYTHONPATH"] = os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))
        )
        env["PYSPARK_PYTHON"] = sys.executable
        subprocess.run(
            [sys.executable, "-c", CHILD, str(cores), str(args.docs)],
            env=env, check=True,
        )


if __name__ == "__main__":
    main()
