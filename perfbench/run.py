"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload of the search engine on ``local[nproc]`` from the root
of a source checkout, checks every result, and prints report lines then,
as the last line, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Workloads:

* ``serve_hot``  - POST /search with words from the vocabulary head; the
  term working set fits the serving engine's term cache.
* ``serve_cold`` - POST /search with words from a vocabulary tail ten
  times larger than that cache; nearly every word misses.
* ``refresh_batch`` - append micro-batches to an index while the Spark
  read paths (``batch_score``, ``score_queries``) answer queries on it.

End-to-end metrics are CPU time, not wall time: on a shared 4-vCPU host
the wall times followed the host's CPU steal (serve_cold's median latency
was 79 ms at 1-3% steal and 110-160 ms at 10-19% within half an hour),
while CPU time per request moved by about a sixth. The wall-time figures
(latency percentiles, requests or queries per second, call seconds,
set-up seconds) are printed as report lines. Per workload:

* ``setup_s``: serve - CPU seconds of the server process from its spawn
  until it has answered its first query (interpreter start, imports,
  ``SearchEngine`` open), median of three spawns in the run;
  refresh_batch - CPU seconds of the process tree over the Spark session
  start plus ``IndexCatalog`` open, no query answered, one sample per run.
* ``single_cpu_ms``: CPU per query asked on its own. serve - server
  process CPU per request from one closed-loop client; refresh_batch -
  process-tree CPU per single-query call (``batch_score`` and
  ``score_queries``, each OR and AND), mean over the run's calls.
* ``bulk_cpu_ms``: CPU per query under bulk load. serve - server process
  CPU per request from ``nproc / 2`` closed-loop clients; refresh_batch -
  process-tree CPU per query over the 64-query set calls, both paths.

The process tree is this driver, the Spark JVM and its Python workers,
without the JVM's JIT compiler threads (see ``common.tree_cpu_s``).

Scratch files, the cached serving fixture and span files go to
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [_HERE, os.path.dirname(_HERE)]

import common  # noqa: E402

WORKLOADS = ("serve_hot", "serve_cold", "refresh_batch")

# Every per-layer metric with its unit; a workload that does not run a
# layer reports 0 for it.
LAYERS = {
    "session.start_s": "s",
    "search.open_s": "s",
    "search.fetch_ms": "ms",
    "search.term_cache_hit_ratio": "ratio",
    "search.block_rows_fetched": "count",
    "wand.decode_ms": "ms",
    "wand.postings_decoded": "count",
    "wand.score_ms": "ms",
    "wand.postings_scored": "count",
    "wand.kernel_share.taat_or": "ratio",
    "wand.kernel_share.taat_and": "ratio",
    "wand.kernel_share.blockmax_taat_or": "ratio",
    "wand.kernel_share.intersect_and": "ratio",
    "serve.http_overhead_ms": "ms",
    "serve.generator_lag_ms": "ms",
    "build.assign_ids_s": "s",
    "build.write_s": "s",
    "build.lexicon_merge_s": "s",
    "index.postings": "count",
    "index.blocks": "count",
    "index.bytes.blocks": "bytes",
    "index.bytes.docs_meta": "bytes",
    "index.bytes.lexicon": "bytes",
    "index.bytes_per_input_byte": "ratio",
    "append.append_s": "s",
    "append.lexicon_merge_s": "s",
    "catalog.term_dfs_ms": "ms",
    "catalog.refresh_ms": "ms",
    "query.construct_ms": "ms",
    "query.probe_jobs_per_call": "count",
    "query.execute_s": "s",
    "query.shuffle_bytes_per_call": "bytes",
    "query.python_stage_s": "s",
    "blocks.candidate_blocks_per_query": "count",
    "trace.overhead_ms": "ms",
    "trace.spans": "count",
}
for _span in ("build.assign_ids", "build.write", "build.lexicon_merge",
              "append.append", "query.construct", "query.execute"):
    LAYERS.update({
        f"{_span}.jobs": "count",
        f"{_span}.stages": "count",
        f"{_span}.tasks": "count",
        f"{_span}.executor_cpu_s": "s",
        f"{_span}.task_skew": "ratio",
    })

END_TO_END = {"setup_s": "s", "single_cpu_ms": "ms", "bulk_cpu_ms": "ms"}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # fail before any work when the engine is not beside the benchmark
    import web_search_engine_spark  # noqa: F401
    from scaling_bench import _cpu_stat

    run = common.Run(args.workload, args.seed, args.seconds, bool(args.trace))
    env = common.environment()
    steal0 = _cpu_stat()
    if args.workload == "refresh_batch":
        import refresh

        out = refresh.run_refresh(run)
    else:
        import serveload

        out = serveload.run_serve(run)
    steal1 = _cpu_stat()
    env["cpu_steal"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    env["loadavg_end"] = os.getloadavg()

    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace}")
    print("environment: " + json.dumps(env))
    for line in run.report:
        print(line)
    if args.trace:
        layers = out["layers"]
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in LAYERS.items()}
        print(f"trace: spans written to {os.path.relpath(run.trace_file, common.ROOT)}")
    else:
        metrics = {
            k: {"value": float(out["metrics"][k][0]), "unit": u}
            for k, u in END_TO_END.items()
        }
        for k, m in metrics.items():
            print(f"{args.workload} {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
