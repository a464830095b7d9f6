"""CLI entry points — the reference's three build stages + query tool,
collapsed into subcommands (HW2 ran `python -m engine.build_runs_mp`,
`engine.parallel_merge`, `engine.merger`, then queried via scripts; here
the whole build is ONE Spark job and queries hit the built index).

Run locally:
    python -m web_search_engine_spark.cli build --source src.parquet --out /idx
    python -m web_search_engine_spark.cli query --index /idx --query "hash join" --mode AND
    python -m web_search_engine_spark.cli inspect --index /idx

Run on a cluster (package the engine as a zip for the executors):
    python -m web_search_engine_spark.cli package --out engine.zip
    spark-submit --py-files engine.zip -m ... (or use --master spark://...)
The subcommands honor $SPARK_GRAFT_MASTER, so the same invocation works
under spark-submit on a real cluster (where SparkSession comes from the
submit context).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _spark(args):
    from .session import get_spark

    return get_spark("wse-cli", master=args.master)


def cmd_build(args) -> None:
    from .plans.build_index import build_index
    from .sources.corpus import read_source_table

    spark = _spark(args)
    # accepts an Iceberg table identifier, parquet dir, .tsv or .jsonl
    src = read_source_table(spark, args.source, fmt=args.format)
    t0 = time.time()
    cat = build_index(
        spark,
        src,
        args.out,
        codec=args.codec,
        block_size=args.block_size,
        num_shards=args.shards,
        tokenizer=args.tokenizer,
        resume=not args.no_resume,
    )
    print(
        json.dumps(
            {
                "index_dir": args.out,
                "n_docs": cat.n_docs,
                "avgdl": round(cat.avgdl, 3),
                "codec": cat.codec,
                "build_sec": round(time.time() - t0, 2),
            }
        )
    )


def cmd_subset(args) -> None:
    """First-N-docs corpus sampler (reference HW2/extract_subset.py:15-32)
    over any supported source format. --order-by names the column that
    defines "first" (TSV/JSONL readers fold the line number into the
    zero-padded `path` column, so `--order-by path` reproduces file
    order; parquet corpora usually have a doc key) and makes the sample
    deterministic (TakeOrderedAndProject); omitted, Spark takes an
    arbitrary N rows — the cheaper choice when any sample will do."""
    from .plans.search import extract_subset
    from .sources.corpus import read_source_table

    spark = _spark(args)
    src = read_source_table(spark, args.source, fmt=args.format)
    if args.order_by:
        src = src.orderBy(args.order_by)
    extract_subset(src, args.out, args.limit)
    print(json.dumps({"out": args.out, "limit": args.limit}))


def cmd_query(args) -> None:
    from .plans.search import SearchEngine

    eng = SearchEngine(args.index)
    t0 = time.perf_counter()
    hits = eng.search(
        args.query, mode=args.mode, topk=args.topk, use_wand=not args.no_wand
    )
    ms = (time.perf_counter() - t0) * 1000
    for rank, (doc_id, score) in enumerate(hits, 1):
        print(f"{rank:3d}  doc {doc_id:>10d}  {score:.4f}")
    print(f"-- {len(hits)} hits in {ms:.1f} ms ({args.mode}, wand={not args.no_wand})")


def cmd_inspect(args) -> None:
    from .sources.catalog import blocks_layout, read_stats

    stats = read_stats(args.index)
    stats["blocks_layout"] = blocks_layout(args.index)
    print(json.dumps(stats, indent=1))


def cmd_serve(args) -> None:
    """JSON search service over a built index (the reference's Flask
    app.py analog; POST /search)."""
    from .plans.serve import make_server

    server = make_server(args.index, host=args.host, port=args.port)
    host, port = server.server_address
    print(f"serving {args.index} at http://{host}:{port} (POST /search)", flush=True)
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        pass


def cmd_ingest(args) -> None:
    """Streaming catch-up ingestion of new parquet files into an index."""
    from .sources.catalog import read_stats
    from .streaming.incremental import ingest_available

    spark = _spark(args)
    t0 = time.time()
    ingest_available(spark, args.source, args.index, tokenizer=args.tokenizer)
    stats = read_stats(args.index)
    print(
        json.dumps(
            {
                "index_dir": args.index,
                "n_docs": stats["n_docs"],
                "avgdl": round(float(stats["avgdl"]), 3),
                "ingest_sec": round(time.time() - t0, 2),
            }
        )
    )


def cmd_package(args) -> None:
    """Zip the package for spark-submit --py-files."""
    import os
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    with zipfile.ZipFile(args.out, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, root))
    print(f"wrote {args.out}")


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="web_search_engine_spark")
    p.add_argument("--master", default=None, help="spark master (default: env/local)")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build the blocked index")
    b.add_argument(
        "--source", required=True,
        help="corpus: Iceberg table id, parquet dir, .tsv or .jsonl "
             "(input_hint shape repo,path,commit,lang,content)",
    )
    b.add_argument(
        "--format", default=None,
        choices=["iceberg", "parquet", "tsv", "jsonl"],
        help="override source format sniffing",
    )
    b.add_argument("--out", required=True)
    b.add_argument("--codec", default="varbyte", choices=["varbyte", "raw"])
    b.add_argument("--block-size", type=int, default=128)
    b.add_argument("--shards", type=int, default=8)
    b.add_argument("--tokenizer", default="pandas", choices=["pandas", "sql"])
    b.add_argument("--no-resume", action="store_true")
    b.set_defaults(fn=cmd_build)

    x = sub.add_parser(
        "subset", help="extract the first N docs to a parquet subset"
    )
    x.add_argument("--source", required=True)
    x.add_argument(
        "--format", default=None,
        choices=["iceberg", "parquet", "tsv", "jsonl"],
    )
    x.add_argument("--out", required=True)
    x.add_argument("--limit", type=int, default=1000)
    x.add_argument(
        "--order-by", default=None,
        help="column defining 'first' (e.g. path for TSV/JSONL sources, "
             "whose reader folds the line number into it); "
             "omitted = arbitrary N rows",
    )
    x.set_defaults(fn=cmd_subset)

    q = sub.add_parser("query", help="interactive BM25 query against an index")
    q.add_argument("--index", required=True)
    q.add_argument("--query", required=True)
    q.add_argument("--mode", default="OR", choices=["OR", "AND", "or", "and"])
    q.add_argument("--topk", type=int, default=10)
    q.add_argument("--no-wand", action="store_true")
    q.set_defaults(fn=cmd_query)

    i = sub.add_parser("inspect", help="print index stats and blocks layout")
    i.add_argument("--index", required=True)
    i.set_defaults(fn=cmd_inspect)

    s = sub.add_parser(
        "serve", help="search service (browser page at GET /, JSON POST /search)"
    )
    s.add_argument("--index", required=True)
    s.add_argument("--host", default="127.0.0.1")
    s.add_argument("--port", type=int, default=8080)
    s.set_defaults(fn=cmd_serve)

    g = sub.add_parser("ingest", help="stream new parquet files into an index")
    g.add_argument("--source", required=True, help="directory of incoming parquet files")
    g.add_argument("--index", required=True)
    g.add_argument("--tokenizer", default="pandas", choices=["pandas", "sql"])
    g.set_defaults(fn=cmd_ingest)

    z = sub.add_parser("package", help="zip the engine for spark-submit --py-files")
    z.add_argument("--out", default="web_search_engine_spark.zip")
    z.set_defaults(fn=cmd_package)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main(sys.argv[1:])
