"""Span wrappers around the engine's public functions, one installer per
process kind. Installing them replaces module attributes at run time;
the engine's files are not changed."""

from __future__ import annotations

from spans import Tracer

WAND_KERNELS = ("taat_or", "taat_and", "blockmax_taat_or", "intersect_and")


def install_search_hooks(tracer: Tracer) -> None:
    """plans.search and operators.wand spans for the serving process."""
    from web_search_engine_spark.functions.tokenizer import tokenize_query
    from web_search_engine_spark.operators import wand
    from web_search_engine_spark.plans import search

    def requested(args, kwargs, out):
        engine, query = args[0], args[1]
        return {"terms": len({t for t in tokenize_query(query) if t in engine._df})}

    def fetched(args, kwargs, out):
        return {"misses": len(args[1]), "rows": sum(len(r) for r in out.values())}

    def decoded(args, kwargs, out):
        return {"postings": len(out[0])}

    def scored(args, kwargs, out):
        return {"postings": sum(len(e[2]) for e in args[0])}

    tracer.wrap(search.SearchEngine, "search", "search.search", requested)
    tracer.wrap(search._BlockDirectory, "fetch", "search.fetch", fetched)
    tracer.wrap(wand, "decode_term_postings_fast", "wand.decode", decoded)
    for k in WAND_KERNELS:
        tracer.wrap(wand, k, f"wand.{k}", scored)


def install_spark_hooks(tracer: Tracer) -> None:
    """plans.build_index, operators.postings, streaming.incremental and
    sources.catalog spans for the Spark driver (the workload itself opens
    the plans.query spans around each call)."""
    from web_search_engine_spark.plans import build_index
    from web_search_engine_spark.sources import catalog
    from web_search_engine_spark.streaming import incremental

    tracer.wrap(build_index, "build_index", "build.build_index")
    for mod in (build_index, incremental):
        tracer.wrap(mod, "assign_doc_ids_counted", "build.assign_ids")
        tracer.wrap(mod, "merge_lexicon", "build.lexicon_merge")
    tracer.wrap(incremental, "append_batch", "append.append")
    tracer.wrap(catalog.IndexCatalog, "term_dfs", "catalog.term_dfs")
    tracer.wrap(catalog.IndexCatalog, "refresh", "catalog.refresh")
