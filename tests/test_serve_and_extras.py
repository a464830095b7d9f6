"""Serving wrapper (reference app.py analog), snippets and subset
extract."""

import json
import urllib.request

import pytest

from web_search_engine_spark.operators.postings import assign_doc_ids
from web_search_engine_spark.plans.build_index import build_index
from web_search_engine_spark.plans.search import extract_subset, make_snippet
from web_search_engine_spark.plans.serve import make_server, serve_forever_in_thread
from web_search_engine_spark.sources.corpus import corpus_df


def test_snippet_window():
    text = "aaa " * 50 + "manhattan project was here" + " bbb" * 50
    s = make_snippet(text, "manhattan project", width=60)
    assert "manhattan" in s and "project" in s
    assert len(s) <= 60
    # no terms present -> prefix fallback
    assert make_snippet("hello world", "zzz") == "hello world"


def test_extract_subset(spark, tmp_path):
    src = corpus_df(spark, n_docs=100, seed=42)
    out = str(tmp_path / "subset")
    extract_subset(src, out, 25)
    assert spark.read.parquet(out).count() == 25


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    src = corpus_df(spark, n_docs=200, seed=42)
    build_index(spark, src, d, block_size=16, num_shards=2)
    docs = assign_doc_ids(src, ["repo", "path"])
    texts = {r["doc_id"]: r["content"] for r in docs.select("doc_id", "content").collect()}
    server = make_server(d, doc_texts=texts)
    serve_forever_in_thread(server)
    host, port = server.server_address
    yield f"http://{host}:{port}"
    server.shutdown()


def _post(url, payload):
    req = urllib.request.Request(
        url + "/search",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_frontend_page(served):
    """GET / serves the browser search page (reference:
    HW2/frontend/index.html — query box + AND/OR modes over POST
    /search)."""
    with urllib.request.urlopen(served + "/", timeout=30) as resp:
        assert resp.status == 200
        assert "text/html" in resp.headers["Content-Type"]
        page = resp.read().decode()
    for needle in ("/search", 'name="mode"', "AND", "OR", "<form"):
        assert needle in page
    # unknown GET paths 404
    try:
        urllib.request.urlopen(served + "/nope", timeout=30)
        raise AssertionError("expected 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404


def test_search_endpoint(served):
    code, body = _post(served, {"query": "manhattan project", "mode": "OR", "topk": 5})
    assert code == 200
    assert body["mode"] == "OR"
    assert 1 <= len(body["results"]) <= 5
    assert body["total"] == len(body["results"])
    assert body["search_ms"] >= 0
    top = body["results"][0]
    assert top["rank"] == 1 and top["score"] > 0
    assert "manhattan" in top.get("snippet", "").lower() or "project" in top.get("snippet", "").lower()


def test_search_endpoint_and_matches_or_scores(served):
    _, o = _post(served, {"query": "manhattan project", "mode": "OR", "topk": 10})
    _, a = _post(served, {"query": "manhattan project", "mode": "AND", "topk": 10})
    or_scores = {r["doc_id"]: r["score"] for r in o["results"]}
    for r in a["results"]:
        if r["doc_id"] in or_scores:  # AND docs score identically in OR
            assert abs(r["score"] - or_scores[r["doc_id"]]) < 1e-9


def test_search_endpoint_errors(served):
    code, body = _post(served, {"query": "x", "mode": "NEITHER"})
    assert code == 400 and "mode" in body["error"]
    code, _ = _post(served, {"query": ""})
    assert code == 200


def test_dl_store_dense_vs_sorted():
    """Dense direct-index store for compact id spaces; binary-search
    store for sparse/huge id spaces (8 bytes per SLOT vs 16 bytes per
    DOC — a billion-doc dense array would be 8 GB of driver memory)."""
    import numpy as np

    from web_search_engine_spark.plans.search import (
        _DenseDL,
        _SortedDL,
        _make_dl_store,
    )

    dense = _make_dl_store(np.array([0, 1, 2, 3]), np.array([5.0, 6.0, 7.0, 8.0]))
    assert isinstance(dense, _DenseDL)
    assert dense[2] == 7.0

    sparse = _make_dl_store(
        np.array([0, 5, 10**12]), np.array([3.0, 4.0, 5.0])
    )
    assert isinstance(sparse, _SortedDL)
    assert sparse[10**12] == 5.0
    assert sparse[5] == 4.0
    assert sparse[7] == 0.0  # absent id scores as dl=0 (never ranked)
    assert sparse[10**13] == 0.0  # beyond the last id


def test_search_engine_sparse_dl_rank_identical(spark, tmp_path, monkeypatch):
    """Force the sorted dl store on a real index: results must be
    identical to the dense path."""
    import web_search_engine_spark.plans.search as search_mod
    from web_search_engine_spark.plans.search import SearchEngine, _SortedDL

    d = str(tmp_path / "idx")
    build_index(spark, corpus_df(spark, n_docs=150, seed=42), d, num_shards=2)
    dense_eng = SearchEngine(d)
    want = dense_eng.search("manhattan project", "OR", 10)

    monkeypatch.setattr(search_mod, "_DENSE_DL_MAX_OVERHEAD", 0)
    sparse_eng = SearchEngine(d)
    assert isinstance(sparse_eng.snapshot.dl(), _SortedDL)
    assert sparse_eng.search("manhattan project", "OR", 10) == want
