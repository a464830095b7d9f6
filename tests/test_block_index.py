"""Milestone 2: physical block index — invariants, byte-compat, resume,
and rank-identity across all four query paths."""

import math
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.oracle import OracleIndex
from web_search_engine_spark.operators.blocks import (
    blocks_to_postings,
    build_block_index,
    lexicon_from_blocks,
)
from web_search_engine_spark.operators.postings import (
    assign_doc_ids,
    build_postings,
    with_tokens,
)
from web_search_engine_spark.plans.build_index import build_index
from web_search_engine_spark.plans.query import score_queries
from web_search_engine_spark.plans.search import SearchEngine, batch_score
from web_search_engine_spark.sources.corpus import (
    corpus_df,
    corpus_docs,
    generate_corpus_pdf,
)

QUERIES = [
    ("q2", "communication policy"),
    ("q3", "manhattan project"),
    ("q4", "manhattan project bomb"),
    ("q5", "u.s policy"),
    ("q6", "3.14 math"),
    ("q8", "machine learning"),
    ("q9", "communication"),
    ("q10", "the the import"),
]


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index"))
    src = corpus_df(spark, n_docs=400, seed=42)
    build_index(spark, src, d, codec="varbyte", block_size=16, num_shards=4)
    return d


@pytest.fixture(scope="module")
def oracle():
    return OracleIndex(corpus_docs(400, 42))


def _reference_spec_blocks(postings_by_term, block_size=16, shard_size=None):
    """Scalar writer implementing the published reference block format
    (HW2/engine/listio.py:44-79) — an independent second implementation
    used to pin byte-compatibility of the Spark-built payloads. With a
    ``shard_size`` each term's list splits per doc_id // shard_size, and
    each shard's gap chain starts again at base 0. -> {(term, shard):
    [(n, last_docid, base_docid, max_tf, doc_bytes, freq_bytes)]}"""

    def vb(x):
        out = bytearray()
        while True:
            byte = x & 0x7F
            x >>= 7
            if x == 0:
                out.append(byte | 0x80)
                return bytes(out)
            out.append(byte)

    result = {}
    for term, postings in postings_by_term.items():
        for doc_id, tf in sorted(postings.items()):
            shard = doc_id // shard_size if shard_size else 0
            result.setdefault((term, shard), []).append((doc_id, tf))
    for key, items in result.items():
        blocks = []
        prev_last = 0
        for i in range(0, len(items), block_size):
            chunk = items[i : i + block_size]
            docids = [d for d, _ in chunk]
            freqs = [f for _, f in chunk]
            doc_bytes = bytearray()
            prev = prev_last
            for d in docids:
                doc_bytes += vb(d - prev)
                prev = d
            freq_bytes = b"".join(vb(f) for f in freqs)
            blocks.append(
                (len(chunk), docids[-1], prev_last, max(freqs),
                 bytes(doc_bytes), freq_bytes)
            )
            prev_last = docids[-1]
        result[key] = blocks
    return result


def test_block_invariants(spark, index_dir, oracle):
    blocks = spark.read.parquet(os.path.join(index_dir, "blocks"))
    rows = blocks.collect()
    by_term_shard = {}
    for r in rows:
        assert 1 <= r["n"] <= 16
        assert r["max_tf"] >= 1
        by_term_shard.setdefault((r["term"], r["shard"]), []).append(r)
    for (term, _shard), rs in by_term_shard.items():
        rs.sort(key=lambda r: r["block_id"])
        assert [r["block_id"] for r in rs] == list(range(len(rs)))
        lasts = [r["last_docid"] for r in rs]
        assert lasts == sorted(lasts)
        # base chain: block 0 base 0, then previous last_docid
        assert rs[0]["base_docid"] == 0
        for prev, cur in zip(rs, rs[1:]):
            assert cur["base_docid"] == prev["last_docid"]
    # sum(n) over blocks == df
    lex = {r["term"]: r["df"] for r in lexicon_from_blocks(blocks).collect()}
    assert lex == oracle.df


def test_byte_compat_single_shard(spark, oracle):
    """Block payloads are byte-identical to the reference format: with
    one shard (the reference's whole-corpus build) and with several,
    where each shard's gap chain restarts at base 0."""
    src = assign_doc_ids(corpus_df(spark, n_docs=400, seed=42), ["repo", "path"])
    postings = build_postings(with_tokens(src, "content")).cache()
    try:
        for shard_size in (None, 60):
            blocks = build_block_index(
                postings, block_size=16, codec="varbyte", shard_size=shard_size
            )
            got = {}
            for r in blocks.collect():
                got.setdefault((r["term"], r["shard"]), []).append(r)
            want = _reference_spec_blocks(
                oracle.index, block_size=16, shard_size=shard_size
            )
            assert set(got) == set(want), shard_size
            if shard_size:
                assert len({s for _, s in want}) == 7
            for key, wblocks in want.items():
                grs = sorted(got[key], key=lambda r: r["block_id"])
                assert [r["block_id"] for r in grs] == list(range(len(wblocks))), key
                got_blocks = [
                    (r["n"], r["last_docid"], r["base_docid"], r["max_tf"],
                     bytes(r["doc_bytes"]), bytes(r["freq_bytes"]))
                    for r in grs
                ]
                assert got_blocks == wblocks, key
    finally:
        postings.unpersist()


def test_index_tables_consistent(spark, index_dir, oracle):
    blocks = spark.read.parquet(os.path.join(index_dir, "blocks"))
    decoded = blocks_to_postings(blocks, codec="varbyte")
    got = {}
    for r in decoded.collect():
        got.setdefault(r["term"], {})[r["doc_id"]] = r["tf"]
    assert got == dict(oracle.index)
    # doc_stats == oracle doc_lengths; dl == sum(tf)
    ds = {r["doc_id"]: r["dl"] for r in
          spark.read.parquet(os.path.join(index_dir, "docs_meta")).select("doc_id", "dl").collect()}
    assert ds == oracle.doc_lengths
    from_postings = {
        r["doc_id"]: r["dl"]
        for r in decoded.groupBy("doc_id").agg(F.sum("tf").alias("dl")).collect()
    }
    nonzero = {d: l for d, l in oracle.doc_lengths.items() if l > 0}
    assert from_postings == nonzero


def test_sequential_writes_match_overlapped(
    spark, index_dir, tmp_path, monkeypatch
):
    """The sequential write schedule (blocks, then docs_meta — the shape
    a postings-derived dl build takes) must produce the identical index
    to the overlapped schedule of the index_dir fixture (both writes
    submitted concurrently on the tokenize-derived dl)."""
    import web_search_engine_spark.plans.build_index as B

    monkeypatch.setattr(B, "_DL_AUTO_MIN_DOCS", 0)
    assert B._dl_source(400) == "postings"
    d = str(tmp_path / "seq_index")
    src = corpus_df(spark, n_docs=400, seed=42)
    build_index(spark, src, d, codec="varbyte", block_size=16, num_shards=4)

    def table(root, name, cols):
        return sorted(
            tuple(r[c] for c in cols)
            for r in spark.read.parquet(os.path.join(root, name))
            .select(*cols).collect()
        )

    meta_cols = ["doc_id", "dl", "content_sha256"]
    assert table(d, "docs_meta", meta_cols) == table(
        index_dir, "docs_meta", meta_cols
    )
    blk_cols = ["term", "block_id", "last_docid", "doc_bytes", "freq_bytes"]
    assert table(d, "blocks", blk_cols) == table(index_dir, "blocks", blk_cols)


def test_sha256_invariant_in_doc_map(spark, index_dir):
    src = assign_doc_ids(corpus_df(spark, n_docs=400, seed=42), ["repo", "path"])
    want = {r["doc_id"]: r["h"] for r in
            src.select("doc_id", F.sha2("content", 256).alias("h")).collect()}
    got = {r["doc_id"]: r["content_sha256"] for r in
           spark.read.parquet(os.path.join(index_dir, "docs_meta")).collect()}
    assert got == want


@pytest.mark.parametrize("mode", ["OR", "AND"])
def test_rank_identity_all_paths(spark, index_dir, oracle, mode):
    """oracle == SearchEngine(WAND) == SearchEngine(unpruned) ==
    distributed batch_score over the index."""
    eng = SearchEngine(index_dir)
    from web_search_engine_spark.sources.catalog import IndexCatalog

    cat = IndexCatalog(spark, index_dir)
    batch = batch_score(cat, QUERIES, mode=mode, topk=10)
    by_q = {}
    for r in batch.collect():
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))

    for qid, query in QUERIES:
        want = oracle.search(query, mode=mode, topk=10)
        wand = eng.search(query, mode=mode, topk=10, use_wand=True)
        plain = eng.search(query, mode=mode, topk=10, use_wand=False)
        dist = [(d, s) for _, d, s in sorted(by_q.get(qid, []))]
        for name, got in [("wand", wand), ("plain", plain), ("batch", dist)]:
            assert len(got) == len(want), (qid, name, len(got), len(want))
            for (gd, gs), (od, os_) in zip(got, want):
                assert gd == od, (qid, name, mode, gd, od)
                assert math.isclose(gs, os_, rel_tol=1e-9), (qid, name, gd)


def test_wand_matches_unpruned_on_random_queries(index_dir, oracle):
    """bench_search.py pattern: random 2-term queries sampled from the
    lexicon (seed 1234) — WAND must equal unpruned exactly."""
    import random

    eng = SearchEngine(index_dir)
    rng = random.Random(1234)
    vocab = sorted(oracle.index)
    for _ in range(60):
        q = f"{rng.choice(vocab)} {rng.choice(vocab)}"
        a = eng.search(q, mode="OR", topk=10, use_wand=True)
        b = eng.search(q, mode="OR", topk=10, use_wand=False)
        assert [d for d, _ in a] == [d for d, _ in b], q
        for (_, sa), (_, sb) in zip(a, b):
            assert math.isclose(sa, sb, rel_tol=1e-12), q


def test_resume_produces_identical_index(spark, tmp_path):
    """Kill-and-resume: shards built in two attempts equal a clean build."""
    src = corpus_df(spark, n_docs=400, seed=42)
    clean_dir = str(tmp_path / "clean")
    build_index(spark, src, clean_dir, block_size=16, num_shards=4)

    resumed_dir = str(tmp_path / "resumed")
    # attempt 1: only shards {0, 1} (simulate a kill by restricting input)
    docs = assign_doc_ids(src, ["repo", "path"])
    n_docs = docs.count()
    shard_size = -(-n_docs // 4)
    partial = docs.filter((F.col("doc_id") / shard_size).cast("int") < 2).drop("doc_id")
    build_index(spark, partial, resumed_dir, block_size=16, num_shards=2)
    # the partial build wrote shards 0-1 and its manifest rows; attempt 2
    # resumes over the FULL source and must only build shards 2-3
    build_index(spark, src, resumed_dir, block_size=16, num_shards=4)

    for sub in ["blocks", "docs_meta"]:
        a = spark.read.parquet(os.path.join(clean_dir, sub))
        b = spark.read.parquet(os.path.join(resumed_dir, sub))
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, sub
    manifest = spark.read.parquet(os.path.join(resumed_dir, "manifest"))
    assert {r["shard"] for r in manifest.collect()} == {0, 1, 2, 3}


def test_resume_config_mismatch_fails_fast(spark, tmp_path):
    """Resuming with a different codec/block_size would silently mix
    incompatible shards in one index — must raise instead."""
    from web_search_engine_spark.plans.build_index import build_index

    d = str(tmp_path / "idx")
    src = corpus_df(spark, n_docs=60, seed=42)
    build_index(spark, src, d, codec="varbyte", block_size=16, num_shards=2)
    with pytest.raises(ValueError, match="resume config mismatch"):
        build_index(spark, src, d, codec="raw", block_size=16, num_shards=2)
    with pytest.raises(ValueError, match="resume config mismatch"):
        build_index(spark, src, d, codec="varbyte", block_size=32, num_shards=2)


def test_empty_source_builds_clean_empty_index(spark, tmp_path):
    from web_search_engine_spark.plans.build_index import build_index
    from web_search_engine_spark.plans.search import SearchEngine

    d = str(tmp_path / "idx")
    src = corpus_df(spark, n_docs=50, seed=42).filter("1 = 0")
    cat = build_index(spark, src, d, num_shards=2)
    assert cat.n_docs == 0
    assert cat.blocks().count() == 0
    assert cat.lexicon().count() == 0
    eng = SearchEngine(d)
    assert eng.search("anything at all") == []


def test_manifest_metrics_match_tables(spark, tmp_path):
    """Per-shard manifest rows ride the writes as Observation metrics —
    they must equal what a direct aggregation of the written tables
    says (guards the conditional-agg expressions), for a build's shards
    and for an append's, and stats.json must equal their rollup."""
    from web_search_engine_spark.plans.build_index import _read_manifest_rows
    from web_search_engine_spark.sources.catalog import read_stats
    from web_search_engine_spark.streaming.incremental import append_batch

    d = str(tmp_path / "idx")
    first, rest = _split_corpus(spark, 280, 200, seed=42)
    build_index(spark, first, d, num_shards=3)
    assert append_batch(spark, rest, d, batch_id=0) == 80

    rows = _read_manifest_rows(d)
    man = {
        int(r["shard"]): (int(r["n_docs"]), int(r["sum_dl"]),
                          int(r["n_postings"]), int(r["n_blocks"]))
        for r in rows
    }
    assert len(man) == len(rows)  # one row per shard
    assert set(man) == {0, 1, 2, 3, 4}  # 3 built, 2 appended
    meta = {
        int(r["shard"]): (int(r["nd"]), int(r["sdl"]))
        for r in spark.read.parquet(os.path.join(d, "docs_meta"))
        .groupBy("shard").agg(F.count("*").alias("nd"), F.sum("dl").alias("sdl"))
        .collect()
    }
    blk = {
        int(r["shard"]): (int(r["np"]), int(r["nb"]))
        for r in spark.read.parquet(os.path.join(d, "blocks"))
        .groupBy("shard").agg(F.sum("n").alias("np"), F.count("*").alias("nb"))
        .collect()
    }
    assert set(man) == set(meta) == set(blk)
    for s, (nd, sdl, np_, nb) in man.items():
        assert (nd, sdl) == meta[s], s
        assert (np_, nb) == blk[s], s

    # stats.json must equal the manifest rollup
    st = read_stats(d)
    assert st["n_docs"] == sum(v[0] for v in man.values()) == 280
    total_dl = sum(v[1] for v in man.values())
    assert abs(st["avgdl"] - total_dl / st["n_docs"]) < 1e-9


def _sorted_rows(spark, d, table, cols):
    return sorted(
        tuple(r) for r in spark.read.parquet(f"{d}/{table}").select(*cols).collect()
    )


BLOCK_COLS = [
    "term", "shard", "block_id", "n", "last_docid", "base_docid",
    "max_tf", "doc_bytes", "freq_bytes",
]
META_COLS = ["shard", "doc_id", "repo", "path", "dl", "content_sha256"]


def test_dl_from_postings_matches_tokenize(spark, tmp_path, monkeypatch):
    """ADVICE r3: the dl-from-postings docs_meta derivation (the path
    every >=200k-doc production build takes) was only exercised by
    benchmarks. Force it on a small build by lowering the _dl_source
    threshold and assert docs_meta — including zero-token docs, which
    have NO postings rows and must come back dl=0 via the left join
    coalesce — is row-identical to the tokenize-path build. The two
    builds also differ in write scheduling (the postings side writes
    blocks then docs_meta, the tokenize side overlaps them), so the
    blocks tables must match too, payload bytes included."""
    import web_search_engine_spark.plans.build_index as B
    from web_search_engine_spark.sources.catalog import read_stats

    src = corpus_df(spark, n_docs=150, seed=42)  # kind==7 rows: dl=0
    d_tok = str(tmp_path / "tok")
    d_post = str(tmp_path / "post")
    assert B._dl_source(150) == "tokenize"
    B.build_index(spark, src, d_tok, num_shards=3)
    monkeypatch.setattr(B, "_DL_AUTO_MIN_DOCS", 0)
    assert B._dl_source(150) == "postings"
    B.build_index(spark, src, d_post, num_shards=3)

    a = _sorted_rows(spark, d_tok, "docs_meta", META_COLS)
    assert a == _sorted_rows(spark, d_post, "docs_meta", META_COLS)
    assert any(t[4] == 0 for t in a)  # the zero-token docs are present
    blocks = _sorted_rows(spark, d_tok, "blocks", BLOCK_COLS)
    assert blocks == _sorted_rows(spark, d_post, "blocks", BLOCK_COLS)
    assert len(blocks) > 0
    sa, sb = read_stats(d_tok), read_stats(d_post)
    assert sa["n_docs"] == sb["n_docs"] and sa["avgdl"] == sb["avgdl"]


def _record_rule(monkeypatch, module, name):
    """Wrap an auto-rule function so a test can see what it decided."""
    decided = []
    rule = getattr(module, name)

    def spy(*args):
        decided.append(rule(*args))
        return decided[-1]

    monkeypatch.setattr(module, name, spy)
    return decided


def test_dl_join_strategies_identical(spark, tmp_path, monkeypatch):
    """dl join broadcast vs shuffle (VERDICT r4 #3: the docs_meta join
    was always sort-merge; small corpora now broadcast the dl side) must
    produce identical docs_meta. The postings-derived dl is forced so
    the join exists at this corpus size; each side is forced through
    the _dl_join threshold."""
    import web_search_engine_spark.plans.build_index as B

    src = corpus_df(spark, n_docs=200, seed=9)
    monkeypatch.setattr(B, "_DL_AUTO_MIN_DOCS", 0)
    decided = _record_rule(monkeypatch, B, "_dl_join")
    outs = {}
    for strat, cap in (("broadcast", 10**9), ("shuffle", -1)):
        monkeypatch.setattr(B, "_DL_BROADCAST_MAX_DOCS", cap)
        d = str(tmp_path / strat)
        B.build_index(spark, src, d, num_shards=2)
        assert decided[-1] == strat
        outs[strat] = _sorted_rows(spark, d, "docs_meta", META_COLS)
    assert outs["broadcast"] == outs["shuffle"] and len(outs["broadcast"]) == 200


def test_dl_agg_strategies_identical(spark, tmp_path, monkeypatch):
    """dl aggregation partial vs repartition (round-5 docs_meta fix):
    the repartition-first dl plan — project (doc_id, tf),
    hash-repartition by doc_id, then aggregate — must produce docs_meta
    row-identical to the stock partial-agg plan. The partial plan's
    exchange grows as P x n_docs (anti-scaling at wide parallelism,
    BENCH.md round-5 decomposition); the repartition plan's is constant
    |postings|. Zero-token docs (no postings rows) must survive both via
    the left join coalesce. Each side is forced through the _dl_agg
    reduction threshold."""
    import web_search_engine_spark.plans.build_index as B

    src = corpus_df(spark, n_docs=150, seed=42)  # kind==7 rows: dl=0
    monkeypatch.setattr(B, "_DL_AUTO_MIN_DOCS", 0)
    decided = _record_rule(monkeypatch, B, "_dl_agg")
    outs = {}
    for strat, reduction in (("partial", 0), ("repartition", 10**9)):
        monkeypatch.setattr(B, "_DL_AGG_MIN_REDUCTION", reduction)
        d = str(tmp_path / strat)
        B.build_index(spark, src, d, num_shards=3)
        assert decided[-1] == strat
        outs[strat] = _sorted_rows(spark, d, "docs_meta", META_COLS)
    assert outs["partial"] == outs["repartition"]
    assert len(outs["partial"]) == 150
    assert any(t[4] == 0 for t in outs["partial"])  # dl=0 docs kept


def test_failed_blocks_write_releases_caches_and_resumes(
    spark, tmp_path, monkeypatch
):
    """Fault injection on the postings-derived dl path: the blocks write
    completes its job and then raises. The build must release every
    handle it persisted (the source-row cache and the postings) on the
    way out, and a resumed build over the same directory must write the
    same tables as a clean build."""
    import web_search_engine_spark.plans.build_index as B

    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    src = corpus_df(spark, n_docs=120, seed=21)
    monkeypatch.setattr(B, "_DL_AUTO_MIN_DOCS", 0)
    spark.catalog.clearCache()
    assert persisted() == 0
    real_write = B.write_blocks

    def failing_write(blocks, index_dir):
        real_write(blocks, index_dir)
        assert persisted() >= 2  # the source rows and the postings
        raise RuntimeError("injected blocks-write failure")

    d = str(tmp_path / "resumed")
    monkeypatch.setattr(B, "write_blocks", failing_write)
    with pytest.raises(RuntimeError, match="injected"):
        B.build_index(spark, src, d, num_shards=3)
    assert persisted() == 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert not os.path.exists(os.path.join(d, "manifest"))

    monkeypatch.setattr(B, "write_blocks", real_write)
    B.build_index(spark, src, d, num_shards=3)
    clean = str(tmp_path / "clean")
    B.build_index(spark, src, clean, num_shards=3)
    for table, cols in (
        ("blocks", BLOCK_COLS),
        ("docs_meta", META_COLS),
        ("lexicon", ["term", "df", "nblocks", "max_tf"]),
    ):
        assert _sorted_rows(spark, d, table, cols) == _sorted_rows(
            spark, clean, table, cols
        ), table


def _split_corpus(spark, n_docs, n_base, seed):
    """(base, batch) frames over disjoint halves of one corpus, built
    from pandas so neither is cached."""
    pdf = generate_corpus_pdf(n_docs, seed)
    return (
        spark.createDataFrame(pdf[:n_base].reset_index(drop=True)),
        spark.createDataFrame(pdf[n_base:].reset_index(drop=True)),
    )


def _index_tables(spark, d):
    return {
        table: _sorted_rows(spark, d, table, cols)
        for table, cols in (
            ("blocks", BLOCK_COLS),
            ("docs_meta", META_COLS),
            ("lexicon", ["term", "df", "nblocks", "max_tf"]),
        )
    }


def test_append_takes_the_build_rules(spark, tmp_path, monkeypatch):
    """append_batch writes through the build's shard writer, so the rows
    it writes and the Σdl its manifest rows record must not depend on which
    side of the build's rules the batch falls: dl from a second tokenize
    pass or from the postings (_DL_AUTO_MIN_DOCS), per-shard counts from
    Observations or post hoc (OBSERVE_MAX_SHARDS)."""
    import web_search_engine_spark.plans.build_index as B
    from web_search_engine_spark.plans.build_index import _read_manifest_rows
    from web_search_engine_spark.streaming.incremental import append_batch

    first, rest = _split_corpus(spark, 200, 120, seed=17)
    base = str(tmp_path / "base")
    B.build_index(spark, first, base, num_shards=3)
    dl_source = _record_rule(monkeypatch, B, "_dl_source")
    post_hoc = _record_rule(monkeypatch, B, "_post_hoc_shard_stats")
    outs = {}
    for name, knob, value, want_dl in (
        ("default", None, None, "tokenize"),
        ("postings_dl", "_DL_AUTO_MIN_DOCS", 0, "postings"),
        ("post_hoc_counts", "OBSERVE_MAX_SHARDS", 0, "tokenize"),
    ):
        d = str(tmp_path / name)
        shutil.copytree(base, d)
        with monkeypatch.context() as m:
            if knob:
                m.setattr(B, knob, value)
            n_calls = len(post_hoc)
            assert append_batch(spark, rest, d, batch_id=0) == 80
        assert dl_source[-1] == want_dl, name
        assert (len(post_hoc) > n_calls) == (knob == "OBSERVE_MAX_SHARDS"), name
        appended = [r for r in _read_manifest_rows(d) if r["shard"] >= 3]
        outs[name] = (
            _index_tables(spark, d),
            sum(r["n_docs"] for r in appended),
            sum(r["sum_dl"] for r in appended),
        )
    assert outs["default"] == outs["postings_dl"] == outs["post_hoc_counts"]
    tables, n_docs, sum_dl = outs["default"]
    new_meta = [r for r in tables["docs_meta"] if r[0] >= 3]  # appended shards
    assert n_docs == len(new_meta) == 80
    assert sum_dl == sum(r[4] for r in new_meta) > 0


def _assert_stats_match_tables(spark, d, n_docs):
    """stats.json's n_docs/avgdl equal a scan of docs_meta, which holds
    ``n_docs`` rows."""
    from web_search_engine_spark.sources.catalog import read_stats

    st = read_stats(d)
    r = spark.read.parquet(os.path.join(d, "docs_meta")).agg(
        F.count("*").alias("n"), F.sum("dl").alias("sdl")
    ).first()
    assert st["n_docs"] == r["n"] == n_docs
    assert abs(st["avgdl"] - r["sdl"] / r["n"]) < 1e-9


def test_resume_after_append_keeps_appended_docs(spark, tmp_path):
    """An appended batch's shards are committed shards: a resumed build
    over the same source keeps counting their docs in n_docs/avgdl."""
    from web_search_engine_spark.sources.catalog import read_stats
    from web_search_engine_spark.streaming.incremental import append_batch

    first, rest = _split_corpus(spark, 150, 120, seed=7)
    d = str(tmp_path / "idx")
    build_index(spark, first, d, block_size=16, num_shards=4)
    assert append_batch(spark, rest, d, batch_id=0) == 30
    before = read_stats(d)
    build_index(spark, first, d, block_size=16, num_shards=4)
    after = read_stats(d)
    assert (after["n_docs"], after["avgdl"]) == (before["n_docs"], before["avgdl"])
    _assert_stats_match_tables(spark, d, 150)


def test_rebuild_starts_a_new_index(spark, tmp_path):
    """resume=False removes the old index's tables, manifest and ledger
    (and nothing else) before it writes: a rebuild with fewer shards
    leaves exactly its own shards, and a following append counts
    right."""
    from web_search_engine_spark.plans.build_index import _read_manifest_rows
    from web_search_engine_spark.streaming.incremental import append_batch

    first, rest = _split_corpus(spark, 150, 120, seed=7)
    d = str(tmp_path / "idx")
    build_index(spark, first, d, block_size=16, num_shards=4)
    assert append_batch(spark, rest, d, batch_id=0) == 30
    os.makedirs(os.path.join(d, "_stream_checkpoint"))
    with open(os.path.join(d, "notes.txt"), "w") as f:
        f.write("kept")

    build_index(spark, first, d, block_size=16, num_shards=2, resume=False)
    for table in ("blocks", "docs_meta"):
        shard_dirs = {
            e for e in os.listdir(os.path.join(d, table)) if e.startswith("shard=")
        }
        assert shard_dirs == {"shard=0", "shard=1"}, table
    assert sorted(r["shard"] for r in _read_manifest_rows(d)) == [0, 1]
    assert not os.path.exists(os.path.join(d, "_batch_ledger.json"))
    assert os.path.isdir(os.path.join(d, "_stream_checkpoint"))
    assert os.path.isfile(os.path.join(d, "notes.txt"))
    _assert_stats_match_tables(spark, d, 120)

    assert append_batch(spark, rest, d, batch_id=0) == 30
    _assert_stats_match_tables(spark, d, 150)


def test_empty_resume_starts_a_clean_index(spark, tmp_path):
    """build_index(resume=True) over an empty source commits an empty
    index and drops the old index's manifest rows with its data: a
    following append counts only its own docs."""
    from web_search_engine_spark.plans.build_index import _read_manifest_rows
    from web_search_engine_spark.streaming.incremental import append_batch

    base, batch = _split_corpus(spark, 80, 60, seed=3)
    d = str(tmp_path / "idx")
    build_index(spark, base, d, block_size=16, num_shards=2)
    assert len(_read_manifest_rows(d)) == 2
    build_index(spark, base.limit(0), d, block_size=16, num_shards=2)
    assert _read_manifest_rows(d) == []

    assert append_batch(spark, batch, d, batch_id=0) == 20
    _assert_stats_match_tables(spark, d, 20)
    meta = spark.read.parquet(os.path.join(d, "docs_meta"))
    appended = {r["shard"] for r in meta.select("shard").distinct().collect()}
    manifest = _read_manifest_rows(d)
    assert {r["shard"] for r in manifest} == appended
    assert sum(r["n_docs"] for r in manifest) == 20


def test_append_counts_batches_of_the_pre_manifest_layout(spark, tmp_path):
    """An index appended to before appends wrote manifest rows has only
    its build's rows, and its committed ledger entries carry the batch's
    n_docs/sum_dl: the rollup keeps counting those entries, and one more
    append counts right."""
    import json

    import pyarrow.compute as pc
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    from web_search_engine_spark.streaming.incremental import append_batch

    pdf = generate_corpus_pdf(160, 29)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf[:100]), d, num_shards=2)
    assert append_batch(spark, spark.createDataFrame(pdf[100:130]), d, batch_id=0) == 30

    # rewrite to the old layout: drop the appended shards' manifest rows
    # and move their counts into the ledger entry
    man = os.path.join(d, "manifest")
    rows = pads.dataset(man, format="parquet").to_table()
    built = rows.filter(pc.less(rows["shard"], 2))
    appended = rows.filter(pc.greater_equal(rows["shard"], 2)).to_pylist()
    assert appended
    shutil.rmtree(man)
    os.makedirs(man)
    pq.write_table(built, os.path.join(man, "part-0.parquet"))
    ledger_path = os.path.join(d, "_batch_ledger.json")
    with open(ledger_path) as f:
        ledger = json.load(f)
    ledger["batches"]["0"].update(
        n_docs=sum(r["n_docs"] for r in appended),
        sum_dl=sum(r["sum_dl"] for r in appended),
    )
    with open(ledger_path, "w") as f:
        json.dump(ledger, f)

    assert append_batch(spark, spark.createDataFrame(pdf[130:]), d, batch_id=1) == 30
    _assert_stats_match_tables(spark, d, 160)
    with open(ledger_path) as f:
        entry = json.load(f)["batches"]["1"]
    assert set(entry) == {"base", "committed"}


@pytest.mark.parametrize("dl_source", ["tokenize", "postings"])
def test_failed_append_blocks_write_releases_caches_and_converges(
    spark, tmp_path, monkeypatch, dl_source
):
    """Fault injection on the append path: the blocks write completes
    its job and then raises. The append must release every handle it
    persisted, and re-delivering the batch (a replay of an uncommitted
    batch) must converge to the tables and stats of a clean append."""
    import web_search_engine_spark.plans.build_index as B
    from web_search_engine_spark.sources.catalog import read_stats
    from web_search_engine_spark.streaming.incremental import append_batch

    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    first, rest = _split_corpus(spark, 160, 100, seed=23)
    d, clean = str(tmp_path / "redelivered"), str(tmp_path / "clean")
    B.build_index(spark, first, d, num_shards=2)
    shutil.copytree(d, clean)
    if dl_source == "postings":
        monkeypatch.setattr(B, "_DL_AUTO_MIN_DOCS", 0)
    decided = _record_rule(monkeypatch, B, "_dl_source")
    spark.catalog.clearCache()
    assert persisted() == 0
    real_write = B.write_blocks

    def failing_write(blocks, index_dir):
        real_write(blocks, index_dir)
        # the batch's source rows, and the postings when dl comes from them
        assert persisted() >= (2 if dl_source == "postings" else 1)
        raise RuntimeError("injected blocks-write failure")

    monkeypatch.setattr(B, "write_blocks", failing_write)
    with pytest.raises(RuntimeError, match="injected"):
        append_batch(spark, rest, d, batch_id=0)
    assert decided[-1] == dl_source
    assert persisted() == 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    monkeypatch.setattr(B, "write_blocks", real_write)
    assert append_batch(spark, rest, d, batch_id=0) == 60
    assert append_batch(spark, rest, clean, batch_id=0) == 60
    assert _index_tables(spark, d) == _index_tables(spark, clean)
    got, want = read_stats(d), read_stats(clean)
    assert (got["n_docs"], got["avgdl"]) == (want["n_docs"], want["avgdl"])
    assert got["n_docs"] == 160


def test_arrow_records_cap_derives_from_row_bound(monkeypatch):
    """ADVICE r4: with the Arrow byte cap removed, the records cap must
    come from the declared row-width bound so wide-row corpora don't
    produce multi-GB Arrow batches."""
    from web_search_engine_spark.session import arrow_records_per_batch

    monkeypatch.delenv("WSE_EXPECTED_ROW_BYTES", raising=False)
    assert arrow_records_per_batch() == 65536  # default == measured optimum
    monkeypatch.setenv("WSE_EXPECTED_ROW_BYTES", "300000")
    cap = arrow_records_per_batch()
    assert 256 <= cap < 1024  # ~894: 300 KB docs -> ~256 MB batches
    monkeypatch.setenv("WSE_EXPECTED_ROW_BYTES", str(1 << 30))
    assert arrow_records_per_batch() == 256  # floor keeps batches useful


def test_doc_id_runtime_invariant_gate(spark, monkeypatch):
    """WSE_VERIFY_DOC_IDS=1 adds the partition-local-position contiguity
    check (ADVICE r3: the id layout rests on Spark internals a version
    bump could change) — it must pass on the installed Spark and still
    produce the same dense ids."""
    from web_search_engine_spark.operators.postings import assign_doc_ids_counted
    from web_search_engine_spark.sources.corpus import corpus_df as cdf

    monkeypatch.setenv("WSE_VERIFY_DOC_IDS", "1")
    src = cdf(spark, n_docs=97, seed=7).repartition(13)
    out, n, handle = assign_doc_ids_counted(src, ["repo", "path"])
    try:
        rows = out.select("doc_id", "repo", "path").collect()
    finally:
        handle.unpersist()
    assert n == 97
    ids = sorted(r["doc_id"] for r in rows)
    assert ids == list(range(97))  # dense 0..n-1
    by_key = sorted(rows, key=lambda r: (r["repo"], r["path"]))
    assert [r["doc_id"] for r in by_key] == list(range(97))  # rank order


@pytest.mark.parametrize("mode", ["OR", "AND"])
def test_three_kernels_identical(index_dir, oracle, monkeypatch, mode):
    """TAAT (vectorized), the pruned kernel (block-max TAAT for OR,
    searchsorted intersection for AND) and the unpruned cursor DAAT
    must agree doc-for-doc with bit-identical scores: all kernels sum
    the per-term contributions in sorted-term order with the same
    float64 expression (float addition is not associative — the
    summation order is a pinned invariant, VERDICT r2 #3)."""
    import random

    import web_search_engine_spark.operators.wand as W

    eng = SearchEngine(index_dir)
    rng = random.Random(99)
    vocab = sorted(oracle.index)
    queries = [f"{rng.choice(vocab)} {rng.choice(vocab)} {rng.choice(vocab)}"
               for _ in range(25)]
    # hot-term conjunctions: random 3-term ANDs rarely co-occur, these do
    queries += ["the import policy", "the i 0", "import def return",
                "the the import", "manhattan project"]
    n_nonempty = 0
    for q in queries:
        monkeypatch.setattr(W, "TAAT_MAX_POSTINGS", 10**12)
        taat = eng.search(q, mode=mode, topk=10, use_wand=True)
        monkeypatch.setattr(W, "TAAT_MAX_POSTINGS", 0)
        pruned = eng.search(q, mode=mode, topk=10, use_wand=True)
        plain = eng.search(q, mode=mode, topk=10, use_wand=False)
        results = [taat, pruned, plain]
        first = results[0]
        for got in results[1:]:
            assert [d for d, _ in first] == [d for d, _ in got], q
            for (_, sa), (_, sb) in zip(first, got):
                assert sa == sb, (q, mode, sa, sb)
        n_nonempty += bool(first)
    # the sample must actually exercise scoring (AND intersections are
    # naturally sparser than OR unions)
    assert n_nonempty >= (10 if mode == "OR" else 8)
    if mode == "AND":
        # forcing an OR-only kernel on AND must fail loudly, not quietly
        # validate a different kernel (ADVICE r3)
        with pytest.raises(ValueError):
            eng.search("the import", mode=mode, topk=10, force_kernel="bmw_block")


def test_fast_term_decode_matches_per_block(spark, index_dir, oracle):
    """decode_term_postings_fast (two vectorized codec calls with
    segmented shard rebase) must return each term's postings, doc ids
    and tfs in doc order, as the oracle's independent index has them,
    on multi-shard terms."""
    import numpy as np

    from web_search_engine_spark.operators.wand import decode_term_postings_fast

    blocks = spark.read.parquet(os.path.join(index_dir, "blocks"))
    rows_by_term = {}
    for r in blocks.collect():
        rows_by_term.setdefault(r["term"], []).append(
            (r["shard"], r["block_id"], r["last_docid"], r["base_docid"],
             r["max_tf"], bytes(r["doc_bytes"]), bytes(r["freq_bytes"]), r["n"])
        )
    assert set(rows_by_term) == set(oracle.index)
    n_multi = 0
    for term, rows in rows_by_term.items():
        rows.sort(key=lambda t: (t[0], t[1]))
        want = sorted(oracle.index[term].items())
        got = decode_term_postings_fast(rows, "varbyte")
        assert np.array_equal(got[0], [d for d, _ in want]), term
        assert np.array_equal(got[1], [tf for _, tf in want]), term
        n_multi += len({t[0] for t in rows}) > 1
    assert n_multi >= 5  # the corpus must exercise multi-shard chains


def test_lexicon_driver_merge_matches_spark(spark, tmp_path, monkeypatch):
    """Small-delta lexicon merges run driver-side via pyarrow (round 6);
    the table must be row-identical to the Spark aggregation on BOTH the
    full-rebuild and the additive-append paths, and on the full rebuild
    of a replayed (uncommitted) append. The append folds df and nblocks
    by sum and max_tf by max: one term's max_tf rises in the appended
    batch, another's stays below its old value. Every lexicon/ part of
    both indexes, and of an empty build's index, has LEXICON_SCHEMA."""
    import pandas as pd
    import pyarrow.parquet as pq

    import web_search_engine_spark.plans.build_index as B
    from web_search_engine_spark.operators.blocks import ARROW_LEXICON_SCHEMA
    from web_search_engine_spark.streaming.incremental import (
        _read_ledger,
        _write_ledger,
        append_batch,
    )

    full = corpus_df(spark, n_docs=200, seed=13).cache()

    def one_doc(path, text):
        row = full.limit(1).toPandas().assign(path=path, content=text)
        return spark.createDataFrame(pd.DataFrame(row), full.schema)

    # base: rise tf 2, keep tf 6; appended: rise tf 7, keep tf 1
    first = full.limit(120).unionByName(
        one_doc("zz/base.txt", "maxtfrise " * 2 + "maxtfkeep " * 6)
    )
    rest = full.subtract(full.limit(120)).unionByName(
        one_doc("zz/append.txt", "maxtfrise " * 7 + "maxtfkeep")
    )

    def lexicon(d):
        return {
            r["term"]: (r["df"], r["nblocks"], r["max_tf"])
            for r in spark.read.parquet(os.path.join(d, "lexicon")).collect()
        }

    def build_and_append(d):
        B.build_index(spark, first, d, num_shards=2)
        append_batch(spark, rest, d, batch_id=0)
        appended = lexicon(d)
        # replay the append as uncommitted: a full rebuild from every shard
        led = _read_ledger(d)
        led["batches"]["0"]["committed"] = False
        _write_ledger(d, led)
        append_batch(spark, rest, d, batch_id=0)
        assert lexicon(d) == appended
        return appended

    def parts(d):
        lex_dir = os.path.join(d, "lexicon")
        return [os.path.join(lex_dir, f) for f in os.listdir(lex_dir) if f.endswith(".parquet")]

    drv_dir, spk_dir = str(tmp_path / "driver_path"), str(tmp_path / "spark_path")
    drv = build_and_append(drv_dir)
    monkeypatch.setattr(B, "_LEXICON_DRIVER_MAX_BLOCKS", -1)  # force Spark
    spk = build_and_append(spk_dir)
    assert drv == spk and len(drv) > 0
    # (df, nblocks, max_tf): one posting and one block on each side
    assert drv["maxtfrise"] == (2, 2, 7)
    assert drv["maxtfkeep"] == (2, 2, 6)

    empty_dir = str(tmp_path / "empty")
    B.build_index(spark, full.limit(0), empty_dir, num_shards=2)
    for d in (drv_dir, spk_dir, empty_dir):
        assert parts(d), d
        for part in parts(d):
            assert pq.read_schema(part).equals(ARROW_LEXICON_SCHEMA), part
    full.unpersist()


def test_spark_lexicon_fold_jobs_do_not_grow_with_block_files(
    spark, index_dir, tmp_path, monkeypatch
):
    """The Spark fold reads shard directories, not block files: the same
    blocks rebuilt into a lexicon from one file per shard, or from 40
    files per shard (more than Spark's 32-path listing threshold), run
    the same number of jobs and write the same rows as the driver fold."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import web_search_engine_spark.plans.build_index as B

    blocks = pa.concat_tables(
        pq.read_table(f).drop_columns(["shard"])
        if "shard" in pq.read_schema(f).names else pq.read_table(f)
        for f in _blocks_files(index_dir)
    )
    sc = spark.sparkContext

    def spark_fold(name, n_files):
        d = str(tmp_path / name)
        for shard in (0, 1):
            shard_dir = os.path.join(d, "blocks", f"shard={shard}")
            os.makedirs(shard_dir)
            step = -(-blocks.num_rows // n_files)
            for i in range(n_files):
                pq.write_table(
                    blocks.slice(i * step, step), os.path.join(shard_dir, f"part-{i:03}.parquet")
                )
        sc.setJobGroup(name, name)
        try:
            files = B.merge_lexicon(spark, d, None)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(files) == 2 * n_files
        rows = pq.read_table(os.path.join(d, "lexicon")).sort_by("term")
        return rows, len(sc.statusTracker().getJobIdsForGroup(name))

    monkeypatch.setattr(B, "_LEXICON_DRIVER_MAX_BLOCKS", -1)  # force Spark
    few, few_jobs = spark_fold("few", 1)
    many, many_jobs = spark_fold("many", 40)
    assert few_jobs == many_jobs >= 1
    monkeypatch.setattr(B, "_LEXICON_DRIVER_MAX_BLOCKS", 10**9)
    driver, no_jobs = spark_fold("driver", 40)
    assert no_jobs == 0
    assert few.equals(many) and many.equals(driver) and few.num_rows > 0


def _blocks_files(index_dir):
    for d, _dirs, files in sorted(os.walk(os.path.join(index_dir, "blocks"))):
        for f in sorted(files):
            if f.endswith(".parquet"):
                yield os.path.join(d, f)


def test_blocks_row_groups_are_lookup_sized_and_routes_agree(spark, tmp_path):
    """With the default blocks row-group size a blocks file holds several
    row groups with ordered term ranges (the unit of a serving lookup),
    and SearchEngine answers identically over its default kernels, the
    unpruned DAAT, and a copy of the index rewritten to one row group
    per file."""
    import random

    import pyarrow.parquet as pq

    d = str(tmp_path / "idx")
    build_index(spark, corpus_df(spark, n_docs=6000, seed=7), d, num_shards=1)
    most_groups = 0
    for path in _blocks_files(d):
        md = pq.read_metadata(path)
        term_idx = md.schema.to_arrow_schema().get_field_index("term")
        ranges = [
            (st.min, st.max)
            for st in (md.row_group(i).column(term_idx).statistics
                       for i in range(md.num_row_groups))
        ]
        for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
            assert hi <= lo, (path, ranges)
        most_groups = max(most_groups, md.num_row_groups)
    assert most_groups >= 2

    one = str(tmp_path / "one_row_group")
    shutil.copytree(d, one)
    for path in _blocks_files(one):
        tbl = pq.ParquetFile(path).read()
        pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows))
        assert pq.read_metadata(path).num_row_groups == 1

    eng, eng_one = SearchEngine(d), SearchEngine(one)
    rng = random.Random(2024)
    vocab = sorted(eng._df)
    n_nonempty = 0
    for mode in ("OR", "AND"):
        for _ in range(30):
            q = " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 3)))
            want = eng.search(q, mode=mode, topk=10)
            assert eng.search(q, mode=mode, topk=10, use_wand=False) == want, q
            assert eng_one.search(q, mode=mode, topk=10) == want, q
            n_nonempty += bool(want)
    assert n_nonempty >= 30


def _canon(rows):
    """The benchmark's canonical row form (perfbench/refresh.canon)."""
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 6)) for r in rows
    )


def _spark_route_calls(monkeypatch):
    """Record each call of the Spark route's block decode."""
    import web_search_engine_spark.plans.search as S

    calls = []
    real = S.blocks_to_postings
    monkeypatch.setattr(
        S, "blocks_to_postings", lambda *a, **k: calls.append(1) or real(*a, **k)
    )
    return calls


def test_term_dfs_falls_back_to_spark_probe(spark, index_dir, monkeypatch):
    """When pyarrow cannot open the lexicon path, batch_score's df lookup
    runs as a Spark job over the lexicon, the call takes the Spark route,
    and the rows equal the driver route's. The same holds when only the
    docs_meta or the blocks footers cannot be opened."""
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    import web_search_engine_spark.plans.query as Q
    from web_search_engine_spark.sources.catalog import IndexCatalog

    driver = batch_score(IndexCatalog(spark, index_dir), QUERIES, topk=10)
    assert _is_local_relation(driver)
    want = _canon(driver.collect())
    assert len(want) > 0

    def unreachable(*args, **kwargs):
        raise OSError("no local filesystem for the index path")

    probes = []
    real_probe = Q.probe_lexicon
    spark_route = _spark_route_calls(monkeypatch)
    with monkeypatch.context() as m:
        m.setattr(pads, "dataset", unreachable)
        m.setattr(
            Q, "probe_lexicon",
            lambda lex, terms: probes.append(terms) or real_probe(lex, terms),
        )
        cat = IndexCatalog(spark, index_dir)
        got = batch_score(cat, QUERIES, topk=10).collect()
        assert probes, "the Spark lexicon probe did not run"
        assert spark_route, "the call did not take the Spark route"
        assert _canon(got) == want
        assert cat.term_dfs([]) == {}

    for table, target, fake in (
        ("docs_meta", pads, "dataset"),
        ("blocks", pq, "ParquetFile"),
    ):
        real = getattr(target, fake)

        def fails_on_table(path, *a, _real=real, _table=table, **k):
            if f"/{_table}" in str(path):
                raise OSError(f"cannot open {path}")
            return _real(path, *a, **k)

        spark_route.clear()
        probes.clear()
        with monkeypatch.context() as m:
            m.setattr(target, fake, fails_on_table)
            got = batch_score(IndexCatalog(spark, index_dir), QUERIES, topk=10)
            assert not _is_local_relation(got), table
            assert spark_route, table
            assert _canon(got.collect()) == want, table
        assert not probes, "the lexicon opened: df needs no Spark probe"


def _is_local_relation(df) -> bool:
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"


@pytest.fixture(scope="module")
def raw_index_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("raw_index"))
    build_index(
        spark, corpus_df(spark, n_docs=400, seed=42), d,
        codec="raw", block_size=16, num_shards=4,
    )
    return d


@pytest.fixture(scope="module")
def appended_index_dir(spark, tmp_path_factory):
    from web_search_engine_spark.streaming.incremental import append_batch

    d = str(tmp_path_factory.mktemp("appended_index"))
    first, rest = _split_corpus(spark, 400, 250, seed=42)
    build_index(spark, first, d, block_size=16, num_shards=3)
    assert append_batch(spark, rest, d, batch_id=0) == 150
    return d


def _routes(spark, index_dir, queries, mode, topk, monkeypatch):
    """-> (driver frame, Spark frame) of one batch_score call, each
    route forced through the module bound."""
    import web_search_engine_spark.plans.search as S
    from web_search_engine_spark.sources.catalog import IndexCatalog

    out = []
    for bound in (10**18, -1):
        with monkeypatch.context() as m:
            m.setattr(S, "DRIVER_MAX_POSTINGS", bound)
            spark_route = _spark_route_calls(m)
            out.append(batch_score(IndexCatalog(spark, index_dir), queries, mode, topk))
            assert bool(spark_route) == (bound < 0)
    driver, spark_df = out
    assert _is_local_relation(driver)
    assert driver.schema == spark_df.schema
    return driver, spark_df


@pytest.mark.parametrize("index", ["varbyte", "raw", "appended"])
@pytest.mark.parametrize("mode", ["OR", "AND"])
def test_batch_score_driver_route_matches_spark_route(
    spark, index_dir, raw_index_dir, appended_index_dir, monkeypatch, index, mode
):
    """The driver route returns the Spark route's rows under the
    canonical form: repeated and absent terms, several query ids in one
    call, ties at the rank-10 boundary, both codecs, and an appended
    index, whose ids skip the shard-boundary gap, on the sorted dl store
    (forced: at this size its ids are dense enough for the array)."""
    import random

    import web_search_engine_spark.plans.search as S

    d = {"varbyte": index_dir, "raw": raw_index_dir, "appended": appended_index_dir}[index]
    snap = S.IndexSnapshot(d)
    assert snap.codec == ("raw" if index == "raw" else "varbyte")
    if index == "appended":
        monkeypatch.setattr(S, "_DENSE_DL_MAX_OVERHEAD", 0)
        dl = S.IndexSnapshot(d).dl()
        assert isinstance(dl, S._SortedDL)
        assert dl.ids[-1] + 1 > len(dl.ids)  # a gap in the id space
    dfs = snap.dfs()
    rng = random.Random(7)
    common = sorted(dfs, key=lambda t: (-dfs[t], t))[:40]
    vocab = sorted(dfs)
    queries = list(QUERIES) + [
        ("rep", "policy policy project zzzabsent"),
        ("absent", "zzzabsent qqqmissing"),
    ]
    for i in range(12):
        words = [rng.choice(common) for _ in range(rng.randint(1, 2))]
        words += [rng.choice(vocab) for _ in range(rng.randint(0, 1))]
        queries.append((f"r{i}", " ".join(words)))

    driver, spark_df = _routes(spark, d, queries, mode, 10, monkeypatch)
    got, want = _canon(driver.collect()), _canon(spark_df.collect())
    assert got == want
    assert {r[0] for r in got} >= {"rep", "q3"} and "absent" not in {r[0] for r in got}

    # the calls above must have ranked through rounded-score ties at the
    # top-10 boundary: some query's 10th and 11th docs round equal
    full = _canon(_routes(spark, d, queries, mode, 1000, monkeypatch)[0].collect())
    by_q = {}
    for qid, rank, _doc, score in full:
        by_q.setdefault(qid, {})[rank] = score
    assert any(10 in r and 11 in r and r[10] == r[11] for r in by_q.values())


def test_batch_score_spark_route_clusters_by_query_only_for_several(
    spark, index_dir, monkeypatch
):
    """The Spark route repartitions its scored term rows on query_id only
    when the call has several query ids. A one-query call would put every
    row in one partition that way; it aggregates on (query_id, doc_id)
    across the shuffle partitions and ranks through
    TakeOrderedAndProject instead."""
    import re

    import web_search_engine_spark.plans.search as S
    from web_search_engine_spark.sources.catalog import IndexCatalog

    monkeypatch.setattr(S, "DRIVER_MAX_POSTINGS", -1)
    cat = IndexCatalog(spark, index_dir)
    by_query = re.compile(r"Exchange hashpartitioning\(query_id#\d+, \d+\)")

    def executed_plan(queries):
        df = batch_score(cat, queries, "OR", 10)
        assert df.collect()
        return df._jdf.queryExecution().executedPlan().toString()

    try:
        one = executed_plan([("q3", "manhattan project")])
        assert not by_query.search(one), one
        assert re.search(r"hashpartitioning\(query_id#\d+, doc_id#\d+L?, \d+\)", one)
        assert "TakeOrderedAndProject" in one, one
        assert by_query.search(executed_plan(QUERIES[:3]))
    finally:
        cat.refresh()


def test_batch_score_routes_agree_on_small_and_empty_answers(
    spark, index_dir, monkeypatch
):
    """topk above the match count returns every match on both routes;
    an all-absent call returns an empty frame with the Spark route's
    schema, with no Spark job on either route."""
    queries = [("rare", "manhattan"), ("pair", "manhattan project")]
    driver, spark_df = _routes(spark, index_dir, queries, "AND", 500, monkeypatch)
    got = _canon(driver.collect())
    assert got == _canon(spark_df.collect())
    assert 0 < len(got) < 500 * len(queries)

    driver, spark_df = _routes(
        spark, index_dir, [("none", "zzzabsent qqqmissing")], "OR", 10, monkeypatch
    )
    assert driver.collect() == [] == spark_df.collect()
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    driver.collect()
    spark_df.collect()
    assert len(tracker.getJobIdsForGroup(None)) == before


@pytest.mark.parametrize("mode", ["OR", "AND"])
def test_serving_and_batch_driver_route_score_alike(
    spark, index_dir, monkeypatch, mode
):
    """SearchEngine.search and batch_score's driver route give a doc the
    same score, bit for bit, and return the same ranked doc_id lists:
    both run one executor under one rank key. Compared over random
    queries with repeated and absent terms."""
    import random

    from web_search_engine_spark.sources.catalog import IndexCatalog

    eng = SearchEngine(index_dir)
    dfs = eng._df
    rng = random.Random(11)
    common = sorted(dfs, key=lambda t: (-dfs[t], t))[:40]
    vocab = sorted(dfs)
    queries = [("rep", "policy policy project"), ("absent", "zzzabsent policy")]
    for i in range(60):
        words = [rng.choice(common) for _ in range(rng.randint(1, 3))]
        words += [rng.choice(vocab) for _ in range(rng.randint(0, 1))]
        if rng.random() < 0.2:
            words.append("zzzabsent")
        queries.append((f"r{i}", " ".join(words)))

    spark_route = _spark_route_calls(monkeypatch)
    rows = batch_score(IndexCatalog(spark, index_dir), queries, mode, 10).collect()
    assert not spark_route
    batch = {(r["query_id"], r["doc_id"]): r["score"] for r in rows}
    ranked = {}
    for r in sorted(rows, key=lambda r: r["rank"]):
        ranked.setdefault(r["query_id"], []).append(r["doc_id"])
    n_shared = 0
    for qid, q in queries:
        hits = eng.search(q, mode, 10)
        assert [doc for doc, _ in hits] == ranked.get(qid, []), (qid, q)
        for doc, score in hits:
            if (qid, doc) in batch:
                assert score.hex() == batch[qid, doc].hex(), (qid, q, doc)
                n_shared += 1
    assert n_shared >= (300 if mode == "OR" else 100)


# -- the relational path over a catalog -------------------------------------


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _in_cache(spark, df) -> bool:
    cm = spark._jsparkSession.sharedState().cacheManager()
    return cm.lookupCachedData(df._jdf).isDefined()


def test_probe_lexicon_reads_a_parquet_lexicon_without_a_job(
    spark, index_dir, oracle, monkeypatch
):
    """probe_lexicon over IndexCatalog.lexicon(), a bare parquet table,
    reads df with pyarrow from the files the frame lists: no Spark job.
    Over a derived frame, or when the pyarrow read raises, it runs the
    Spark probe and returns the same dict."""
    import pyarrow.dataset as pads

    from web_search_engine_spark.operators.postings import lexicon_df
    from web_search_engine_spark.plans.query import probe_lexicon
    from web_search_engine_spark.sources.catalog import IndexCatalog

    cat = IndexCatalog(spark, index_dir)
    lex = cat.lexicon()
    terms = ["manhattan", "policy", "the", "zzzabsent", "policy"]
    want = {t: oracle.df[t] for t in terms if t in oracle.df}
    assert len(want) == 3
    j0 = _next_job_id(spark)
    assert probe_lexicon(lex, terms) == want
    assert _next_job_id(spark) == j0

    derived = lexicon_df(blocks_to_postings(cat.blocks(), codec=cat.codec))
    j0 = _next_job_id(spark)
    assert probe_lexicon(derived, terms) == want
    assert _next_job_id(spark) > j0

    def unreadable(*args, **kwargs):
        raise OSError("no local filesystem for the index path")

    monkeypatch.setattr(pads, "dataset", unreadable)
    j0 = _next_job_id(spark)
    assert probe_lexicon(lex, terms) == want
    assert _next_job_id(spark) > j0


def test_catalog_lexicon_opens_without_a_job(spark, index_dir, oracle):
    """IndexCatalog.lexicon() reads with LEXICON_SCHEMA: opening it runs
    no Spark job, where the same read left to infer its schema runs one,
    and probe_lexicon still reads the handle with pyarrow (no job)."""
    from web_search_engine_spark.plans.query import _parquet_files, probe_lexicon
    from web_search_engine_spark.sources.catalog import IndexCatalog

    sc = spark.sparkContext

    def jobs_of(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    lex, n_jobs = jobs_of("open-lexicon", IndexCatalog(spark, index_dir).lexicon)
    assert n_jobs == 0
    _, n_jobs = jobs_of(
        "infer-lexicon", lambda: spark.read.parquet(os.path.join(index_dir, "lexicon"))
    )
    assert n_jobs >= 1
    assert _parquet_files(lex)
    terms = ["manhattan", "policy", "zzzabsent"]
    want = {t: oracle.df[t] for t in terms if t in oracle.df}
    assert jobs_of("probe-lexicon", lambda: probe_lexicon(lex, terms)) == (want, 0)


def test_relational_one_query_call_runs_three_jobs(spark, index_dir):
    """A warm relational one-query call, made as the refresh benchmark
    makes it (cached relational postings, the catalog's doc_stats and
    lexicon), runs at most 3 jobs and 4 stages, construct plus collect:
    no lexicon probe, no query-term broadcast, no docs_meta scan, no
    window exchange."""
    from web_search_engine_spark.sources.catalog import IndexCatalog

    sc = spark.sparkContext
    cat = IndexCatalog(spark, index_dir)
    rel = blocks_to_postings(cat.blocks(), codec=cat.codec).cache()

    def call():
        return _canon(score_queries(
            rel, cat.doc_stats(), cat.n_docs, cat.avgdl,
            [("q3", "manhattan project")], "OR", 10, lexicon=cat.lexicon(),
        ).collect())

    try:
        want = call()  # opens the handles and fills both caches
        assert len(want) == 10
        j0 = _next_job_id(spark)
        assert call() == want
        j1 = _next_job_id(spark)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        stages = sum(len(tracker.getJobInfo(j).stageIds) for j in range(j0, j1))
        assert j1 - j0 <= 3 and stages <= 4, (j1 - j0, stages)
    finally:
        rel.unpersist()
        cat.refresh()


def test_empty_relational_answers_run_no_job(spark, index_dir):
    """An answer known to be empty when the plan is made (no query
    token, or no query term in the lexicon) is an empty Arrow
    LocalRelation with the schema of a non-empty answer: its collect
    starts no job, under the one-query top-k and the per-query window
    alike."""
    from web_search_engine_spark.plans.query import boolean_search
    from web_search_engine_spark.sources.catalog import IndexCatalog

    cat = IndexCatalog(spark, index_dir)
    postings = blocks_to_postings(cat.blocks(), codec=cat.codec)
    lex, stats = cat.lexicon(), cat.doc_stats()

    def call(queries, mode):
        return score_queries(
            postings, stats, cat.n_docs, cat.avgdl, queries, mode, 10, lexicon=lex
        )

    schema = call([("q3", "manhattan project")], "OR").schema
    for queries in (
        [("none", "zzzabsent qqqmissing")],
        [("a", "zzzabsent"), ("b", "qqqmissing")],
        [("blank", "  ")],
    ):
        for mode in ("OR", "AND"):
            df = call(queries, mode)
            assert df.schema == schema
            j0 = _next_job_id(spark)
            assert df.collect() == []
            assert _next_job_id(spark) == j0, (queries, mode)
    for mode in ("OR", "AND"):
        df = boolean_search(postings, "  ", mode)
        j0 = _next_job_id(spark)
        assert df.collect() == []
        assert _next_job_id(spark) == j0, mode
    cat.refresh()


def test_catalog_doc_stats_cache_is_released_by_refresh(spark, index_dir):
    """doc_stats() is memoized and cached lazily: making it runs no job,
    the first query fills the cache, and refresh() releases it."""
    from web_search_engine_spark.sources.catalog import IndexCatalog

    cat = IndexCatalog(spark, index_dir)
    cat.docs_meta()  # the table handle's schema read is a job of its own
    j0 = _next_job_id(spark)
    ds = cat.doc_stats()
    assert _next_job_id(spark) == j0
    assert cat.doc_stats() is ds and _in_cache(spark, ds)
    assert ds.count() == cat.n_docs == 400
    cat.refresh()
    assert not _in_cache(spark, ds)
    assert cat.doc_stats() is not ds
    cat.refresh()


def test_catalog_doc_stats_follow_the_snapshot(spark, tmp_path):
    """A catalog's cached doc_stats stays pinned to the docs_meta files
    it listed, and a catalog opened after an append sees every appended
    doc while an older catalog still holds its cache: an append landed
    by another writer (the files change under the index with no Spark
    write from this session), then one written from this session."""
    from web_search_engine_spark.sources.catalog import IndexCatalog
    from web_search_engine_spark.streaming.incremental import append_batch

    pdf = generate_corpus_pdf(200, 31)
    part = [
        spark.createDataFrame(pdf[a:b].reset_index(drop=True))
        for a, b in ((0, 100), (100, 160), (160, 200))
    ]
    d, other = str(tmp_path / "index"), str(tmp_path / "other")
    build_index(spark, part[0], d, num_shards=2)
    shutil.copytree(d, other)

    def ids(cat):
        return sorted(r["doc_id"] for r in cat.doc_stats().collect())

    def on_disk():
        meta = spark.read.parquet(os.path.join(d, "docs_meta"))
        return sorted(r["doc_id"] for r in meta.collect())

    cats = [IndexCatalog(spark, d)]
    pinned = [ids(cats[0])]
    assert len(pinned[0]) == 100
    assert append_batch(spark, part[1], other, batch_id=0) == 60
    shutil.rmtree(d)
    shutil.copytree(other, d)
    try:
        for batch_id, n_docs in ((None, 160), (1, 200)):
            if batch_id is not None:
                assert append_batch(spark, part[2], d, batch_id=batch_id) == 40
            cats.append(IndexCatalog(spark, d))
            pinned.append(ids(cats[-1]))
            assert pinned[-1] == on_disk() and len(pinned[-1]) == cats[-1].n_docs == n_docs
            assert [ids(c) for c in cats] == pinned
    finally:
        for c in cats:
            c.refresh()
