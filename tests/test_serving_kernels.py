"""Serving kernels over hand-made block rows and a hand-written index —
no Spark session.

The interactive kernels score from cached per-term BM25 impacts
(operators.wand.term_impacts: the one block decoder and the SQL
expression's numpy twin); the cursor DAAT decodes block by block and
scores from tf. Every kernel must return the same (doc_id, score) list
bit for bit, whichever dl store backs the engine and whichever side of
the dense-accumulator gate a query falls on.
"""

import json
import os
import random
import shutil
import sys
import threading
from collections import OrderedDict

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import web_search_engine_spark.operators.wand as W
import web_search_engine_spark.plans.search as search_mod
from tests.oracle import OracleIndex
from web_search_engine_spark.functions import codec as C
from web_search_engine_spark.functions.bm25 import round_score
from web_search_engine_spark.plans.search import SearchEngine, _DenseDL, _SortedDL

OR_KERNELS = ("taat", "bmw_block", "daat")
AND_KERNELS = ("taat", "vec_and", "daat")


def _encode_block(docids, freqs, base, codec):
    """Encode one block -> (doc_bytes, freq_bytes)."""
    if codec == "varbyte":
        return C.encode_docids(docids, base), C.encode_freqs(freqs)
    return C.raw_encode(docids), C.raw_encode(freqs)


def _block_rows(postings, shard_of, block_size=4):
    """{term: {doc_id: tf}} -> {term: [(shard, block_id, last_docid,
    base_docid, max_tf, doc_bytes, freq_bytes, n)]} in the build's
    layout: one varbyte gap chain per (term, shard), starting from docid
    0."""
    rows = {}
    for term, docs in postings.items():
        ids = np.array(sorted(docs), dtype=np.int64)
        tfs = np.array([docs[d] for d in ids], dtype=np.int64)
        shards = np.array([shard_of(int(d)) for d in ids])
        out = []
        for shard in sorted(set(shards.tolist())):
            sids, stfs = ids[shards == shard], tfs[shards == shard]
            for bid, s in enumerate(range(0, len(sids), block_size)):
                d, f = sids[s:s + block_size], stfs[s:s + block_size]
                base = 0 if s == 0 else int(sids[s - 1])
                db, fb = _encode_block(d, f, base, "varbyte")
                out.append((shard, bid, int(d[-1]), base, int(f.max()), db, fb, len(d)))
        rows[term] = out
    return rows


def _hex(hits):
    return [(d, float(s).hex()) for d, s in hits]


@pytest.fixture(scope="module")
def corpus():
    """60 docs, 2 shards (ids < 30 | >= 30). Term 'tie' has tf=1 on a run
    of equal-dl docs (ties straddling every small k); docs 5, 6 and 40
    carry postings but dl=0."""
    rng = random.Random(5)
    n = 60
    dls = np.array([rng.randint(3, 40) for _ in range(n)], dtype=np.float64)
    postings = {t: {} for t in ("alpha", "beta", "gamma", "rare", "tie")}
    for d in range(n):
        for t, p in (("alpha", 0.7), ("beta", 0.5), ("gamma", 0.3)):
            if rng.random() < p:
                postings[t][d] = rng.randint(1, 6)
    postings["rare"] = {3: 2, 5: 1, 33: 4}
    for d in range(10, 50, 2):
        postings["tie"][d] = 1
        dls[d] = 12.0
    dls[[5, 6, 40]] = 0.0
    for t in ("alpha", "beta", "tie"):
        postings[t].update({5: 3, 40: 2})
    rows = _block_rows(postings, lambda d: 0 if d < 30 else 1)
    dfs = {t: len(p) for t, p in postings.items()}
    return rows, dfs, dls, n


def _stores(dls, n):
    ids = np.arange(n, dtype=np.int64)
    return {
        # postings of a multi-term query cover >= 1/8 of 60 slots: dense
        "dense": _DenseDL(ids, dls, n - 1),
        # the same docs in a 60,000-slot id space: 8 * total < m, union path
        "dense_sparse_ids": _DenseDL(ids, dls, 60_000),
        "sorted": _SortedDL(ids, dls),
    }


QUERIES = [
    "alpha beta",
    "alpha alpha beta",  # repeated term: weight 2
    "tie",
    "tie alpha",
    "tie tie gamma",
    "rare",  # fewer than k matches
    "rare beta gamma",
    "alpha beta gamma rare tie",
]


@pytest.mark.parametrize("store", ["dense", "dense_sparse_ids", "sorted"])
@pytest.mark.parametrize("mode", ["OR", "AND"])
def test_kernels_bit_identical(corpus, monkeypatch, store, mode):
    rows, dfs, dls, n = corpus
    dl = _stores(dls, n)[store]
    avgdl = float(dls.mean())
    kernels = OR_KERNELS if mode == "OR" else AND_KERNELS
    cache = OrderedDict()
    seen_tie_at_k = seen_short = False
    for q in QUERIES:
        for topk in (1, 3, 7, 100):
            got = {}
            for kernel in kernels:
                got[kernel] = _hex(W.search_blocks(
                    rows, dfs, "varbyte", dl, n, avgdl, q, mode=mode,
                    topk=topk, flat_cache=cache, force_kernel=kernel))
            if mode == "OR":
                # one block range per epoch: pruning between epochs bites
                monkeypatch.setattr(W, "_EPOCH_RANGES", 1)
                got["bmw_block/1"] = _hex(W.search_blocks(
                    rows, dfs, "varbyte", dl, n, avgdl, q, mode=mode,
                    topk=topk, flat_cache=cache, force_kernel="bmw_block"))
                monkeypatch.undo()
            want = got["daat"]
            for kernel, hits in got.items():
                assert hits == want, (store, mode, q, topk, kernel)
            docs = {d for d, _ in want}
            assert not docs & {5, 6, 40}, "dl=0 docs are never results"
            full = _hex(W.search_blocks(
                rows, dfs, "varbyte", dl, n, avgdl, q, mode=mode, topk=10**6,
                force_kernel="daat"))
            seen_short |= 0 < len(full) < topk
            seen_tie_at_k |= len(full) > topk and full[topk - 1][1] == full[topk][1]
    assert seen_short and seen_tie_at_k


@pytest.mark.parametrize("mode,kernel", [
    ("AND", "bmw_block"), ("OR", "vec_and"), ("OR", "bmw_cursor"), ("AND", "nope"),
])
def test_forced_kernel_must_serve_the_mode(corpus, mode, kernel):
    """Forcing a kernel that does not serve the query's mode, or one that
    does not exist, raises instead of quietly running another kernel."""
    rows, dfs, dls, n = corpus
    with pytest.raises(ValueError):
        W.search_blocks(rows, dfs, "varbyte", _stores(dls, n)["sorted"], n,
                        float(dls.mean()), "alpha beta", mode=mode,
                        force_kernel=kernel)


def test_dense_gate_both_sides(corpus):
    """The store matrix above really puts queries on both sides of the
    dense accumulator's gate."""
    rows, dfs, dls, n = corpus
    stores = _stores(dls, n)
    entries = [(t, 1.0, W.decode_term_postings_fast(sorted(rows[t]), "varbyte")[0], None)
               for t in ("alpha", "beta")]
    assert W._dense_dl_array(stores["dense"], entries) is not None
    assert W._dense_dl_array(stores["dense_sparse_ids"], entries) is None
    assert W._dense_dl_array(stores["sorted"], entries) is None


@pytest.mark.parametrize("codec", ["varbyte", "raw"])
def test_decoders_reject_a_truncated_payload(codec):
    """A block whose doc payload lost its last posting raises ValueError
    from the driver decode and from the Spark decode (both run
    codec.decode_blocks), instead of returning short arrays."""
    from web_search_engine_spark.operators.blocks import _decode_arrow

    ids, tfs = np.array([3, 9, 200, 201]), np.array([1, 2, 3, 1])
    rows = []
    for bid, s in enumerate((0, 2)):
        base = 0 if s == 0 else int(ids[s - 1])
        db, fb = _encode_block(ids[s:s + 2], tfs[s:s + 2], base, codec)
        rows.append((0, bid, int(ids[s + 1]), base, int(tfs[s:s + 2].max()), db, fb, 2))
    got = W.decode_term_postings_fast(rows, codec)
    assert np.array_equal(got[0], ids) and np.array_equal(got[1], tfs)

    short = _encode_block(ids[2:3], tfs[2:3], rows[1][3], codec)[0]
    assert rows[1][5].startswith(short) and len(short) < len(rows[1][5])
    bad = [rows[0], rows[1][:5] + (short,) + rows[1][6:]]
    with pytest.raises(ValueError, match="posting count"):
        W.decode_term_postings_fast(bad, codec)
    batch = pa.RecordBatch.from_pydict({
        "term": ["t", "t"],
        "n": pa.array([r[7] for r in bad], pa.int32()),
        "base_docid": pa.array([r[3] for r in bad], pa.int64()),
        "doc_bytes": pa.array([r[5] for r in bad], pa.binary()),
        "freq_bytes": pa.array([r[6] for r in bad], pa.binary()),
    })
    with pytest.raises(ValueError, match="posting count"):
        _decode_arrow(batch, codec)


def test_top_k_threshold():
    """The partition threshold keeps boundary ties and, with fewer than
    k positive slots, every positive slot — never a zero slot."""
    scores = np.array([0.0, 2.0, 1.0, 2.0, 0.0, 1.0, 3.0])
    assert W.top_k(scores, 3) == [(6, 3.0), (1, 2.0), (3, 2.0)]
    assert W.top_k(scores, 4) == [(6, 3.0), (1, 2.0), (3, 2.0), (2, 1.0)]
    assert W.top_k(scores, 50) == [
        (6, 3.0), (1, 2.0), (3, 2.0), (2, 1.0), (5, 1.0)]
    ids = np.array([10, 11, 12, 13, 14, 15, 16])
    assert W.top_k(scores, 2, ids) == [(16, 3.0), (11, 2.0)]
    assert W.top_k(scores, 0) == []
    assert W.top_k(np.zeros(0), 5) == []
    assert W.top_k(np.zeros(0), 5, np.zeros(0, dtype=np.int64)) == []


def _contract(scores, topk, ids=None):
    """The rank contract by brute force: positive slots sorted on
    (-round_score(score), doc_id)."""
    docs = range(len(scores)) if ids is None else ids.tolist()
    hits = [(d, s) for d, s in zip(docs, scores.tolist()) if s > 0.0]
    return sorted(hits, key=lambda h: (-round_score(h[1]), h[0]))[:topk]


def _near_tie_scores(rng, n):
    """n scores: about 40% zero slots, the rest drawn from a few 1e-6
    quanta, so that many round equal. Some reprs end in 5 at the 7th
    decimal (Spark rounds them up, Python's round() may not), and some
    pairs of raw scores that round equal sit in reverse doc order."""
    quanta = [rng.randint(1, 3_000_000) for _ in range(rng.randint(1, 6))]
    out = []
    for _ in range(n):
        r = rng.random()
        q = rng.choice(quanta)
        if r < 0.4:
            out.append(0.0)
        elif r < 0.6:  # exactly halfway: repr ends in 5 at the 7th decimal
            out.append(float(f"{q // 1_000_000}.{q % 1_000_000:06d}5"))
        elif r < 0.9:  # inside the quantum, on either side of its middle
            out.append(q / 1e6 + rng.uniform(-4.9e-7, 4.9e-7))
        else:  # an exact duplicate of an earlier score
            out.append(rng.choice(out) if out else 1.0)
    return np.array(out, dtype=np.float64)


def test_top_k_matches_the_sorted_contract():
    """top_k equals the brute-force sort on (-round_score, doc_id) for
    the dense form and the id-array form, for k below, at and above the
    positive count, on near-tie arrays whose raw order rounding reverses
    across rank k."""
    from web_search_engine_spark.functions.bm25 import round_score as rs

    rng = random.Random(13)
    reversed_at_k = halfway = 0
    for _ in range(300):
        n = rng.randint(0, 60)
        scores = _near_tie_scores(rng, n)
        ids = np.array(rng.sample(range(10**6), n), dtype=np.int64)
        n_pos = int((scores > 0).sum())
        halfway += sum(rs(x) != round(x, 6) for x in scores.tolist())
        for topk in {1, 2, 5, max(n_pos - 1, 1), n_pos, n_pos + 3}:
            for form in (None, ids):
                want = _contract(scores, topk, form)
                assert W.top_k(scores, topk, form) == want, (scores, topk)
                docs = range(n) if form is None else form.tolist()
                raw = sorted(((d, x) for d, x in zip(docs, scores.tolist()) if x > 0),
                             key=lambda h: (-h[1], h[0]))[:topk]
                reversed_at_k += {d for d, _ in raw} != {d for d, _ in want}
    assert reversed_at_k > 20 and halfway > 100


def _rank_flip_entries():
    """Two terms over docs 0..19 with equal impacts (so AND == OR and
    each sum is exact: x/2 + x/2 == x) whose totals round equal in
    clusters where the larger raw score has the larger doc_id: the raw
    and rounded orders disagree at several ranks k."""
    totals = np.linspace(1.0, 2.0, 20)  # fillers below the clusters
    totals[[17, 3]] = 7.0000004, 7.0000001  # raw: 17, 3; rounded: 3, 17
    totals[[12, 4]] = 6.0000005, 6.0000009  # both round half up to 6.000001
    totals[[15, 8, 6]] = 5.0000004, 5.0000002, 5.0000001
    totals[[19, 0]] = 3.0000004, 3.0000001
    ids = np.arange(20, dtype=np.int64)
    entries = [(t, 1.0, ids, totals / 2) for t in ("a", "b")]
    return entries, totals


def test_kernels_rank_on_the_rounded_key(monkeypatch):
    """Where the raw and rounded orders disagree at rank k, every
    kernel returns the contract's list: taat on the dense and on the
    union accumulator, taat_and, vec_and, and bmw_block pruning one
    block range per epoch."""
    entries, totals = _rank_flip_entries()
    ids = entries[0][2]
    dls = np.full(20, 10.0)
    dense, union = _DenseDL(ids, dls, 19), _SortedDL(ids, dls)
    assert W._dense_dl_array(dense, entries) is not None
    last = ids[3::4]
    metas = [(last, np.maximum.reduceat(e[3], np.arange(0, 20, 4))) for e in entries]
    monkeypatch.setattr(W, "_EPOCH_RANGES", 1)
    n_flips = 0
    for topk in range(1, 22):
        want = _contract(totals, topk)
        got = {
            "taat_dense": W.taat_or(entries, dense, topk),
            "taat_union": W.taat_or(entries, union, topk),
            "taat_and": W.taat_and(entries, union, topk),
            "vec_and": W.intersect_and(entries, topk),
            "bmw_block": W.blockmax_taat_or(entries, metas, topk),
        }
        for kernel, hits in got.items():
            assert hits == want, (kernel, topk)
        raw = np.argsort(-totals, kind="stable")[:topk].tolist()
        n_flips += set(raw) != {d for d, _ in want}
    assert n_flips >= 3


# --- SearchEngine over a hand-written index directory -----------------

WORDS = [f"w{i:02d}" for i in range(40)]


def _docs(n=120, seed=11):
    rng = random.Random(seed)
    docs = []
    for d in range(n):
        k = 0 if d % 37 == 0 else rng.randint(1, 30)  # a few empty docs
        # skewed word choice: low ranks are frequent
        docs.append((d, " ".join(WORDS[min(int(rng.expovariate(0.15)), 39)]
                                 for _ in range(k))))
    return docs


def _write_index(path, oracle: OracleIndex, n_shards=2):
    """The on-disk layout SearchEngine opens (stats.json, lexicon/,
    docs_meta/shard=*/, blocks/shard=*/) written from the oracle's
    postings, without Spark."""
    n = oracle.N
    shard_of = lambda d: d * n_shards // n  # noqa: E731  (doc-id ranges)
    rows = _block_rows(oracle.index, shard_of)
    os.makedirs(path)
    with open(os.path.join(path, "stats.json"), "w") as f:
        json.dump({"n_docs": n, "avgdl": oracle.avgdl, "codec": "varbyte"}, f)
    os.makedirs(os.path.join(path, "lexicon"))
    terms = sorted(oracle.df)
    pq.write_table(pa.table({"term": terms, "df": [oracle.df[t] for t in terms]}),
                   os.path.join(path, "lexicon", "part-0.parquet"))
    for shard in range(n_shards):
        ids = [d for d in sorted(oracle.doc_lengths) if shard_of(d) == shard]
        meta = os.path.join(path, "docs_meta", f"shard={shard}")
        os.makedirs(meta)
        pq.write_table(pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "dl": pa.array([oracle.doc_lengths[d] for d in ids], pa.int32()),
        }), os.path.join(meta, "part-0.parquet"))
        blk = [(t, *r[1:]) for t in terms for r in rows[t] if r[0] == shard]
        cols = list(zip(*blk))
        table = pa.table({
            "term": pa.array(cols[0], pa.string()),
            "block_id": pa.array(cols[1], pa.int32()),
            "last_docid": pa.array(cols[2], pa.int64()),
            "base_docid": pa.array(cols[3], pa.int64()),
            "max_tf": pa.array(cols[4], pa.int64()),
            "doc_bytes": pa.array(cols[5], pa.binary()),
            "freq_bytes": pa.array(cols[6], pa.binary()),
            "n": pa.array(cols[7], pa.int32()),
        })
        out = os.path.join(path, "blocks", f"shard={shard}")
        os.makedirs(out)
        pq.write_table(table, os.path.join(out, "part-0.parquet"), row_group_size=16)
    return path


@pytest.fixture(scope="module")
def hand_index(tmp_path_factory):
    oracle = OracleIndex(_docs())
    d = _write_index(str(tmp_path_factory.mktemp("hand") / "idx"), oracle)
    return d, oracle


def _queries(seed, n):
    rng = random.Random(seed)
    return [" ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 4)))
            for _ in range(n)]


def _assert_matches_oracle(got, hits, topk):
    """``got`` against the oracle's full hit list ranked on the rank
    contract (the oracle ranks on the raw score, and two equal BM25
    scores summed in different orders can differ in the last bit)."""
    want = sorted(hits, key=lambda h: (-round_score(h[1]), h[0]))[:topk]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-9)


def test_engine_nondefault_bm25_params_match_oracle(hand_index):
    d, oracle = hand_index
    eng = SearchEngine(d)
    n_nonempty = 0
    for q in _queries(1, 30) + ["w00 w00 w01", "w01 w02"]:
        for mode in ("OR", "AND"):
            for k1, b in ((1.2, 0.75), (1.5, 0.6), (0.9, 0.0), (2.0, 1.0)):
                got = eng.search(q, mode, 10, k1=k1, b=b)
                hits = oracle.search(q, mode, 10**6, k1=k1, b=b)
                _assert_matches_oracle(got, hits, 10)
                n_nonempty += bool(got)
    assert n_nonempty > 100


def test_engine_skips_block_ids_past_docs_meta(hand_index, tmp_path):
    """An append that lands after SearchEngine loaded docs_meta but
    before it listed blocks/ leaves block ids past the dense dl array.
    Such a doc has no dl, so on every kernel the search does not raise
    and the doc is never a result."""
    src, oracle = hand_index
    d = str(tmp_path / "idx")
    shutil.copytree(src, d)
    last = max(oracle.doc_lengths)
    words = _docs()[last][1].split()
    assert words
    meta = os.path.join(d, "docs_meta", "shard=1", "part-0.parquet")
    tbl = pq.read_table(meta)
    pq.write_table(tbl.filter(pc.not_equal(tbl["doc_id"], last)), meta)
    eng = SearchEngine(d)
    dl = eng.snapshot.dl()
    assert isinstance(dl, _DenseDL) and len(dl.arr) == last
    q = " ".join(sorted(set(words))[:3])
    n_hits = 0
    for mode, kernels in (("OR", OR_KERNELS), ("AND", AND_KERNELS)):
        for kernel in kernels:
            hits = eng.search(q, mode, 1000, force_kernel=kernel)
            assert last not in {doc for doc, _ in hits}, (mode, kernel)
            n_hits += len(hits)
    assert n_hits > 0


def test_engine_cache_key_separates_bm25_params(hand_index):
    """Interleaving default and non-default k1/b on one engine returns
    exactly what a fresh engine returns for each call."""
    d, _ = hand_index
    eng = SearchEngine(d)
    params = [(1.2, 0.75), (1.5, 0.6), (1.2, 0.75), (0.9, 0.0), (1.5, 0.6)]
    for q in _queries(2, 12):
        for mode in ("OR", "AND"):
            for k1, b in params:
                want = SearchEngine(d).search(q, mode, 10, k1=k1, b=b)
                assert _hex(eng.search(q, mode, 10, k1=k1, b=b)) == _hex(want)
    assert {k[1:] for k in eng._flat_cache} == {(1.2, 0.75), (1.5, 0.6), (0.9, 0.0)}


def test_daat_oracle_ignores_impact_cache(hand_index):
    """use_wand=False scores from tf: garbage in every impact-cache entry
    changes the impact kernels' answers but not the DAAT oracle's."""
    d, _ = hand_index
    eng = SearchEngine(d)
    qs = _queries(3, 15)
    want = {(q, m): _hex(eng.search(q, m, 10, use_wand=False))
            for q in qs for m in ("OR", "AND")}
    for q in qs:
        eng.search(q, "OR", 10)  # fill the impact cache
    assert eng._flat_cache
    for key, (ids, imp) in eng._flat_cache.items():
        eng._flat_cache[key] = (ids, np.full(len(imp), 7.0))
    assert any(_hex(eng.search(q, "OR", 10)) != want[(q, "OR")] for q in qs)
    for (q, m), hits in want.items():
        assert _hex(eng.search(q, m, 10, use_wand=False)) == hits


def test_engine_caches_are_lru(hand_index, monkeypatch):
    """A term used by every query survives a stream of new terms in both
    the block-row and the impact cache."""
    d, _ = hand_index
    monkeypatch.setattr(search_mod, "_TERM_CACHE_SIZE", 4)
    eng = SearchEngine(d)
    for w in WORDS[1:30]:
        eng.search(f"w00 {w}", "OR", 10)
        assert "w00" in eng._term_cache
        assert ("w00", 1.2, 0.75) in eng._flat_cache
        assert len(eng._term_cache) <= 4 and len(eng._flat_cache) <= 4


def test_engine_concurrent_searches_with_evictions(hand_index, monkeypatch):
    """Request threads hitting and evicting the same tiny caches must not
    fail and must each get the single-threaded answer."""
    d, _ = hand_index
    qs = _queries(4, 40)
    want = {q: _hex(SearchEngine(d).search(q, "OR", 10)) for q in qs}
    monkeypatch.setattr(search_mod, "_TERM_CACHE_SIZE", 1)
    eng = SearchEngine(d)
    errors, mismatches = [], []

    def work(seed):
        rng = random.Random(seed)
        try:
            for _ in range(400):
                q = rng.choice(qs)
                if _hex(eng.search(q, "OR", 10)) != want[q]:
                    mismatches.append(q)
        except Exception as e:  # noqa: BLE001 - reported by the assert below
            errors.append(repr(e))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(s,)) for s in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert not mismatches, mismatches[:3]
