"""Driver-side BM25 kernels for single queries.

The interactive query path (north star): single queries score on the
driver over the handful of posting lists the query touches. The
production kernels are numpy-vectorized over per-term impacts from
term_impacts (the one block decoder and the SQL expression's numpy
twin, shared with batch_score's driver route): taat_or/taat_and, the
block-max pruned OR kernel blockmax_taat_or, and the searchsorted
intersection intersect_and. The exhaustive cursor DAAT
(daat_or_unpruned, daat_and) — the reference's cursor machinery
(HW2/engine/daat.py, postings_cursor.py, daat_ranker.py) over the
block-row table — decodes block by block, scores from tf and is the
oracle every kernel is compared against. The distributed batch path for
query SETS lives in plans/query.py; both produce rank-identical results
(tested).

One rank key: every kernel returns its top-k under the batch contract,
round_score(score) desc then doc_id asc, with the raw score — the key
plans.query.score_queries ranks on in Spark (round(score, 6)) — and
every kernel ends in top_k, which computes it. Pruning stays exact under
it: rounding moves a score by at most half its 1e-6 quantum, so a doc
whose raw score is more than _ROUND_MARGIN below the k-th best raw score
rounds to a strictly lower key than k docs already have, whatever its
doc_id or the order docs are visited in. blockmax_taat_or skips only
ranges whose upper bound is below that floor. Block upper bounds use
ub = idf * (max_tf*(k1+1)) / (max_tf + k1*(1-b)) with the impacts' idf
and association, a true bound because the omitted b*dl/avgdl term only
grows the denominator (SURVEY.md §4) and the bound is increasing in tf;
with every other operation shared, float rounding keeps it >= each
impact.
"""

from __future__ import annotations

import heapq
from collections import Counter

import numpy as np

from ..config import BM25_B, BM25_K1, DEFAULT_TOPK
from ..functions import codec as C
from ..functions.bm25 import bm25_idf_strict, bm25_weighted_scores, round_score
from ..functions.tokenizer import tokenize_query


class BlockCursor:
    """Cursor over one term's blocks, ordered by (shard, block_id).

    Blocks decode lazily; next_ge seeks via binary search on the
    last_docid directory (the reference's seek_block_ge,
    HW2/engine/listio.py:186-196) then searchsorted within the block.
    """

    __slots__ = (
        "term", "df", "idf", "blocks", "codec", "k1", "b",
        "bi", "pos", "_docids", "_tfs", "last_docids",
    )

    def __init__(self, term, df, blocks, codec, n_docs, k1=BM25_K1, b=BM25_B):
        self.term = term
        self.df = df
        self.idf = bm25_idf_strict(n_docs, df)
        # blocks: list of (last_docid, base_docid, max_tf, doc_bytes, freq_bytes)
        self.blocks = blocks
        self.codec = codec
        self.k1 = k1
        self.b = b
        self.last_docids = np.array([blk[0] for blk in blocks], dtype=np.int64)
        self.bi = -1
        self.pos = 0
        self._docids = None
        self._tfs = None
        self._load(0)

    def _load(self, bi: int) -> None:
        if bi >= len(self.blocks):
            self.bi = len(self.blocks)
            self._docids = None
            return
        last, base, _mtf, db, fb = self.blocks[bi]
        d, f = C.decode_block(db, fb, int(base), self.codec)
        self.bi = bi
        self.pos = 0
        self._docids = d
        self._tfs = f

    def exhausted(self) -> bool:
        return self._docids is None

    def docid(self) -> int | None:
        if self._docids is None:
            return None
        return int(self._docids[self.pos])

    def tf(self) -> int:
        return int(self._tfs[self.pos])

    def advance(self) -> int | None:
        if self._docids is None:
            return None
        self.pos += 1
        if self.pos >= len(self._docids):
            self._load(self.bi + 1)
        return self.docid()

    def next_ge(self, target: int) -> int | None:
        if self._docids is None:
            return None
        if target <= int(self._docids[self.pos]):
            return self.docid()
        if target > int(self.last_docids[self.bi]):
            # directory binary search: first block with last_docid >= target
            nb = int(np.searchsorted(self.last_docids, target, side="left"))
            if nb >= len(self.blocks):
                self._load(len(self.blocks))
                return None
            self._load(nb)
        self.pos = int(np.searchsorted(self._docids, target, side="left"))
        if self.pos >= len(self._docids):  # defensive; cannot happen
            self._load(self.bi + 1)
        return self.docid()

    def score_current(self, dl: float, avgdl: float) -> float:
        """BM25 of the current posting in plain Python floats, with the
        association of functions.bm25.bm25_weighted_scores."""
        tf = float(self._tfs[self.pos])
        denom = tf + self.k1 * ((1.0 - self.b) + self.b * dl / avgdl)
        return self.idf * (tf * (self.k1 + 1.0)) / denom


def _score_tied(cursors, tied, d, dl_lookup, avgdl, weights):
    dl = float(dl_lookup[d])
    if dl <= 0.0:
        return None  # dl=0 docs are skipped (daat_ranker.py:121-123)
    s = 0.0
    for i in tied:
        s += weights[i] * cursors[i].score_current(dl, avgdl)
    return s


def daat_or_unpruned(cursors, weights, dl_lookup, avgdl, topk):
    """Exhaustive DAAT OR — mirror of HW2/engine/daat_ranker.py:99-141;
    every scored doc is collected and ranked by top_k."""
    heap = [(c.docid(), i) for i, c in enumerate(cursors) if not c.exhausted()]
    heapq.heapify(heap)
    docs, scores = [], []
    while heap:
        d, i = heapq.heappop(heap)
        tied = [i]
        while heap and heap[0][0] == d:
            _, j = heapq.heappop(heap)
            tied.append(j)
        s = _score_tied(cursors, tied, d, dl_lookup, avgdl, weights)
        if s is not None:
            docs.append(d)
            scores.append(s)
        for idx in tied:
            nxt = cursors[idx].advance()
            if nxt is not None:
                heapq.heappush(heap, (nxt, idx))
    return top_k(np.array(scores, dtype=float), topk, np.array(docs, dtype=np.int64))


def daat_and(cursors, weights, dl_lookup, avgdl, topk):
    """Intersection DAAT with galloping next_ge (HW2/engine/daat.py:21-59
    shape), driven from the rarest term (O8 heuristic); every scored doc
    is collected and ranked by top_k.

    Cursor ADVANCEMENT order is df-ascending (cheapest intersection),
    but tied-term score summation stays in the callers' sorted-term
    cursor order: float addition is not associative, and the vectorized
    / relational kernels all sum per-term contributions in
    sorted-term order — AND scores must be bit-identical to them."""
    docs, scores = [], []
    cs = sorted(cursors, key=lambda c: c.df)
    d = cs[0].docid() if cs else None
    while d is not None:
        target = d
        for c in cs[1:]:
            nd = c.next_ge(target)
            if nd != target:
                target = nd
                break
        else:
            # every cursor sits at target — sum in sorted-term order
            s = _score_tied(
                cursors, range(len(cursors)), target, dl_lookup, avgdl, weights
            )
            if s is not None:
                docs.append(target)
                scores.append(s)
            d = cs[0].advance()
            continue
        d = None if target is None else cs[0].next_ge(target)
    return top_k(np.array(scores, dtype=float), topk, np.array(docs, dtype=np.int64))


# Below this many total postings across the query's terms, the
# exhaustive TAAT kernels run; above it the pruned ones (block-max OR,
# searchsorted AND), whose per-block bookkeeping only pays off on long,
# score-skewed lists (big indexes), not short ones.
TAAT_MAX_POSTINGS = 2_000_000


def decode_term_postings_fast(rows: list, codec: str) -> tuple[np.ndarray, np.ndarray]:
    """Whole-term decode through codec.decode_blocks: the term's payloads
    concatenated, two vectorized codec calls, one per-block rebase.

    rows: [(shard, block_id, last_docid, base_docid, max_tf, doc_bytes,
    freq_bytes, n)] sorted by (shard, block_id). Raises ValueError on a
    posting-count mismatch."""
    return C.decode_blocks(
        np.frombuffer(b"".join(r[5] for r in rows), dtype=np.uint8),
        np.frombuffer(b"".join(r[6] for r in rows), dtype=np.uint8),
        [r[7] for r in rows],
        [r[3] for r in rows],
        codec,
    )


def term_impacts(rows, codec, dl_store, n_docs, df, avgdl, k1, b):
    """One term's (doc_ids, float64 BM25 impacts) in docid order: its
    block rows sorted by (shard, block_id), decoded, and scored with the
    SQL expression's numpy twin (functions.bm25.bm25_weighted_scores,
    weight 1.0), so every impact is bit-identical to the relational
    plan's per-posting score. Postings on docs with dl <= 0 (dl = 0, or
    absent from the dl store) get 0.0: such docs are never scored
    (daat_ranker.py:121-123), and every real contribution is > 0 (idf >
    0, tf >= 1), so a zero accumulator slot means "not a result".

    dl_store is a dl store (plans.search._DenseDL / _SortedDL)."""
    rows = sorted(rows, key=lambda r: (r[0], r[1]))
    ids, tfs = decode_term_postings_fast(rows, codec)
    dls = dl_store.take_ids(ids)
    impacts = bm25_weighted_scores(
        tfs, dls, bm25_idf_strict(n_docs, df), 1.0, avgdl, k1, b
    )
    impacts[dls <= 0.0] = 0.0
    return ids, impacts


def _weighted(w, impacts):
    # w * x == x exactly when w is 1.0: skip the pass, keep the bits
    return impacts if w == 1.0 else w * impacts


# a doc whose raw score is more than this below another's rounds
# (round_score) to a strictly lower key: rounding moves a score by at
# most half its 1e-6 quantum, plus float error
_ROUND_MARGIN = 2e-6


def top_k(scores, topk, ids=None):
    """-> [(doc_id, score)]: the top-k POSITIVE slots of ``scores`` (zero
    = unmatched slot or dl=0 doc) under the rank contract,
    round_score(score) desc then doc_id asc, with the raw score. Slot i
    is doc ``ids[i]``, or doc i itself when ids is None (the dense
    accumulator).

    np.partition finds the k-th best raw score in O(n); only positive
    slots at most _ROUND_MARGIN below it can rank (with fewer than k
    positive slots, every one). Those candidates are sorted by raw
    score, and round_score runs only on one within _ROUND_MARGIN of a
    raw-order neighbour, once per distinct score. Any other candidate's
    raw score orders it against all the others as its rounded key
    would, so it stays its key."""
    n = len(scores)
    if topk <= 0 or n == 0:
        return []
    kth = n - min(topk, n)
    floor = np.partition(scores, kth)[kth] - _ROUND_MARGIN
    hit = np.flatnonzero(scores >= floor if floor > 0.0 else scores > 0.0)
    s = scores[hit]
    order = np.argsort(-s)
    s = s[order]
    docs = (hit if ids is None else ids[hit])[order]
    close = s[:-1] - s[1:] <= _ROUND_MARGIN
    near = np.append(close, False) | np.insert(close, 0, False)
    key = s.copy()
    if near.any():
        values, inv = np.unique(s[near], return_inverse=True)
        key[near] = np.array([round_score(v) for v in values.tolist()])[inv]
    rank = np.lexsort((docs, -key))[:topk]
    return list(zip(docs[rank].tolist(), s[rank].tolist()))


def _dense_dl_array(dl_lookup, term_entries):
    """The dense doc_id->dl float64 array behind dl_lookup when one
    exists, covers every posting id, AND the query's posting volume
    justifies O(id-space) accumulators, else None. The scatter-add path
    allocates and scans len(arr) slots per query — a win when the
    candidate set is a meaningful fraction of the corpus (hot queries),
    a regression for a rare 100-posting query on an 8.84M-doc index
    (70+ MB of zeros and a full-array partition for microseconds of
    real work) — so it is gated on total postings >= len(arr) / 8."""
    arr = getattr(dl_lookup, "arr", None)
    if not isinstance(arr, np.ndarray):
        return None
    m = len(arr)
    total = 0
    for entry in term_entries:
        ids = entry[2]
        if len(ids) and int(ids[-1]) >= m:  # ids ascending by decode order
            return None
        total += len(ids)
    if 8 * total < m:
        return None  # selective query: the union path is cheaper
    return arr


def _taat(term_entries, dl_lookup, topk, is_and):
    """Shared body of taat_or / taat_and (see taat_or): each doc's
    weighted impacts added in term_entries order; slot i is doc ids[i],
    or doc i itself when ids is None (the dense accumulator). AND zeroes
    the docs missing a term."""
    if not term_entries:
        return []
    dense = _dense_dl_array(dl_lookup, term_entries)
    if dense is None:
        ids = np.unique(np.concatenate([e[2] for e in term_entries]))
        slots = len(ids)
    else:
        ids, slots = None, len(dense)
    scores = np.zeros(slots, dtype=np.float64)
    nmatch = np.zeros(slots, dtype=np.int64) if is_and else None
    for _term, w, t_ids, impacts in term_entries:
        at = t_ids if ids is None else np.searchsorted(ids, t_ids)
        scores[at] += _weighted(w, impacts)
        if is_and:
            nmatch[at] += 1
    if is_and:
        scores[nmatch < len(term_entries)] = 0.0
    return top_k(scores, topk, ids)


def taat_or(term_entries, dl_lookup, topk):
    """Vectorized term-at-a-time OR scoring — the reference's TAAT
    ranker (HW2/engine/ranker.py:52-74) as numpy array passes.

    term_entries = [(term, weight, docids, impacts)] in SORTED-TERM
    order, impacts from term_impacts. Bit-identical to the DAAT kernels:
    for each doc the per-term impacts are added in the same
    (sorted-term) order the tied-cursor sum uses, and each impact is
    the expression BlockCursor.score_current evaluates, with the same
    idf and association.

    With a dense dl store (and enough postings, see _dense_dl_array) the
    accumulator is indexed directly by doc_id (scatter-add over the id
    space): no candidate union, no per-term searchsorted — the same
    additions in the same order land at acc[doc_id] instead of
    acc[searchsorted(union, doc_id)], so scores are bit-identical
    (kernel differential tests assert it). The top-k is then taken from
    the accumulator itself. Memory: 8 bytes per id slot (plus 8 for
    taat_and's per-slot match counter). Scoring time per hot query on
    a 100k-doc index (~194k postings, 4-vCPU host) measured 9.9 ms when
    BM25 was evaluated per posting and the top-k taken from gathered
    candidates, 3.1 ms adding cached impacts and selecting in place.
    """
    return _taat(term_entries, dl_lookup, topk, is_and=False)


def taat_and(term_entries, dl_lookup, topk):
    """Vectorized term-at-a-time AND: the taat_or accumulation plus a
    per-doc matched-term counter — only docs carrying every distinct
    query term survive (searcher.py:64-90 AND gate); the rest are zeroed
    before the top-k. Scores are bit-identical to taat_or/daat_and for
    the surviving docs (same sorted-term addition order, same impacts)."""
    return _taat(term_entries, dl_lookup, topk, is_and=True)


_EPOCH_RANGES = 2048  # block ranges scored per pruning epoch


def blockmax_taat_or(term_entries, term_blockmeta, topk):
    """Vectorized block-max WAND: BMW's per-block skipping with TAAT's
    numpy scoring — no per-posting Python (VERDICT r2 #4: the cursor
    loop costs ~8 us/posting; above TAAT_MAX_POSTINGS a stopword-heavy
    OR query where pruning doesn't bite pays seconds).

    The docid axis splits at every block boundary of every term. Work
    proceeds in EPOCHS: with the current theta, the upper bound of every
    remaining range (sum of the covering blocks' max-score bounds —
    computed with one searchsorted per term) selects the ranges that
    could still reach the top-k; the first _EPOCH_RANGES survivors merge
    into maximal docid intervals and score through the taat_or
    accumulation (same sorted-term order, same impacts — bit-identical
    scores) and join the kept candidates; theta, the k-th best raw
    score kept, then rises, candidates more than _ROUND_MARGIN below it
    are dropped, and the next epoch re-prunes the remainder. Hot
    queries where nothing prunes degrade to plain TAAT plus a few
    searchsorted passes (no kernel cliff at the threshold);
    score-skewed queries skip the union/score work for pruned ranges
    block-wise (postings arrive pre-decoded and pre-scored by the
    cached whole-term decode — pruning here saves accumulation, not
    decoding).

    Rank-safe under the rounded key: a range is skipped, and a
    candidate dropped, only below theta - _ROUND_MARGIN (module
    docstring); top_k ranks the candidates left.

    term_entries = [(term, weight, ids, impacts)] in sorted-term order;
    term_blockmeta = [(last_docids, block_ubs)] aligned with
    term_entries (block_ubs exclude the query weight).
    """
    if not term_entries:
        return []
    boundaries = np.unique(np.concatenate([m[0] for m in term_blockmeta]))
    R = len(boundaries)
    docs = np.zeros(0, dtype=np.int64)
    scores = np.zeros(0, dtype=np.float64)
    floor = -np.inf  # theta - _ROUND_MARGIN once k candidates are kept
    r = 0
    while r < R:
        rem = boundaries[r:]
        ub = np.zeros(len(rem), dtype=np.float64)
        for (_term, w, _ids, _imp), (last, bubs) in zip(term_entries, term_blockmeta):
            idx = np.searchsorted(last, rem, side="left")
            v = idx < len(last)
            ub[v] += w * bubs[idx[v]]
        live = np.flatnonzero(ub >= floor)
        if live.size == 0:
            break
        sel = live[:_EPOCH_RANGES] + r
        los = np.where(sel > 0, boundaries[sel - 1], -1)  # range = (lo, hi]
        his = boundaries[sel]
        # merge ranges adjacent on the boundary grid into maximal intervals
        starts = np.concatenate(([0], np.flatnonzero(np.diff(sel) > 1) + 1))
        int_lo = los[starts]
        int_hi = his[np.append(starts[1:] - 1, len(sel) - 1)]

        # gather each term's postings inside the intervals, then the
        # taat_or accumulation over the epoch's union
        subs = []
        for _term, w, ids, impacts in term_entries:
            s = np.searchsorted(ids, int_lo, side="right")
            e = np.searchsorted(ids, int_hi, side="right")
            counts = e - s
            total = int(counts.sum())
            if total == 0:
                continue
            offs = np.concatenate(([0], np.cumsum(counts)))[:-1]
            take = np.arange(total) - np.repeat(offs, counts) + np.repeat(s, counts)
            subs.append((w, ids[take], impacts[take]))
        if subs:
            union = np.unique(np.concatenate([s[1] for s in subs]))
            acc = np.zeros(len(union), dtype=np.float64)
            for w, sids, simp in subs:
                acc[np.searchsorted(union, sids)] += _weighted(w, simp)
            # ranges are disjoint: no doc is scored twice
            docs = np.concatenate((docs, union))
            scores = np.concatenate((scores, acc))
            if len(scores) > topk > 0:
                theta = np.partition(scores, len(scores) - topk)[len(scores) - topk]
                if theta > 0.0:
                    floor = theta - _ROUND_MARGIN
                    keep = scores >= floor
                    docs, scores = docs[keep], scores[keep]
        r = int(sel[-1]) + 1
    return top_k(scores, topk, docs)


def intersect_and(term_entries, topk):
    """Vectorized AND above TAAT_MAX_POSTINGS (VERDICT r3 #1): the
    per-posting Python galloping loop of daat_and costs ~8 us/visited
    posting — a hot AND with a large intersection pays seconds. Here the
    intersection is successive ``np.searchsorted`` membership passes
    driven from the RAREST term's decoded array (the same df-ascending
    O8 heuristic daat_and uses for cursor advancement), ~30 ns/posting.

    Scoring then adds each term's impacts at the intersection in
    sorted-term entry order, so scores are bit-identical to
    taat_and/daat_and (asserted by the 3-kernel differential test).
    """
    if not term_entries:
        return []
    # intersect from rarest: postings arrays are globally docid-sorted
    order = sorted(range(len(term_entries)), key=lambda i: len(term_entries[i][2]))
    inter = term_entries[order[0]][2]
    for i in order[1:]:
        if not len(inter):
            return []
        ids = term_entries[i][2]
        pos = np.searchsorted(ids, inter)
        pos_ok = pos < len(ids)
        keep = np.zeros(len(inter), dtype=bool)
        keep[pos_ok] = ids[pos[pos_ok]] == inter[pos_ok]
        inter = inter[keep]
    if not len(inter):
        return []
    scores = np.zeros(len(inter), dtype=np.float64)
    for _term, w, ids, impacts in term_entries:  # sorted-term order (tie policy)
        scores += _weighted(w, impacts[np.searchsorted(ids, inter)])
    return top_k(scores, topk, inter)


def search_blocks(
    block_rows: dict[str, list],
    term_dfs: dict[str, int],
    codec: str,
    dl_lookup,
    n_docs: int,
    avgdl: float,
    query: str,
    mode: str = "OR",
    topk: int = DEFAULT_TOPK,
    k1: float = BM25_K1,
    b: float = BM25_B,
    flat_cache: dict | None = None,
    force_kernel: str | None = None,
) -> list[tuple[int, float]]:
    """Score a query given collected block rows per term: the one driver
    query executor, of SearchEngine.search and of batch_score's driver
    route, ranked by top_k.

    block_rows[term] = [(shard, block_id, last_docid, base_docid, max_tf,
    doc_bytes, freq_bytes, n)] in any order; sorted here by (shard,
    block_id) which is global docid order. A query term counts when it
    is in term_dfs, as in the relational plan: a present term with no
    block rows scores nothing, and AND then matches no doc.

    Kernel choice: vectorized TAAT (taat_or/taat_and) when the query's
    total posting volume is small (<= TAAT_MAX_POSTINGS); beyond that,
    block-max pruned kernels — the vectorized blockwise WAND
    (blockmax_taat_or) for OR, the vectorized searchsorted intersection
    (intersect_and) for AND. ``force_kernel`` ("taat" | "bmw_block" |
    "vec_and" | "daat") overrides the selection; "daat" is the
    exhaustive cursor DAAT (the differential baseline; daat_and for
    AND). A kernel that does not serve the query's mode raises
    ValueError.
    dl_lookup is a dl store (plans.search._DenseDL / _SortedDL).

    ``flat_cache`` amortizes decoding AND scoring across queries: a
    mapping (term, k1, b) -> (docids, impacts), the output of
    term_impacts for the caller's fixed n_docs, avgdl and dl store, read
    and filled here. 16 bytes per cached posting (int64 id, float64
    impact). A serving engine keeps it as an LRU across calls and bounds
    it; batch_score keeps a plain dict for one call. The cursor DAAT
    ("daat") never reads it: it scores from tf, which keeps it an
    independent check of the cached impacts.
    """
    q = tokenize_query(query)
    counts = Counter(t for t in q if t in term_dfs)
    if not counts:
        return []
    sorted_terms = sorted(counts)  # fixed accumulation order (tie policy)
    total_df = sum(term_dfs[t] for t in sorted_terms)
    is_and = mode.upper() == "AND"

    def term_rows(term):
        return sorted(block_rows.get(term, ()), key=lambda r: (r[0], r[1]))

    def term_blocks(term):
        return [(r[2], r[3], r[4], r[5], r[6]) for r in term_rows(term)]

    def flat_entries():
        entries = []
        for term in sorted_terms:
            key = (term, k1, b)
            cached = None if flat_cache is None else flat_cache.get(key)
            if cached is None:
                cached = term_impacts(
                    block_rows.get(term, ()), codec, dl_lookup, n_docs, term_dfs[term],
                    avgdl, k1, b,
                )
                if flat_cache is not None:
                    flat_cache[key] = cached
            entries.append((term, float(counts[term]), *cached))
        return entries

    kernel = force_kernel
    if kernel is None:
        if total_df <= TAAT_MAX_POSTINGS:
            kernel = "taat"
        else:
            kernel = "vec_and" if is_and else "bmw_block"

    if kernel == "taat":
        entries = flat_entries()
        if is_and:
            return taat_and(entries, dl_lookup, topk)
        return taat_or(entries, dl_lookup, topk)

    if kernel == "vec_and":
        if not is_and:
            raise ValueError("vec_and is an AND kernel; OR uses taat/bmw_block")
        return intersect_and(flat_entries(), topk)

    if kernel == "bmw_block":
        if is_and:
            raise ValueError(
                "bmw_block is an OR kernel; AND uses taat/vec_and/daat"
            )
        entries = flat_entries()
        metas = []
        for term in sorted_terms:
            rows = term_rows(term)
            last = np.array([r[2] for r in rows], dtype=np.int64)
            mtf = np.array([r[4] for r in rows], dtype=np.float64)
            idf = bm25_idf_strict(n_docs, term_dfs[term])
            metas.append((last, idf * (mtf * (k1 + 1.0)) / (mtf + k1 * (1.0 - b))))
        return blockmax_taat_or(entries, metas, topk)

    if kernel != "daat":
        raise ValueError(f"unknown kernel {kernel!r}")
    cursors, weights = [], []
    for term in sorted_terms:
        cursors.append(
            BlockCursor(term, term_dfs[term], term_blocks(term), codec, n_docs, k1, b)
        )
        weights.append(float(counts[term]))
    if is_and:
        return daat_and(cursors, weights, dl_lookup, avgdl, topk)
    return daat_or_unpruned(cursors, weights, dl_lookup, avgdl, topk)
