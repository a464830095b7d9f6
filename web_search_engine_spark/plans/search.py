"""Search over a built index.

Two paths, one semantics (tested rank-identical):

Rank contract: every path ranks on the 6-decimal ROUNDED score
(round(score, 6) in Spark, functions.bm25.round_score on the driver)
desc, then doc_id asc, and returns the raw score. Rounding makes the
order deterministic across physical plans, whose float sums associate
differently. SearchEngine and batch_score's driver route run one
executor (operators.wand.search_blocks), so they give each doc the same
score, bit for bit, and return the same ranked list; every kernel under
it ends in operators.wand.top_k, the one top-k of that key.

  - SearchEngine: interactive single-query path. Mirrors the reference's
    serving shape (lexicon + doc_lengths resident in memory, postings
    read per query: HW2/engine/searcher.py:34-50) — the lexicon and doc
    stats load once via Arrow; per-query block fetches go through a
    BLOCK DIRECTORY built from parquet footers at init (per-row-group
    term min/max ranges, binary-searched per query term — the
    table-format analog of the reference's lexicon byte offset + block
    directory seek, HW2/engine/listio.py:176-196): a term's lookup
    reads about one small row group per blocks file (see
    _BlockDirectory). Two LRUs of at most _TERM_CACHE_SIZE terms each
    serve repeated terms: one holds a term's fetched block rows, the
    other its decoded postings as (doc_ids, BM25 impacts) per
    (term, k1, b), so a hot query neither decodes nor evaluates BM25 —
    it only adds cached impacts (operators.wand.term_impacts). No Spark
    job in the hot path; latency is milliseconds like the reference's.

  - batch_score(): top-k for a query SET under the batch contract
    (above), over the block table, by one of two routes:
      * driver: when the call scores at most DRIVER_MAX_POSTINGS
        postings (Σ over queries of Σ df of each query's distinct
        present terms — exact before any block is read, from
        catalog.term_dfs), the terms' block rows are read through the
        catalog's IndexSnapshot (the same directory and dl store
        SearchEngine holds) and each query runs through SearchEngine's
        executor, operators.wand.search_blocks (impacts from the numpy
        twin of the SQL expression, functions.bm25.bm25_weighted_scores);
        the rows come back as a LocalRelation, which collects with no
        Spark job.
      * Spark: above the bound, or when pyarrow cannot read the index
        in this process: prune scan on term -> decode blocks
        (mapInPandas) -> the same relational BM25 plan as
        plans/query.py.
    The bound comes from a sweep of process-tree CPU and wall per call,
    driver vs Spark route (local[4], 4-vCPU host; CHANGES.md has the
    table), on an 8,000-doc index (perfbench's refresh base plus three
    appends) and a 3M-doc one from the same generator. It found no
    crossover: the driver route cost 10-32x less CPU and less wall at
    every point, up to 17.9M postings (2.8 s vs 87.6 s of CPU) and
    10.2M on the 3M-doc index (2.3 s vs 31.3 s). So the bound is a
    driver-memory cap: the route's measured peak is 37-71 bytes per
    scored posting for one-query calls (the decode of the longest list
    dominates; a query set that shares terms needs less), about 0.9 GB
    at 12M postings.

Driver-memory scale notes:
  - doc lengths: the dense path keeps one float64 per doc_id slot
    (8 bytes/doc -> 8 GB per billion docs). When the id space is sparse
    (streaming appends leave shard-boundary gaps) or simply too large,
    `_SortedDL` stores (sorted doc_ids, dl) pairs and answers lookups
    by binary search — 16 bytes per EXISTING doc, independent of
    max_doc_id. Chosen automatically; beyond single-node RAM the
    serving tier shards by doc_id range (each server loads only its
    shards' docs_meta + blocks), which this layout already supports
    since both tables are hive-partitioned by shard.
  - block directory: one (term_min, term_max, path, row_group) entry
    per row group plus one open memory-mapped file per blocks file —
    footer metadata only, no payload read at init.
  - impact cache: 16 bytes per cached posting (int64 doc_id + float64
    impact — the size of the int64 doc_id + int64 tf it replaced), at
    most _TERM_CACHE_SIZE (term, k1, b) entries.
  - dense scatter-add accumulator (taat_or / taat_and on a _DenseDL
    store, when the query's postings reach 1/8 of the id space): 8 bytes
    per id slot per query, plus 8 per slot for AND's match counter,
    freed when the query returns.
  - batch_score driver route: 16 bytes per decoded posting kept for
    the call (doc id + unweighted impact), the decode's transients of one
    term at a time, and one query's kernel state (as SearchEngine's):
    measured at most ~72 bytes per scored posting, freed when the call
    returns,
    plus the snapshot's dl store and block directory (above), kept
    until the catalog's refresh().
"""

from __future__ import annotations

import os
from bisect import bisect_right
from collections import OrderedDict
from contextlib import suppress
from itertools import accumulate

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StringType, StructField, StructType,
)

from ..config import BM25_B, BM25_K1, DEFAULT_TOPK
from ..functions.tokenizer import tokenize_query
from ..operators.blocks import blocks_to_postings
from ..operators.wand import search_blocks
from ..sources.catalog import _READ_ERRORS, IndexCatalog, read_dfs
from .query import score_queries

# dense dl array when max_doc_id+1 <= this multiple of the doc count
_DENSE_DL_MAX_OVERHEAD = 4
_TERM_CACHE_SIZE = 8192


class _DenseDL:
    """doc_id -> dl as a direct-indexed float64 array (8 bytes per id
    SLOT — right when ids are dense; see module docstring for limits)."""

    __slots__ = ("arr",)

    def __init__(self, doc_ids: np.ndarray, dls: np.ndarray, max_id: int):
        self.arr = np.zeros(max_id + 1 if max_id >= 0 else 0, dtype=np.float64)
        if len(doc_ids):
            self.arr[doc_ids] = dls

    def __getitem__(self, doc_id):
        return self.arr[doc_id] if doc_id < len(self.arr) else 0.0

    def take_ids(self, doc_ids: np.ndarray) -> np.ndarray:
        """dl of each id; 0.0 for an id past the array (a doc appended
        after the store loaded), as _SortedDL answers an absent id."""
        arr = self.arr
        if len(doc_ids) == 0 or int(doc_ids.max()) < len(arr):
            return arr[doc_ids]
        out = np.zeros(len(doc_ids), dtype=np.float64)
        inside = doc_ids < len(arr)
        out[inside] = arr[doc_ids[inside]]
        return out


class _SortedDL:
    """doc_id -> dl by binary search over sorted ids: 16 bytes per
    EXISTING doc, independent of the id-space size (sparse/huge ids)."""

    __slots__ = ("ids", "dls")

    def __init__(self, doc_ids: np.ndarray, dls: np.ndarray):
        order = np.argsort(doc_ids)
        self.ids = doc_ids[order]
        self.dls = dls[order]

    def __getitem__(self, doc_id):
        i = int(np.searchsorted(self.ids, doc_id))
        if i < len(self.ids) and self.ids[i] == doc_id:
            return self.dls[i]
        return 0.0

    def take_ids(self, doc_ids: np.ndarray) -> np.ndarray:
        if len(self.ids) == 0:
            return np.zeros(len(doc_ids), dtype=np.float64)
        pos = np.searchsorted(self.ids, doc_ids)
        pos = np.minimum(pos, len(self.ids) - 1)
        out = self.dls[pos].copy()
        out[self.ids[pos] != doc_ids] = 0.0
        return out


def _make_dl_store(doc_ids: np.ndarray, dls: np.ndarray):
    if len(doc_ids) == 0:
        return _DenseDL(doc_ids, dls, -1)
    max_id = int(doc_ids.max())
    if max_id + 1 <= _DENSE_DL_MAX_OVERHEAD * len(doc_ids):
        return _DenseDL(doc_ids, dls, max_id)
    return _SortedDL(doc_ids, dls)


_BLOCK_COLS = [
    "term", "block_id", "last_docid", "base_docid",
    "max_tf", "doc_bytes", "freq_bytes", "n",
]


class _BlockDirectory:
    """Per-row-group (term_min, term_max) directory over blocks/.

    Built once from parquet FOOTERS (no payload I/O). Blocks files are
    hash-bucketed by term, so every file spans the whole term range, but
    each file is one term-sorted partition cut into small row groups
    (build_index._BLOCKS_ROW_GROUP_BYTES): a term falls in about one row
    group per file. Entries are sorted by term_min with a running max of
    term_max, so a term's candidates are found by a binary search plus a
    leftward scan that stops once no entry further left reaches the
    term — exact for any layout, O(log #row_groups + #files) per term on
    the build's layout. Row groups without term statistics are read for
    every query. Each file is memory-mapped and its footer parsed once,
    at init, so a fetch costs the matching row-group decodes."""

    def __init__(self, blocks_dir: str):
        import pyarrow.parquet as pq

        entries = []  # (term_min, term_max, path, rg_idx)
        self._unranged: list[tuple[str, int]] = []  # no term stats
        self._files: dict[str, pq.ParquetFile] = {}
        self._shard: dict[str, int] = {}
        for shard_dir in sorted(os.listdir(blocks_dir)):
            full = os.path.join(blocks_dir, shard_dir)
            if not (shard_dir.startswith("shard=") and os.path.isdir(full)):
                continue
            shard = int(shard_dir.split("=", 1)[1])
            for fname in sorted(os.listdir(full)):
                if not fname.endswith(".parquet"):
                    continue
                path = os.path.join(full, fname)
                pf = pq.ParquetFile(path, memory_map=True)
                self._files[path] = pf
                self._shard[path] = shard
                md = pf.metadata
                term_idx = md.schema.to_arrow_schema().get_field_index("term")
                for rg in range(md.num_row_groups):
                    stats = md.row_group(rg).column(term_idx).statistics
                    if stats is None or not stats.has_min_max:
                        self._unranged.append((path, rg))
                    else:
                        entries.append((stats.min, stats.max, path, rg))
        entries.sort(key=lambda e: (e[0], e[1]))
        self._entries = entries
        self._mins = [e[0] for e in entries]
        # _prefix_max[i] = max term_max over entries[0..i]
        self._prefix_max = list(accumulate((e[1] for e in entries), max))

    def _row_groups_for(self, terms: list[str]) -> set[tuple[str, int]]:
        """-> {(path, rg_idx)} of row groups possibly holding any query
        term: term_min <= t <= term_max, or no term statistics."""
        hit: set[tuple[str, int]] = set()
        for t in terms:
            i = bisect_right(self._mins, t) - 1
            while i >= 0 and self._prefix_max[i] >= t:
                _tmin, tmax, path, rg = self._entries[i]
                if tmax >= t:
                    hit.add((path, rg))
                i -= 1
        if terms:
            hit.update(self._unranged)
        return hit

    def fetch(self, terms: list[str]) -> dict[str, list]:
        """-> {term: [(shard, block_id, last_docid, base_docid, max_tf,
        doc_bytes, freq_bytes, n)]} reading only matching row groups."""
        import pyarrow.compute as pc

        rows: dict[str, list] = {}
        by_path: dict[str, list[int]] = {}
        for path, rg in sorted(self._row_groups_for(terms)):
            by_path.setdefault(path, []).append(rg)
        value_set = pa.array(sorted(set(terms)))
        for path, rgs in by_path.items():
            shard = self._shard[path]
            # small row groups: the reader's thread pool costs more CPU
            # than it saves in latency
            tbl = self._files[path].read_row_groups(
                rgs, columns=_BLOCK_COLS, use_threads=False
            )
            tbl = tbl.filter(pc.is_in(tbl.column("term"), value_set=value_set))
            if tbl.num_rows == 0:
                continue
            cols = [tbl.column(c).to_pylist() for c in _BLOCK_COLS]
            for term, bid, last, base, mtf, db, fb, n in zip(*cols):
                rows.setdefault(term, []).append(
                    (shard, bid, last, base, mtf, db, fb, n)
                )
        return rows


class IndexSnapshot:
    """Spark-free reader over one index directory: stats.json, the
    lexicon dataset, the block directory and the dl store — the resident
    state of the reference's searcher (HW2/engine/searcher.py:34-50).

    Each part is built on first use and then kept, so the reader pins
    the files it listed: it lists the same lexicon/, blocks/ and
    docs_meta/ directories as IndexCatalog's Spark handles. An open that
    raises one of _READ_ERRORS (pyarrow cannot read the path in this
    process, e.g. an object store it holds no credentials for) is kept
    too and raised again on every later use, so callers fall back to
    Spark without retrying the open. SearchEngine forces every part at
    init; IndexCatalog owns one, built part by part as calls need them,
    and drops it in refresh()."""

    def __init__(self, index_dir: str, stats: dict | None = None):
        from ..sources.catalog import read_stats

        self.index_dir = index_dir
        self.stats = read_stats(index_dir) if stats is None else stats
        self.n_docs = int(self.stats["n_docs"])
        self.avgdl = float(self.stats["avgdl"])
        self.codec = self.stats["codec"]
        self._parts: dict = {}

    def _part(self, name: str, build):
        part = self._parts.get(name)
        if part is None:
            try:
                part = build()
            except _READ_ERRORS as e:
                part = e
            self._parts[name] = part
        if isinstance(part, BaseException):
            # a fresh traceback per raise: the kept error does not grow
            raise part.with_traceback(None)
        return part

    def _path(self, table: str) -> str:
        return os.path.join(self.index_dir, table)

    def lexicon(self) -> pads.Dataset:
        return self._part(
            "lexicon", lambda: pads.dataset(self._path("lexicon"), format="parquet")
        )

    def dfs(self, terms: list[str] | None = None) -> dict[str, int]:
        """{term: df} of the whole lexicon, or of the given terms present
        in it (not kept)."""
        return read_dfs(self.lexicon(), terms)

    def directory(self) -> "_BlockDirectory":
        return self._part("blocks", lambda: _BlockDirectory(self._path("blocks")))

    def dl(self):
        """The doc_id -> dl store of docs_meta (_DenseDL or _SortedDL)."""

        def load():
            tbl = pads.dataset(self._path("docs_meta"), partitioning="hive").to_table(
                columns=["doc_id", "dl"]
            )
            return _make_dl_store(
                np.asarray(tbl.column("doc_id")),
                np.asarray(tbl.column("dl"), dtype=np.float64),
            )

        return self._part("docs_meta", load)


class SearchEngine:
    """In-process query engine over an index directory: an IndexSnapshot
    with every part loaded at init, plus the df dict and two term LRUs."""

    def __init__(self, index_dir: str):
        self.snapshot = IndexSnapshot(index_dir)
        self._df = self.snapshot.dfs()
        # open the dl store and block directory now, not in a query
        self.snapshot.dl()
        self.snapshot.directory()
        self._term_cache: OrderedDict[str, list] = OrderedDict()
        # (term, k1, b) -> (doc_ids, impacts): lets repeated queries skip
        # the block decode and the BM25 evaluation (LRU, bounded like the
        # block LRU; see search_blocks)
        self._flat_cache: OrderedDict[tuple, tuple] = OrderedDict()

    def _fetch_blocks(self, terms: list[str]) -> dict[str, list]:
        out: dict[str, list] = {}
        missing = []
        for t in terms:
            cached = self._term_cache.get(t)
            if cached is not None:
                # a concurrent request may have evicted t since the read
                with suppress(KeyError):
                    self._term_cache.move_to_end(t)
                out[t] = cached
            else:
                missing.append(t)
        if missing:
            fetched = self.snapshot.directory().fetch(missing)
            for t in missing:
                blk = fetched.get(t, [])
                out[t] = blk
                self._term_cache[t] = blk
                # concurrent requests may empty the LRU between the
                # check and the pop
                if len(self._term_cache) > _TERM_CACHE_SIZE:
                    with suppress(KeyError):
                        self._term_cache.popitem(last=False)
        return out

    def search(
        self,
        query: str,
        mode: str = "OR",
        topk: int = DEFAULT_TOPK,
        k1: float = BM25_K1,
        b: float = BM25_B,
        use_wand: bool = True,
        force_kernel: str | None = None,
    ) -> list[tuple[int, float]]:
        """Top-k (doc_id, score) of ``query`` through search_blocks.
        ``use_wand=False`` is ``force_kernel="daat"``, the exhaustive
        cursor DAAT, unless a kernel is forced."""
        terms = sorted({t for t in tokenize_query(query) if t in self._df})
        if not terms:
            return []
        if not use_wand and force_kernel is None:
            force_kernel = "daat"
        snap = self.snapshot
        out = search_blocks(
            self._fetch_blocks(terms), self._df, snap.codec, snap.dl(), snap.n_docs,
            snap.avgdl, query, mode=mode, topk=topk, k1=k1, b=b,
            flat_cache=self._flat_cache, force_kernel=force_kernel,
        )
        # the query's impacts move to the LRU's end; a concurrent request
        # may have evicted a key since search_blocks read it
        for t in terms:
            with suppress(KeyError):
                self._flat_cache.move_to_end((t, k1, b))
        while len(self._flat_cache) > _TERM_CACHE_SIZE:
            with suppress(KeyError):
                self._flat_cache.popitem(last=False)
        return out


def make_snippet(text: str, query: str, width: int = 160) -> str:
    """Best-window snippet around query terms (reference app.py:118-155
    defines the same feature; optional — not part of rank-identity).

    Slides a character window over the document and keeps the one
    covering the most DISTINCT query terms (earliest window wins ties).
    """
    terms = {t for t in tokenize_query(query)}
    if not text or not terms:
        return text[:width]
    low = text.lower()
    hits = []
    for t in terms:
        start = 0
        while True:
            i = low.find(t, start)
            if i < 0:
                break
            hits.append((i, t))
            start = i + 1
    if not hits:
        return text[:width]
    hits.sort()
    # two-pointer sweep: O(hits) — window [pos_i, pos_i + width) keeps a
    # multiset of covered terms; earliest window wins ties
    best_start, best_cover = 0, 0
    in_window: dict[str, int] = {}
    j = 0
    for i, (pos, _t) in enumerate(hits):
        while j < len(hits) and hits[j][0] < pos + width:
            t = hits[j][1]
            in_window[t] = in_window.get(t, 0) + 1
            j += 1
        if len(in_window) > best_cover:
            best_cover, best_start = len(in_window), max(0, pos - 20)
        t = hits[i][1]
        if in_window[t] == 1:
            del in_window[t]
        else:
            in_window[t] -= 1
    return text[best_start : best_start + width]


def extract_subset(docs: DataFrame, out_path: str, limit: int) -> None:
    """First-N-docs corpus sampler (reference extract_subset.py:15-32)."""
    docs.limit(limit).write.mode("overwrite").parquet(out_path)


# batch_score scores on the driver when a call scores at most this many
# postings: a memory cap, since the measured sweep found no CPU or wall
# crossover below it (see the module docstring)
DRIVER_MAX_POSTINGS = 12_000_000
# the Spark route's output schema, nullability included
_BATCH_SCHEMA = StructType([
    StructField("query_id", StringType()),
    StructField("rank", IntegerType(), nullable=False),
    StructField("doc_id", LongType()),
    StructField("score", DoubleType()),
])
_BATCH_ARROW = pa.schema([
    ("query_id", pa.string()), ("rank", pa.int32()),
    ("doc_id", pa.int64()), ("score", pa.float64()),
])


def _driver_batch(catalog, texts, term_dfs, mode, topk, k1, b):
    """batch_score's rows computed on the driver from the catalog's
    snapshot, as an Arrow table; None when pyarrow cannot read the
    index here (the caller takes the Spark route). An Arrow table, not
    a pandas frame: PySpark turns an EMPTY pandas frame into an
    RDD-backed relation whose collect runs a job.

    Each query text runs through SearchEngine.search's executor
    (operators.wand.search_blocks) over the snapshot's block rows and dl
    store, with the call's term_dfs, so both give a doc the same score
    and rank alike; a dict shared by the call's queries holds each
    term's impacts, decoded and scored once per call. Postings of docs
    with no dl (dl = 0, or absent from docs_meta) score 0.0 and never
    rank, as the inner join to doc_stats drops them; AND keeps docs
    matching every present query term."""
    snap = catalog.snapshot()
    terms = sorted(
        {t for q in texts.values() for t in tokenize_query(q) if t in term_dfs}
    )
    try:
        snap.lexicon()  # df came from it, not from a Spark probe
        dl_store = snap.dl()
        block_rows = snap.directory().fetch(terms) if terms else {}
    except _READ_ERRORS:
        return None

    impacts: dict = {}
    out: list[tuple] = []
    for qid, q in texts.items():
        hits = search_blocks(
            block_rows, term_dfs, snap.codec, dl_store, snap.n_docs, snap.avgdl, q,
            mode=mode, topk=topk, k1=k1, b=b, flat_cache=impacts,
        )
        out.extend((qid, rank, doc, score) for rank, (doc, score) in enumerate(hits, 1))
    cols = list(zip(*out)) or [()] * len(_BATCH_ARROW)
    return pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, _BATCH_ARROW)],
        schema=_BATCH_ARROW,
    )


def batch_score(
    catalog: IndexCatalog,
    queries: list[tuple[str, str]],
    mode: str = "OR",
    topk: int = DEFAULT_TOPK,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k for a query set over the block table: (query_id, rank,
    doc_id, score), ranked on round(score, 6) desc, doc_id asc.

    The query-term df lookup goes through catalog.term_dfs — a
    driver-side, term-filtered pyarrow read of the lexicon, with the
    catalog's snapshot semantics. Then one of two routes:

    - driver: when the call scores at most DRIVER_MAX_POSTINGS postings
      (Σ over queries of Σ df of the query's distinct present terms,
      exact from term_dfs), the terms' block rows are read through the
      catalog's snapshot and each query is scored and ranked by
      SearchEngine.search's executor (_driver_batch); the rows return as
      a LocalRelation, which collects with no Spark job.
    - Spark: above the bound, or when pyarrow cannot read the index in
      this process, prune scan on term -> decode blocks (mapInPandas)
      -> the relational BM25 plan of plans/query.py. pre_cluster_by_query:
      the decoded postings have no reusable partitioning, so one
      explicit query_id exchange serves both the score aggregation and
      the top-k window (2 exchanges -> 1; see score_per_doc).

    Both routes return the same rows up to the float rounding of the
    per-doc sum (tests/test_block_index.py, driver vs Spark).
    """
    from .query import _terms_in_expr

    texts: dict[str, str] = {}
    for qid, q in queries:
        # a repeated query_id scores its queries' terms together, as
        # score_per_doc's rows do
        texts[qid] = f"{texts[qid]} {q}" if qid in texts else q
    all_terms = sorted({t for q in texts.values() for t in tokenize_query(q)})
    term_dfs = catalog.term_dfs(all_terms)
    to_score = sum(
        term_dfs.get(t, 0) for q in texts.values() for t in set(tokenize_query(q))
    )
    if to_score <= DRIVER_MAX_POSTINGS:
        table = _driver_batch(catalog, texts, term_dfs, mode, topk, k1, b)
        if table is not None:
            return catalog.spark.createDataFrame(table, _BATCH_SCHEMA)
    pruned = catalog.blocks().filter(_terms_in_expr("term", all_terms))
    postings = blocks_to_postings(pruned, codec=catalog.codec)
    return score_queries(
        postings,
        catalog.doc_stats().select("doc_id", "dl"),
        catalog.n_docs,
        catalog.avgdl,
        queries,
        mode=mode,
        topk=topk,
        k1=k1,
        b=b,
        term_dfs=term_dfs,
        pre_cluster_by_query=True,
    )
