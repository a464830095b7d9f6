"""Serving block directory (plans/search._BlockDirectory) over
hand-written parquet layouts — Spark-free.

The directory must name exactly the row groups whose footer term range
covers a term (or that carry no term statistics), for any layout, and
on term-sorted files it must stay close to one row group per file."""

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from web_search_engine_spark.plans.search import _BLOCK_COLS, _BlockDirectory

ROW_GROUP = 4


def _write(path, terms, write_statistics=True):
    n = len(terms)
    tbl = pa.table({
        "term": pa.array(terms, pa.string()),
        "block_id": pa.array(range(n), pa.int32()),
        "last_docid": pa.array(range(1, n + 1), pa.int64()),
        "base_docid": pa.array(range(n), pa.int64()),
        "max_tf": pa.array([1] * n, pa.int64()),
        "doc_bytes": pa.array([bytes([0x80 | (i % 100)]) for i in range(n)]),
        "freq_bytes": pa.array([b"\x81"] * n),
        "n": pa.array([1] * n, pa.int32()),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path, row_group_size=ROW_GROUP,
                   write_statistics=write_statistics)


VOCAB = [f"t{i:03d}" for i in range(120)]
SPAN_TERM = "t040"  # repeated across row-group boundaries


def _sorted_bucket(bucket, n_buckets):
    terms = [t for i, t in enumerate(VOCAB) if i % n_buckets == bucket]
    if SPAN_TERM in terms:
        k = terms.index(SPAN_TERM)
        terms[k:k + 1] = [SPAN_TERM] * 9
    return terms


def _write_sorted(root, n_buckets=3):
    """Hash-bucket-like layout: each file holds every n-th term, sorted,
    so every file spans the whole term range."""
    for b in range(n_buckets):
        _write(os.path.join(root, f"shard={b % 2}", f"part-{b}.parquet"),
               _sorted_bucket(b, n_buckets))


@pytest.fixture(scope="module")
def mixed_dir(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mixed") / "blocks")
    _write_sorted(root)
    _write(os.path.join(root, "shard=2", "part-nostats.parquet"),
           VOCAB[10:30], write_statistics=False)
    shuffled = VOCAB[::2]
    random.Random(7).shuffle(shuffled)
    _write(os.path.join(root, "shard=3", "part-overlap.parquet"), shuffled)
    return root


@pytest.fixture(scope="module")
def sorted_dir(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("sorted") / "blocks")
    _write_sorted(root)
    return root


def _files(root):
    for d, _dirs, files in sorted(os.walk(root)):
        for f in sorted(files):
            if f.endswith(".parquet"):
                yield os.path.join(d, f)


def _brute_force(root, t):
    """{(path, rg)}: min <= t <= max, or no term statistics."""
    out = set()
    for path in _files(root):
        md = pq.read_metadata(path)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(0).statistics
            if st is None or not st.has_min_max or st.min <= t <= st.max:
                out.add((path, rg))
    return out


def _probe_terms():
    between = [t + "m" for t in VOCAB]
    return VOCAB + between + ["", "a", "t", "zzz", "\U0010ffff"]


def test_directory_matches_brute_force(mixed_dir):
    d = _BlockDirectory(mixed_dir)
    for t in _probe_terms():
        assert d._row_groups_for([t]) == _brute_force(mixed_dir, t), t
    assert d._row_groups_for([]) == set()


def test_fetch_returns_exactly_the_term_rows(mixed_dir):
    d = _BlockDirectory(mixed_dir)
    want = {}
    for path in _files(mixed_dir):
        shard = int(os.path.basename(os.path.dirname(path)).split("=")[1])
        tbl = pq.read_table(path, columns=_BLOCK_COLS)
        for row in zip(*(tbl.column(c).to_pylist() for c in _BLOCK_COLS)):
            want.setdefault(row[0], []).append((shard,) + row[1:])
    rng = random.Random(11)
    for _ in range(40):
        terms = sorted(set(rng.sample(_probe_terms(), 3)))
        got = d.fetch(terms)
        assert {t: sorted(r) for t, r in got.items()} == {
            t: sorted(want[t]) for t in terms if t in want
        }, terms


class _CountingList(list):
    def __init__(self, items):
        super().__init__(items)
        self.reads = 0

    def __getitem__(self, i):
        self.reads += 1
        return super().__getitem__(i)


def test_sorted_files_read_about_one_row_group_per_file(sorted_dir):
    """Term-sorted files: a term's candidates are at most one row group
    per file plus one per row-group boundary its rows span, and the
    directory scan visits only a few entries per file to find them."""
    d = _BlockDirectory(sorted_dir)
    files = list(_files(sorted_dir))
    n_entries = len(d._entries)
    assert n_entries >= 4 * len(files)
    spans = {}
    for path in files:
        pf = pq.ParquetFile(path)
        groups = [pf.read_row_group(i, columns=["term"]).column(0).to_pylist()
                  for i in range(pf.num_row_groups)]
        for a, b in zip(groups, groups[1:]):
            if a[-1] == b[0]:
                spans[a[-1]] = spans.get(a[-1], 0) + 1
    assert spans.get(SPAN_TERM, 0) >= 2
    for t in _probe_terms():
        d._entries = _CountingList(d._entries)
        hits = d._row_groups_for([t])
        assert len(hits) <= len(files) + spans.get(t, 0), t
        assert d._entries.reads <= len(hits) + 2 * len(files), (t, d._entries.reads)
