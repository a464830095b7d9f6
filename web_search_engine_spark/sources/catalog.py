"""Index table catalog — parquet layout + stats + build manifest.

On a cluster these would be Iceberg tables (the north rule's target);
in the sandbox they are parquet directories with the same logical
schema. Layout under <index_dir>/:

  blocks/      block rows (operators/blocks.BLOCK_SCHEMA), hash-
               partitioned on (shard, term-bucket) and sorted by term
               within each file, in small row groups: every file spans
               the whole term range, but a term falls in about one row
               group per file, so row-group min/max stats prune a
               `term IN (...)` read to one small group per file — the
               table-format analog of the reference's lexicon byte
               offsets + block directory binary search
               (HW2/engine/listio.py:176-196).
  lexicon/     (term, df, nblocks, max_tf): operators/blocks.LEXICON_SCHEMA
  docs_meta/   (shard, doc_id, repo, path, commit, lang, dl,
               content_sha256) — doc stats + lineage + the per-row
               sha256 invariant vs the source table (input_hint), in
               ONE table (column pruning makes the dl-only read free).
  stats.json   {n_docs, avgdl, codec, block_size, shard_size}
  manifest/    (shard, n_docs, sum_dl, n_postings, n_blocks, build_sec,
               finished_unix, codec, block_size, shard_size) — one row
               per COMMITTED shard, from a build or a streaming append
               alike (a replayed append adds a later row for the same
               shard, and the latest counts); the resume checkpoint AND
               the one corpus-stats rollup source (n_docs/avgdl
               aggregate from these rows, never from a docs_meta
               rescan). Written driver-side via pyarrow — a metadata
               commit, the same way Iceberg writes manifest files.
  _batch_ledger.json  streaming-append idempotency ledger: next_base
               and each batch's {base, committed} (see
               streaming/incremental.py).
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..operators.blocks import LEXICON_SCHEMA

# pyarrow cannot read an index path in this process (e.g. an object
# store it holds no credentials for): the driver-side readers' callers
# take Spark instead
_READ_ERRORS = (OSError, pa.ArrowException)


def read_dfs(lexicon, terms: list[str] | None = None) -> dict[str, int]:
    """{term: df} of a pyarrow lexicon dataset; with ``terms``, of those
    terms only, read term-filtered per row group."""
    import pyarrow.compute as pc

    tbl = lexicon.to_table(
        columns=["term", "df"],
        filter=None if terms is None else pc.field("term").isin(terms),
    )
    return dict(zip(tbl.column("term").to_pylist(), tbl.column("df").to_pylist()))


def write_stats(index_dir: str, stats: dict) -> None:
    os.makedirs(index_dir, exist_ok=True)
    tmp = os.path.join(index_dir, "stats.json.tmp")
    with open(tmp, "w") as f:
        json.dump(stats, f, indent=1)
    os.replace(tmp, os.path.join(index_dir, "stats.json"))  # atomic commit


def read_stats(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "stats.json")) as f:
        return json.load(f)


def blocks_layout(index_dir: str) -> dict:
    """Parquet layout of the blocks table from file footers only (no
    payload read): file and row-group counts, median rows per row
    group, and bytes on disk."""
    import statistics

    import pyarrow.parquet as pq

    rows: list[int] = []
    n_files = n_bytes = 0
    for d, _dirs, files in os.walk(os.path.join(index_dir, "blocks")):
        for fname in files:
            if not fname.endswith(".parquet"):
                continue
            path = os.path.join(d, fname)
            md = pq.read_metadata(path)
            rows.extend(md.row_group(i).num_rows for i in range(md.num_row_groups))
            n_files += 1
            n_bytes += os.path.getsize(path)
    return {
        "files": n_files,
        "row_groups": len(rows),
        "median_rows_per_row_group": statistics.median(rows) if rows else 0,
        "bytes": n_bytes,
    }


class IndexCatalog:
    """Read-side handle on a built index.

    Table handles are memoized per catalog instance: ``spark.read
    .parquet`` eagerly lists the directory (InMemoryFileIndex), so a
    serving loop that calls ``blocks()`` per query would re-pay file
    listing every time — at 100 TB that is a multi-second driver stall
    per call (guide §6 "file listing"). A catalog therefore behaves
    like a table-format SNAPSHOT view: it sees the files present when
    each table is first touched. After appending to the index (e.g.
    streaming ingest), call ``refresh()`` — or construct a new catalog,
    which is what build_index returns — to pick up new files.
    ``doc_stats()`` is also held in Spark's cache; ``refresh()`` releases
    it.
    """

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.stats = read_stats(index_dir)
        self._tables: dict[str, DataFrame] = {}
        self._snapshot = None
        self._doc_stats: DataFrame | None = None

    def refresh(self) -> "IndexCatalog":
        """Drop memoized table handles, the driver-side snapshot and the
        cached doc_stats (unpersisted) + re-read stats.json."""
        if self._doc_stats is not None:
            self._doc_stats.unpersist()
            self._doc_stats = None
        self._tables.clear()
        self._snapshot = None
        self.stats = read_stats(self.index_dir)
        return self

    def snapshot(self):
        """The catalog's driver-side reader (plans.search.IndexSnapshot)
        over this catalog's stats, built part by part on first use and
        memoized like the table handles, until refresh()."""
        if self._snapshot is None:
            from ..plans.search import IndexSnapshot

            self._snapshot = IndexSnapshot(self.index_dir, self.stats)
        return self._snapshot

    def _table(self, name: str, schema=None) -> DataFrame:
        df = self._tables.get(name)
        if df is None:
            reader = self.spark.read if schema is None else self.spark.read.schema(schema)
            df = reader.parquet(os.path.join(self.index_dir, name))
            self._tables[name] = df
        return df

    @property
    def n_docs(self) -> int:
        return int(self.stats["n_docs"])

    @property
    def avgdl(self) -> float:
        return float(self.stats["avgdl"])

    @property
    def codec(self) -> str:
        return self.stats["codec"]

    def blocks(self) -> DataFrame:
        return self._table("blocks")

    def lexicon(self) -> DataFrame:
        """The lexicon table, read with LEXICON_SCHEMA: opening it runs no
        schema-inference job (the other handles infer theirs; docs_meta's
        columns depend on the build's key columns)."""
        return self._table("lexicon", LEXICON_SCHEMA)

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """{term: df} for the given terms, read DRIVER-SIDE via pyarrow
        (no Spark job — the lexicon is tiny by Heaps' law and the read
        is term-filtered per row group) through snapshot(). The lexicon
        dataset is memoized with the same snapshot semantics as the
        Spark table handles: it pins the files present at first touch,
        so df values stay consistent with the memoized blocks/docs_meta
        snapshots; call refresh() to see new data.

        When pyarrow cannot read the lexicon path in this process (e.g.
        an object store it holds no credentials for), the lookup runs
        as a Spark job over the lexicon table instead (probe_lexicon);
        the snapshot keeps a failed open, so until the next refresh()
        no later call retries it."""
        if not terms:
            return {}
        try:
            return self.snapshot().dfs(terms)
        except _READ_ERRORS:
            from ..plans.query import probe_lexicon

            return probe_lexicon(self.lexicon(), terms)

    def docs_meta(self) -> DataFrame:
        return self._table("docs_meta")

    def doc_stats(self) -> DataFrame:
        """(doc_id, dl) of the docs_meta files this catalog lists, cached
        and memoized until refresh(), which unpersists it.

        The cache is lazy: the first query that reads the frame fills it
        as part of its own job, and later queries skip the docs_meta scan.
        The frame reads the listed files by name, not the directory, for
        two reasons. Spark's cache manager matches a plan by its file
        index's root paths, so a directory-rooted cache would answer a
        newer catalog's identical plan with this snapshot's rows, and miss
        every doc appended since. And a write into docs_meta/ from this
        session re-lists a cached directory in place, which would unpin
        the snapshot; re-listing named files gives back the same files.
        Catalogs over the same files share one cache entry, and the first
        refresh() of any of them releases it; a catalog dropped without
        refresh() keeps it until spark.catalog.clearCache(). Storage, in
        compressed columnar batches (MEMORY_AND_DISK): 2.3 bytes per doc
        measured at 6,000 docs and 5.9 at 400; two uncompressed longs
        would take 16. Listing more than
        spark.sql.sources.parallelPartitionDiscovery.threshold (32) files
        runs one listing job on the first call."""
        if self._doc_stats is None:
            meta = self.docs_meta()
            schema = meta.select("doc_id", "dl").schema
            self._doc_stats = (
                self.spark.read.schema(schema).parquet(*meta.inputFiles()).cache()
            )
        return self._doc_stats

    def manifest(self) -> DataFrame:
        return self._table("manifest")
