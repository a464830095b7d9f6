"""Incremental index ingestion via Structured Streaming.

The reference has NO streaming (SURVEY.md §2.6); its incremental story
is "rerun the batch build". This module adds the Spark-native version:
a parquet-directory stream feeds foreachBatch appends into an existing
index, with exactly-once file tracking from the streaming checkpoint
(availableNow triggers make it a resumable catch-up batch — the same
discipline the north rule demands for kills/restarts).

Append semantics:
  - New docs get ARRIVAL-ORDER docids (the reference's MP build numbers
    docs by input line the same way, HW2/engine/build_runs_mp.py:83-91):
    each batch's ids start at the ledger's ``next_base`` (a shard
    boundary), so existing shards are NEVER rewritten — a batch only
    creates new shards. The docid space may contain bounded gaps at
    shard boundaries (documented; N counts docs, not ids, so BM25 stats
    are unaffected).

Idempotency (exactly-once even under foreachBatch REPLAY): Spark can
re-deliver a batch whose sink work partially completed before the
checkpoint committed. Like a build, an append records its shards as
rows of manifest/ (one row per shard, written once the shard data is
durable); the sink's ledger (<index>/_batch_ledger.json, atomic
tmp+rename) holds only what makes a replay safe — ``next_base`` and,
per batch, ``{base, committed}``:

  - an INTENT entry {base} is recorded before any data write, so a
    replay reuses the same base and the dynamic partition overwrite
    rewrites the SAME shards wholesale (data writes are idempotent);
  - the COMMIT flag plus the bumped next_base land in one atomic ledger
    write after all writes; a replay of a committed batch is skipped
    outright;
  - a replay of an UNCOMMITTED batch rebuilds the lexicon from ALL
    blocks (the O(delta) merge is not idempotent — the crash window
    between lexicon swap and ledger commit would double-count df), and
    its manifest rows are written again: corpus stats always come from
    the build's one rollup (build_index._commit_stats), which counts
    each shard by its latest row and is never read-modify-write — so
    every path converges to the same state no matter where the previous
    attempt died.

Shard data goes through the build's own shard writer
(build_index.write_shards): tokenize, blocks and docs_meta writes take
the same task count, dl source and write order as a build of the same
number of docs.

Incremental maintenance is O(batch), not O(index): the lexicon merge
folds only the new shards' blocks into the existing table
(build_index.merge_lexicon — additive df/nblocks, max max_tf), and
n_docs / avgdl roll up from per-shard manifest rows (driver-side
metadata, no full-table aggregation per micro-batch).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.postings import assign_doc_ids_counted
from ..plans.build_index import (
    _LEDGER,
    _append_manifest_rows,
    _commit_stats,
    _pending_bytes,
    _read_ledger,
    _read_manifest_rows,
    merge_lexicon,
    write_shards,
)
from ..sources.catalog import read_stats

SOURCE_SCHEMA = "repo string, path string, commit string, lang string, content string"


def _write_ledger(index_dir: str, ledger: dict) -> None:
    path = os.path.join(index_dir, _LEDGER)
    with open(path + ".tmp", "w") as f:
        json.dump(ledger, f, indent=1)
    os.replace(path + ".tmp", path)  # atomic commit


def _init_ledger(index_dir: str, shard_size: int) -> dict:
    """First streaming append against a batch-built index: start at the
    first id past the last committed shard (driver-side manifest read;
    subsequent batches use the ledger)."""
    shards = [int(r["shard"]) for r in _read_manifest_rows(index_dir)]
    next_base = (max(shards) + 1) * shard_size if shards else 0
    return {"next_base": next_base, "batches": {}}


def append_batch(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    batch_id: int = 0,
    key_cols: tuple[str, ...] = ("repo", "path"),
    text_col: str = "content",
    tokenizer: str = "pandas",
) -> int:
    """Append one micro-batch of documents as new shards. Returns the
    number of docs appended (0 for an empty batch or a committed
    replay).

    IMPORTANT: all work runs on ``batch.sparkSession`` — inside
    foreachBatch that is a CLONED session whose conf snapshots at stream
    start; setting partitionOverwriteMode on the outer session would not
    reach the clone and the partitioned writes would silently become
    STATIC overwrites, wiping the existing shards (found by driving the
    surface: a fresh session's stream ingest erased the seed index).
    """
    t_start = time.time()
    spark = batch.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    stats = read_stats(index_dir)
    shard_size = int(stats["shard_size"])
    codec = stats["codec"]
    block_size = int(stats["block_size"])

    ledger = _read_ledger(index_dir)
    if ledger is None:
        ledger = _init_ledger(index_dir, shard_size)
        _write_ledger(index_dir, ledger)

    key = str(batch_id)
    entry = ledger["batches"].get(key)
    if entry is not None and entry.get("committed"):
        # replayed after full commit: data, lexicon and ledger are all
        # final — just make stats.json consistent and skip
        _commit_stats(index_dir, stats)
        return 0
    is_replay = entry is not None

    if entry is None:
        entry = {"base": int(ledger["next_base"]), "committed": False}
        ledger["batches"][key] = entry
        _write_ledger(index_dir, ledger)  # intent: pin base BEFORE writes
    base = int(entry["base"])

    docs, n_new, cached_src = assign_doc_ids_counted(batch, list(key_cols))
    try:
        if n_new == 0:
            entry.update(committed=True)
            _write_ledger(index_dir, ledger)
            _commit_stats(index_dir, stats)
            return 0
        docs = docs.withColumn("doc_id", (F.col("doc_id") + base).cast("long"))
        docs = docs.withColumn("shard", (F.col("doc_id") / shard_size).cast("int"))
        # dense ids base..base+n_new-1 -> the exact new shard list
        new_shards = list(range(base // shard_size, (base + n_new - 1) // shard_size + 1))

        # the build's shard writer: same task sizing, dl source and
        # write order as build_index
        per_shard = write_shards(
            spark, docs, index_dir, new_shards, n_new,
            _pending_bytes(batch, n_new, n_new),
            codec=codec, block_size=block_size, shard_size=shard_size,
            tokenizer=tokenizer, key_cols=key_cols, text_col=text_col,
        )
    finally:
        cached_src.unpersist()
    # as in build_index: manifest rows once the shard data is durable
    _append_manifest_rows(
        index_dir, per_shard, t_start,
        codec=codec, block_size=block_size, shard_size=shard_size,
    )

    # O(delta) lexicon fold for fresh batches; a REPLAY of an
    # uncommitted batch may have already folded its delta in the crashed
    # attempt, so it pays one full rebuild instead (rare: crash recovery)
    merge_lexicon(spark, index_dir, None if is_replay else new_shards)

    next_base = ((base + n_new - 1) // shard_size + 1) * shard_size
    entry.update(committed=True)
    ledger["next_base"] = max(int(ledger["next_base"]), next_base)
    _write_ledger(index_dir, ledger)  # single atomic commit point
    _commit_stats(index_dir, stats)
    return n_new


def ingest_available(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    schema: str = SOURCE_SCHEMA,
    tokenizer: str = "pandas",
) -> None:
    """Catch-up ingestion: process every not-yet-seen parquet file under
    ``source_dir`` into the index, then stop (availableNow trigger).

    The streaming checkpoint under <index>/_stream_checkpoint makes file
    tracking exactly-once across restarts — a killed ingest resumes
    without re-indexing already-committed batches, and the sink-side
    batch ledger absorbs foreachBatch replays of the in-flight batch.
    """
    # belt-and-braces: the foreachBatch clone snapshots this at start
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 16)
        .parquet(source_dir)
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda b, bid: append_batch(
                spark, b, index_dir, batch_id=bid, tokenizer=tokenizer
            )
        )
        .option("checkpointLocation", os.path.join(index_dir, "_stream_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
