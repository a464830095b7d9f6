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
checkpoint committed. The sink keeps its own ledger
(<index>/_batch_ledger.json, atomic tmp+rename):

  - an INTENT entry {base} is recorded before any data write, so a
    replay reuses the same base and the dynamic partition overwrite
    rewrites the SAME shards wholesale (data writes are idempotent);
  - the COMMIT entry {n_docs, sum_dl, committed: true} plus the bumped
    next_base land in one atomic ledger write after all writes; a
    replay of a committed batch is skipped outright;
  - a replay of an UNCOMMITTED batch rebuilds the lexicon from ALL
    blocks (the O(delta) merge is not idempotent — the crash window
    between lexicon swap and ledger commit would double-count df), and
    corpus stats are always recomputed as manifest ⊕ committed-ledger
    rollup, never read-modify-write — so every path converges to the
    same state no matter where the previous attempt died.

Incremental maintenance is O(batch), not O(index): the lexicon merge
folds only the new shards' blocks into the existing table
(build_index.merge_lexicon — additive df/nblocks, max max_tf), batch
Σdl rides the docs_meta write as an Observation metric, and n_docs /
avgdl roll up from per-shard manifest rows + ledger entries (driver-
side metadata, no full-table aggregation per micro-batch).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.blocks import build_block_index
from ..operators.postings import assign_doc_ids_counted, build_postings, with_tokens
from ..plans.build_index import (
    _read_manifest_rows,
    merge_lexicon,
    write_blocks,
    write_docs_meta,
)
from ..sources.catalog import read_stats, write_stats

SOURCE_SCHEMA = "repo string, path string, commit string, lang string, content string"

_LEDGER = "_batch_ledger.json"


def _ledger_path(index_dir: str) -> str:
    return os.path.join(index_dir, _LEDGER)


def _read_ledger(index_dir: str) -> dict | None:
    try:
        with open(_ledger_path(index_dir)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _write_ledger(index_dir: str, ledger: dict) -> None:
    tmp = _ledger_path(index_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(ledger, f, indent=1)
    os.replace(tmp, _ledger_path(index_dir))  # atomic commit


def _init_ledger(index_dir: str, shard_size: int) -> dict:
    """First streaming append against a batch-built index: derive the
    starting base from the existing max doc_id (one-time driver-side
    column scan via pyarrow; subsequent batches use the ledger)."""
    import pyarrow.dataset as pads

    meta_dir = os.path.join(index_dir, "docs_meta")
    max_id = -1
    try:
        tbl = pads.dataset(meta_dir, partitioning="hive").to_table(
            columns=["doc_id"]
        )
        if tbl.num_rows:
            import pyarrow.compute as pc

            max_id = pc.max(tbl.column("doc_id")).as_py()
    except Exception:
        pass
    next_base = (int(max_id) // shard_size + 1) * shard_size if max_id >= 0 else 0
    return {"next_base": next_base, "batches": {}}


def _refresh_stats(index_dir: str, ledger: dict, stats: dict) -> None:
    """stats.json = rollup(manifest shards) ⊕ rollup(committed batches).

    Recomputed from metadata on every append (idempotent — never
    read-modify-write, so replays and partial failures converge).
    """
    rows = _read_manifest_rows(index_dir)
    n = sum(int(r["n_docs"]) for r in rows)
    sdl = sum(int(r["sum_dl"]) for r in rows)
    for b in ledger["batches"].values():
        if b.get("committed"):
            n += int(b["n_docs"])
            sdl += int(b["sum_dl"])
    stats.update(n_docs=n, avgdl=(sdl / n) if n else 0.0)
    write_stats(index_dir, stats)


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
        _refresh_stats(index_dir, ledger, stats)
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
            entry.update(committed=True, n_docs=0, sum_dl=0)
            _write_ledger(index_dir, ledger)
            _refresh_stats(index_dir, ledger, stats)
            return 0
        docs = docs.withColumn("doc_id", (F.col("doc_id") + base).cast("long"))
        docs = docs.withColumn("shard", (F.col("doc_id") / shard_size).cast("int"))
        # dense ids base..base+n_new-1 -> the exact new shard list
        new_shards = list(range(base // shard_size, (base + n_new - 1) // shard_size + 1))

        toks = with_tokens(docs, text_col, method=tokenizer)
        meta_cols = [c for c in ("commit", "lang") if c in batch.columns]
        docs_meta = toks.select(
            "shard", "doc_id", *key_cols, *meta_cols,
            F.size("tokens").cast("long").alias("dl"),
            F.sha2(F.col(text_col), 256).alias("content_sha256"),
        )
        obs = Observation(f"batch_{batch_id}_dl")
        docs_meta = docs_meta.observe(
            obs, F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl")
        )
        # same salted write as the batch build, on the session's
        # parallelism (repartition("shard") alone caps the write stage at
        # num_shards tasks — measured 14x slower at 32 cores when
        # shards < cores, VERDICT r3 #4)
        write_docs_meta(
            docs_meta, index_dir, spark.sparkContext.defaultParallelism,
            len(new_shards),
        )
        sum_dl = int(obs.get["sum_dl"])

        # cluster_by_doc=False: the blocks exchange re-partitions on the
        # salted (shard, term-bucket) key immediately — a doc_id exchange
        # here would be pure per-batch waste (same reasoning as
        # plans/build_index.py's call sites)
        blocks = build_block_index(
            build_postings(toks, cluster_by_doc=False),
            block_size=block_size, codec=codec, shard_size=shard_size,
            shards_hint=len(new_shards),
        )
        write_blocks(blocks, index_dir)
    finally:
        cached_src.unpersist()

    # O(delta) lexicon fold for fresh batches; a REPLAY of an
    # uncommitted batch may have already folded its delta in the crashed
    # attempt, so it pays one full rebuild instead (rare: crash recovery)
    merge_lexicon(spark, index_dir, None if is_replay else new_shards)

    next_base = ((base + n_new - 1) // shard_size + 1) * shard_size
    entry.update(committed=True, n_docs=int(n_new), sum_dl=sum_dl)
    ledger["next_base"] = max(int(ledger["next_base"]), next_base)
    _write_ledger(index_dir, ledger)  # single atomic commit point
    _refresh_stats(index_dir, ledger, stats)
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
