"""End-to-end resumable index build.

Replaces the reference's three CLI stages (build_runs_mp -> parallel_merge
-> merger, SURVEY.md §3.1) with one declarative pipeline:

  read source -> assign dense docids -> tokenize -> explode ->
  groupBy(term, doc_id).count() -> salted identity repartition (shard,
  term-bucket) + sortWithinPartitions + mapInArrow block build ->
  parquet; docs_meta (dl + sha256 + lineage) written alongside

There is one build shape. Three auto rules pick its physical details
from what the pass observes; each is a small pure function below with
its threshold as a module constant:
  - _dl_source: below _DL_AUTO_MIN_DOCS pending docs, dl = size(tokens)
    from a second (cheap, fully parallel) tokenize pass, and the
    docs_meta write overlaps the blocks write. At or above it the
    postings are persisted and dl = SUM(tf) per doc (definitionally the
    token count; dl=0 docs rejoin via a left join), so a large corpus is
    TOKENIZED ONCE and the two writes run in sequence.
  - _dl_agg / _dl_join: the aggregation plan and the join strategy of
    that postings-derived dl.

Pass discipline (this is what scales): the SOURCE ROWS are read once and
cached (assign_doc_ids_counted persists its input; unpersisted at the
end of the build). The only corpus-sized shuffles are the postings
aggregation and the blocks exchange itself.

Job discipline: every Spark action costs seconds of fixed scheduling
latency regardless of cluster size, so the build runs at most FOUR jobs
regardless of index size: (1) doc-id offsets count, (2) blocks write,
(3) docs_meta write, (4) the lexicon merge, a job only when its fold is
too large for the driver. Per-shard manifest
metrics ride the write jobs as Observation metrics (no post-hoc re-read
of just-written parquet), the manifest append and stats.json are
driver-side metadata writes (exactly how Iceberg commits manifest
files), and corpus stats aggregate over manifest rows, not over data
(_commit_stats: the one rollup, for builds and streaming appends alike).

Resumability (north rule): the SHARD (a doc_id range) is the checkpoint
unit. Every attempt writes only the shards missing from manifest/, using
dynamic partition overwrite (partial output from a killed attempt is
replaced wholesale; completed shards are never touched or re-tokenized).
A shard's manifest row is appended only after its data is fully written,
with lineage (row counts, Σdl, build seconds) + codec config; a streaming
append commits its new shards the same way. Resume
validates codec/block_size against the manifest and adopts the recorded
shard_size (mixing incompatible shards fails fast instead of silently).

Lexicon: every commit, build or append, ends in merge_lexicon. It lists
the commit's block files once (its new shards, or every shard for a
full rebuild), folds them into the old table on the driver in pyarrow
or, past a footer census, in one Spark job, and replaces lexicon/
through one write-then-swap (_swap_lexicon). Every writer writes
operators/blocks.LEXICON_SCHEMA.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import BLOCK_SIZE, CODEC_VARBYTE
from ..operators.blocks import (
    _ARROW_BLOCK_SCHEMA,
    ARROW_LEXICON_SCHEMA,
    BLOCK_SCHEMA,
    LEXICON_SCHEMA,
    as_lexicon,
    build_block_index,
    identity_partition_key,
    lexicon_from_blocks,
)
from ..operators.postings import (
    assign_doc_ids_counted,
    build_postings,
    with_tokens,
)
from ..sources.catalog import IndexCatalog, write_stats

# Above this many pending shards the per-shard conditional Observation
# aggregates get wide; fall back to one tiny post-hoc aggregation job.
OBSERVE_MAX_SHARDS = 64

# _dl_source threshold. Round 4 RE-TESTED this rule after the Arrow fix
# (isolated probes suggested the second tokenize pass had become cheaper
# than the dl join) and the in-sequence e2e A/B said otherwise:
# tokenize-derived dl read 52-82 s at 16 cores inside a full build (vs
# 16-34 s for the join; BENCH.md round-4 §4), the isolated 9.5 s number
# not surviving heap/worker pressure from the preceding blocks stage.
_DL_AUTO_MIN_DOCS = 200_000

# _dl_agg thresholds: the stock partial aggregate must still shrink the
# dl exchange this many times over; without a postings count, this
# parallelism alone picks the repartition-first plan.
_DL_AGG_MIN_REDUCTION = 2
_DL_AGG_WIDE_PARALLELISM = 16

# _dl_join threshold: 16 B/row -> ~320 MB broadcast at the cap; beyond
# that the executors' and driver's memory pay more than the avoided
# exchange.
_DL_BROADCAST_MAX_DOCS = 20_000_000

# encode/write task sizing (_write_parallelism): ~this many docs' worth
# of postings per blocks-encode or docs_meta-write task, derived from the
# docs actually tokenized in THIS pass (scale-adaptive, guide §2):
# floor = one task per pending shard (the partitioned writes key on
# shard), cap = the session's parallelism — at corpus scale the cap
# binds and the plan is unchanged; at tiny scale this collapses 32
# near-empty tasks (and their per-file open/commit overhead: ~128
# output files for 5k docs) into a handful. The BYTE term protects
# few-large-documents corpora (100 docs x 10 MB must not encode on
# len(pending) tasks): the optimizer's size estimate, pro-rated to the
# pending fraction, adds ~1 task per _BYTES_PER_WRITE_TASK of source.
_DOCS_PER_WRITE_TASK = 1000
_BYTES_PER_WRITE_TASK = 1 << 20

# parquet row-group size of the blocks table. The row group is the unit
# of a serving lookup: the directory (plans/search._BlockDirectory)
# prunes on per-row-group term min/max, and with hash-bucketed files
# every file spans the whole term range, so a probe reads one row group
# from EVERY blocks file. Each file is one term-sorted run, so small
# groups keep those reads to ~1k block rows apiece (a file-sized group
# made each probe read the whole table), for ~10% more bytes on disk
# and a ~1 KB footer entry per group.
_BLOCKS_ROW_GROUP_BYTES = 64 * 1024


def _dl_source(pending_docs: int) -> str:
    """Where docs_meta's dl comes from: "postings" (SUM(tf) over the
    persisted postings; the corpus is tokenized once) at or above
    _DL_AUTO_MIN_DOCS docs in the pass, else "tokenize" (size(tokens)
    from a second map pass, which lets the two writes overlap)."""
    return "postings" if pending_docs >= _DL_AUTO_MIN_DOCS else "tokenize"


def _dl_agg(pending_docs: int, n_postings: int | None, parallelism: int) -> str:
    """Physical plan of SUM(tf) GROUP BY doc_id over the postings.

    "partial" — the stock plan: partial hash agg on the (term,
    doc_id)-hashed postings, exchange, final agg. Each map task emits up
    to one row per doc, so its output is ~min(|postings|, P x docs) rows:
    structurally anti-scaling at high parallelism.
    "repartition" — hash-repartition the 16-byte (doc_id, tf) projection
    by doc_id FIRST: a constant |postings| exchange, agg maps shrinking
    with P (1.04 vs 0.46 pair efficiency 4->16 cores; BENCH.md,
    "docs_meta decomposition").

    Partial wins only while it still reduces the exchange
    _DL_AGG_MIN_REDUCTION-fold. Without a postings count (more than
    OBSERVE_MAX_SHARDS pending shards) wide parallelism alone decides.
    """
    if n_postings is None:
        wide = parallelism >= _DL_AGG_WIDE_PARALLELISM
        return "repartition" if wide else "partial"
    if _DL_AGG_MIN_REDUCTION * parallelism * pending_docs <= n_postings:
        return "partial"
    return "repartition"


def _dl_join(pending_docs: int) -> str:
    """Join strategy of the per-doc dl relation (one row per doc in the
    pass) onto the source rows: "broadcast" up to _DL_BROADCAST_MAX_DOCS
    (Catalyst cannot see that the agg output is key-unique and small, so
    unhinted it plans a sort-merge with two exchanges and sorts), else
    "shuffle" (at billions of docs the dl relation outgrows the driver)."""
    return "broadcast" if pending_docs <= _DL_BROADCAST_MAX_DOCS else "shuffle"


def _write_parallelism(
    parallelism: int, n_pending: int, pending_docs: int, pending_bytes: int
) -> int:
    """Encode/write task count of one pass — see _DOCS_PER_WRITE_TASK."""
    return min(
        parallelism,
        max(
            n_pending,
            -(-pending_docs // _DOCS_PER_WRITE_TASK),
            -(-pending_bytes // _BYTES_PER_WRITE_TASK),
        ),
    )


def _pending_bytes(source: DataFrame, n_docs: int, pending_docs: int) -> int:
    """The optimizer's size estimate of ``source``, pro-rated to the
    pending docs; 0 when the estimate is unknown."""
    try:
        sz = int(source._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 0
    if 0 < sz < (1 << 60) and n_docs:
        return sz * pending_docs // n_docs
    return 0


def write_blocks(blocks: DataFrame, index_dir: str) -> None:
    """Shard-partitioned write of block rows with small row groups (see
    _BLOCKS_ROW_GROUP_BYTES). write_shards calls it through this module
    global, for the build and the streaming append alike."""
    blocks.write.mode("overwrite").option(
        "parquet.block.size", str(_BLOCKS_ROW_GROUP_BYTES)
    ).partitionBy("shard").parquet(os.path.join(index_dir, "blocks"))


def write_docs_meta(
    docs_meta: DataFrame, index_dir: str, n_part: int, n_shards: int
) -> None:
    """Shard-partitioned docs_meta write on ``n_part`` tasks (write_shards
    passes _write_parallelism's count) for rows of ``n_shards`` shards.

    Repartition by (shard, doc_id-bucket) before the partitioned write:
    plain task-output writes put a file from every task into every shard
    dir (tasks x shards small files; measured 14x slower at 32 cores),
    while repartition("shard") alone caps the write stage at num_shards
    tasks — fewer than the cores when shards < cores (at 100 TB shards
    >> cores and sub collapses to 1). Keys round-robin onto partitions
    via murmur3-inverted salts — exact balance, no balls-in-bins
    stragglers, O(keys) output files (operators/blocks.identity_partition_key).
    """
    sub = max(1, (4 * n_part + n_shards - 1) // max(1, n_shards))
    docs_meta.repartition(
        n_part,
        identity_partition_key(
            F.col("shard"), F.pmod(F.col("doc_id"), F.lit(sub)), sub, n_part
        ),
    ).write.mode("overwrite").partitionBy("shard").parquet(
        os.path.join(index_dir, "docs_meta")
    )


def _action_timer():
    """WSE_BUILD_TIMINGS=1 -> print per-action wall times (the build is
    exactly 4 Spark actions; this attributes wall clock to each for
    scaling diagnosis with zero overhead when off). The build path's
    only environment knob."""
    if os.environ.get("WSE_BUILD_TIMINGS") != "1":
        return lambda label: None
    state = {"t": time.perf_counter()}

    def mark(label: str) -> None:
        now = time.perf_counter()
        print(f"BUILD_TIMING {label} {now - state['t']:.3f}", flush=True)
        state["t"] = now

    return mark


def _read_manifest_rows(index_dir: str) -> list[dict]:
    """Driver-side metadata read of manifest/ (tiny: one row per shard).

    Uses pyarrow directly — the resume probe and corpus-stats rollup
    must not cost a Spark job each. Empty only when manifest/ does not
    exist; an unreadable part raises (treating it as "no shards" would
    make a resume rebuild over committed shards and an append recount
    N without them).
    """
    import pyarrow.dataset as pads

    path = os.path.join(index_dir, "manifest")
    if not os.path.isdir(path):
        return []
    return pads.dataset(path, format="parquet").to_table().to_pylist()


def _append_manifest_rows(
    index_dir: str,
    per_shard: dict[int, tuple[int, int, int, int]],
    t_start: float,
    *,
    codec: str,
    block_size: int,
    shard_size: int,
) -> None:
    """Driver-side manifest commit (the Iceberg-manifest analog) of the
    shards write_shards just wrote (``per_shard`` is its return value),
    by a build or an append alike: one small parquet file per completed
    attempt, one row per shard, appended after the shard data is
    durable. The part is written under a dot-prefixed name (pyarrow and
    Spark skip dot files) and renamed into place, so a reader never
    sees a torn part."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    now = time.time()
    rows = [
        {
            "shard": s, "n_docs": nd, "sum_dl": sdl,
            "n_postings": np_, "n_blocks": nb,
            "build_sec": round(now - t_start, 3), "finished_unix": now,
            "codec": codec, "block_size": block_size, "shard_size": shard_size,
        }
        for s, (nd, sdl, np_, nb) in sorted(per_shard.items())
    ]
    path = os.path.join(index_dir, "manifest")
    os.makedirs(path, exist_ok=True)
    schema = pa.schema(
        [
            ("shard", pa.int32()),
            ("n_docs", pa.int64()),
            ("sum_dl", pa.int64()),
            ("n_postings", pa.int64()),
            ("n_blocks", pa.int64()),
            ("build_sec", pa.float64()),
            ("finished_unix", pa.float64()),
            ("codec", pa.string()),
            ("block_size", pa.int32()),
            ("shard_size", pa.int32()),
        ]
    )
    tbl = pa.Table.from_pylist(rows, schema=schema)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, "." + name)
    pq.write_table(tbl, tmp)
    os.replace(tmp, os.path.join(path, name))


# streaming-append idempotency ledger (streaming/incremental.py)
_LEDGER = "_batch_ledger.json"


def _read_ledger(index_dir: str) -> dict | None:
    try:
        with open(os.path.join(index_dir, _LEDGER)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _commit_stats(index_dir: str, stats: dict) -> None:
    """Write stats.json = ``stats`` with n_docs/avgdl rolled up from the
    manifest: the one rollup of every commit (build, append, replayed
    append). A shard with several rows (an uncommitted append that was
    replayed) counts by its latest ``finished_unix``. Recomputed from
    metadata, never read-modify-write, so replays and partial failures
    converge — O(shards) driver work, never a rescan of docs_meta.

    Ledger entries committed before appends wrote manifest rows carry
    their batch's n_docs/sum_dl instead of rows; they still count."""
    latest: dict[int, dict] = {}
    for r in _read_manifest_rows(index_dir):
        s = int(r["shard"])
        if s not in latest or r["finished_unix"] > latest[s]["finished_unix"]:
            latest[s] = r
    counts = list(latest.values())
    ledger = _read_ledger(index_dir)
    if ledger is not None:
        counts += [b for b in ledger["batches"].values() if "n_docs" in b]
    n = sum(int(c["n_docs"]) for c in counts)
    sum_dl = sum(int(c["sum_dl"]) for c in counts)
    stats.update(n_docs=n, avgdl=(sum_dl / n) if n else 0.0)
    write_stats(index_dir, stats)


def _remove_index(index_dir: str) -> None:
    """build_index(resume=False) before it writes: remove the index's own
    tables and records — never the directory itself or any other entry
    in it (e.g. a stream's _stream_checkpoint)."""
    for name in ("blocks", "docs_meta", "lexicon", "lexicon_tmp", "manifest", _LEDGER):
        path = os.path.join(index_dir, name)
        if os.path.isdir(path):
            shutil.rmtree(path)
        elif os.path.exists(path):
            os.remove(path)


# lexicon fold thresholds: when the commit's block files number at most
# _LEXICON_DRIVER_MAX_FILES and hold at most _LEXICON_DRIVER_MAX_BLOCKS
# block rows (a census of parquet FOOTERS), the fold runs on the driver
# in pyarrow. It beat the Spark fold at every size measured (full
# rebuild, local[4], 4 vCPUs): 0.16 s against 0.9 s of wall at 639k
# block rows, 0.6 s against 2.6-3.4 s at 5.1M, where its RSS rose by
# 280 MB. The Spark fold is kept for inputs the driver should not hold.
# Past the file count the census itself is no longer cheap.
_LEXICON_DRIVER_MAX_BLOCKS = 8_388_608
_LEXICON_DRIVER_MAX_FILES = 256


def _listdir(path: str) -> list[str]:
    """Sorted entries of ``path``; none when it does not exist."""
    return sorted(os.listdir(path)) if os.path.isdir(path) else []


def _fold_driver(files: list[str], old_dir: str | None):
    """The fold as a pyarrow Table: the lexicon of ``files``' block rows,
    grouped again with the table under ``old_dir`` when given. Single-
    threaded grouping keeps the row order, and so the written file,
    deterministic."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    def group(tbl, aggs):
        out = tbl.group_by("term", use_threads=False).aggregate(aggs)
        cols = ["term", *(f"{c}_{op}" for c, op in aggs)]
        return out.select(cols).rename_columns(ARROW_LEXICON_SCHEMA.names).cast(
            ARROW_LEXICON_SCHEMA
        )

    blocks = pads.dataset(files, schema=_ARROW_BLOCK_SCHEMA, format="parquet")
    delta = group(
        blocks.to_table(columns=["term", "n", "max_tf"]),
        [("n", "sum"), ("n", "count"), ("max_tf", "max")],
    )
    if old_dir is None:
        return delta
    old = pads.dataset(old_dir, schema=ARROW_LEXICON_SCHEMA, format="parquet")
    return group(
        pa.concat_tables([old.to_table(), delta]),
        [("df", "sum"), ("nblocks", "sum"), ("max_tf", "max")],
    )


def _fold_spark(spark: SparkSession, blocks_dir: str, files: list[str], old_dir: str | None):
    """The fold as a Spark frame, the same rows as _fold_driver. It reads
    the shard directories of ``files``: their count, not the files',
    decides whether Spark lists them in a job (past 32, the
    parallelPartitionDiscovery threshold). Both reads name their schema:
    no inference job."""
    shard_dirs = sorted({os.path.dirname(f) for f in files})
    blocks = spark.read.schema(BLOCK_SCHEMA).option("basePath", blocks_dir)
    delta = lexicon_from_blocks(blocks.parquet(*shard_dirs))
    if old_dir is None:
        return delta
    old = spark.read.schema(LEXICON_SCHEMA).parquet(old_dir)
    return as_lexicon(
        old.unionByName(delta).groupBy("term").agg(
            F.sum("df").alias("df"),
            F.sum("nblocks").alias("nblocks"),
            F.max("max_tf").alias("max_tf"),
        )
    )


@contextmanager
def _swap_lexicon(index_dir: str):
    """Yield an empty lexicon_tmp/ for the new table, then swap it in for
    lexicon/ (Spark cannot overwrite a path a fold reads); a write that
    raises swaps nothing. The one place the lexicon is replaced."""
    lex_dir = os.path.join(index_dir, "lexicon")
    tmp_dir = lex_dir + "_tmp"
    shutil.rmtree(tmp_dir, ignore_errors=True)
    yield tmp_dir
    if os.path.isdir(lex_dir):
        shutil.rmtree(lex_dir)
    os.rename(tmp_dir, lex_dir)


def merge_lexicon(
    spark: SparkSession, index_dir: str, new_shards: list[int] | None
) -> list[str]:
    """Rewrite lexicon/ = existing lexicon ⊕ lexicon of ``new_shards``;
    returns the block files the merge read.

    The merge is ADDITIVE on (df, nblocks) and MAX on max_tf, so a
    commit folds only its NEW shards' blocks into the existing table:
    O(delta), not O(index). ``new_shards=None``, or a missing lexicon/
    (e.g. after a crash mid-swap: the lexicon is derived state), takes
    a full rebuild from every shard instead.

    One listing names the files: the block files under the shards'
    ``shard=N/`` directories, where a missing directory (a shard whose
    docs have no tokens) lists none. A fold with no new files leaves the
    lexicon as it is. Up to _LEXICON_DRIVER_MAX_FILES files and
    _LEXICON_DRIVER_MAX_BLOCKS block rows fold on the driver
    (_fold_driver), larger ones in a Spark job (_fold_spark); both write
    the same rows into the directory that _swap_lexicon swaps in.
    """
    blocks_dir = os.path.join(index_dir, "blocks")
    lex_dir = os.path.join(index_dir, "lexicon")
    old_dir = lex_dir if new_shards is not None and os.path.isdir(lex_dir) else None
    if old_dir is None:
        shard_dirs = [d for d in _listdir(blocks_dir) if d.startswith("shard=")]
    else:
        shard_dirs = [f"shard={s}" for s in new_shards]
    files = [
        os.path.join(blocks_dir, d, f)
        for d in shard_dirs
        for f in _listdir(os.path.join(blocks_dir, d))
        if f.endswith(".parquet")
    ]
    if old_dir is not None and not files:
        return []  # nothing new: the existing lexicon is already right

    import pyarrow.parquet as pq

    on_driver = len(files) <= _LEXICON_DRIVER_MAX_FILES and (
        sum(pq.read_metadata(f).num_rows for f in files) <= _LEXICON_DRIVER_MAX_BLOCKS
    )
    with _swap_lexicon(index_dir) as tmp_dir:
        if on_driver:
            os.makedirs(tmp_dir)
            part = os.path.join(tmp_dir, f"part-{uuid.uuid4().hex}.parquet")
            pq.write_table(_fold_driver(files, old_dir), part)
        else:
            _fold_spark(spark, blocks_dir, files, old_dir).write.parquet(tmp_dir)
    return files


def _per_shard_observe_exprs(pending: list[int], kind: str):
    exprs = []
    for s in pending:
        is_s = F.col("shard") == s
        if kind == "docs":
            exprs.append(F.count(F.when(is_s, F.lit(1))).alias(f"n_{s}"))
            exprs.append(
                F.coalesce(F.sum(F.when(is_s, F.col("dl"))), F.lit(0)).alias(f"dl_{s}")
            )
        else:
            exprs.append(
                F.coalesce(F.sum(F.when(is_s, F.col("n"))), F.lit(0)).alias(f"p_{s}")
            )
            exprs.append(F.count(F.when(is_s, F.lit(1))).alias(f"b_{s}"))
    return exprs


def _tokenize_meta(
    toks: DataFrame, key_cols: tuple[str, ...], text_col: str
) -> DataFrame:
    """docs_meta rows with dl = the token count of the tokenize pass."""
    meta_cols = [c for c in ("commit", "lang") if c in toks.columns]
    return toks.select(
        "shard", "doc_id", *key_cols, *meta_cols,
        F.size("tokens").cast("long").alias("dl"),
        F.sha2(F.col(text_col), 256).alias("content_sha256"),
    )


def write_shards(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    pending: list[int],
    pending_docs: int,
    pending_bytes: int,
    *,
    codec: str,
    block_size: int,
    shard_size: int,
    tokenizer: str,
    key_cols: tuple[str, ...],
    text_col: str,
    mark=lambda label: None,
) -> dict[int, tuple[int, int, int, int]]:
    """Tokenize ``docs`` (id-assigned rows with ``shard``, all in
    ``pending``; ``pending_docs`` of them, ``pending_bytes`` of source)
    and write their blocks and docs_meta rows. Returns ``{shard: (n_docs,
    sum_dl, n_postings, n_blocks)}`` for every pending shard.

    The one writer of shard data: build_index and the streaming append
    both call it, so the auto rules (_write_parallelism, _dl_source,
    _dl_agg, _dl_join) decide every write the same way. The per-shard
    counts ride the write jobs as Observation metrics up to
    OBSERVE_MAX_SHARDS pending shards; above that they come from
    _post_hoc_shard_stats.
    """
    # NOTE tokenization deliberately NOT persisted: a cheap, fully
    # parallel map whose array<string> output cached as JVM objects
    # costs more in GC/eviction than recomputing (the cached SOURCE
    # ROWS feed both passes).
    toks = with_tokens(docs, text_col, method=tokenizer)

    use_observe = len(pending) <= OBSERVE_MAX_SHARDS
    docs_obs = blocks_obs = None
    parallelism = spark.sparkContext.defaultParallelism
    par_pass = _write_parallelism(
        parallelism, len(pending), pending_docs, pending_bytes
    )
    dl_from_postings = _dl_source(pending_docs) == "postings"

    # cluster_by_doc=False: the blocks exchange re-partitions on the
    # salted (shard, term-bucket) key right after, and the dl
    # aggregation has its own plan rule (_dl_agg) over the narrow
    # (doc_id, tf) projection — a doc_id exchange of the FULL postings
    # rows here would be strictly more shuffled bytes
    postings = build_postings(toks, cluster_by_doc=False)
    if dl_from_postings:
        # tokenize ONCE: the blocks write materializes the postings and
        # the dl aggregation reuses them
        postings = postings.persist()
    try:
        # postings -> blocks (the shuffle IS the merge); shard derives
        # from doc_id with the same shard_size
        blocks = build_block_index(
            postings,
            block_size=block_size,
            codec=codec,
            shard_size=shard_size,
            num_partitions=par_pass,
            shards_hint=len(pending),
        )
        if use_observe:
            blocks_obs = Observation("blocks_per_shard")
            blocks = blocks.observe(
                blocks_obs, *_per_shard_observe_exprs(pending, "blocks")
            )

        def observed_meta(dm: DataFrame) -> DataFrame:
            nonlocal docs_obs
            if use_observe:
                docs_obs = Observation("docs_meta_per_shard")
                dm = dm.observe(docs_obs, *_per_shard_observe_exprs(pending, "docs"))
            return dm

        if not dl_from_postings:
            # docs_meta depends only on the cached source rows, NOT on
            # the blocks job — submit both writes concurrently so
            # docs_meta back-fills executor slots freed by the blocks
            # stage's tail (guide §2.6 "overlap independent jobs"). The
            # postings-derived shape stays sequential: racing two jobs
            # to materialize one cache would double-compute it.
            docs_meta = observed_meta(_tokenize_meta(toks, key_cols, text_col))
            with ThreadPoolExecutor(max_workers=2) as pool:
                fa = pool.submit(write_blocks, blocks, index_dir)
                fb = pool.submit(
                    write_docs_meta, docs_meta, index_dir, par_pass, len(pending)
                )
                fa.result()
                fb.result()
            mark("blocks+docs_meta_overlapped")
        else:
            write_blocks(blocks, index_dir)
            mark("blocks_write")
            # |postings| comes from the blocks-stage Observation, already
            # materialized by the write above
            n_post = (
                sum(int(blocks_obs.get[f"p_{s}"]) for s in pending)
                if use_observe else None
            )
            dl_base = postings.select("doc_id", "tf")
            if _dl_agg(pending_docs, n_post, parallelism) == "repartition":
                dl_base = dl_base.repartition(F.col("doc_id"))
            dl = dl_base.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
            if _dl_join(pending_docs) == "broadcast":
                dl = F.broadcast(dl)
            meta_cols = [c for c in ("commit", "lang") if c in docs.columns]
            docs_meta = (
                docs.select(
                    "shard", "doc_id", *key_cols, *meta_cols,
                    F.sha2(F.col(text_col), 256).alias("content_sha256"),
                )
                .join(dl, "doc_id", "left")
                # empty docs have no postings rows but stay in N/avgdl
                # with dl=0 (reference P4 semantics)
                .withColumn("dl", F.coalesce("dl", F.lit(0).cast("long")))
                .select(
                    "shard", "doc_id", *key_cols, *meta_cols,
                    "dl", "content_sha256",
                )
            )
            write_docs_meta(
                observed_meta(docs_meta), index_dir, par_pass, len(pending)
            )
            mark("docs_meta_write")
    finally:
        if dl_from_postings:
            postings.unpersist()

    if not use_observe:
        return _post_hoc_shard_stats(spark, index_dir, pending)
    dv, bv = docs_obs.get, blocks_obs.get
    return {
        s: (
            int(dv[f"n_{s}"]), int(dv[f"dl_{s}"]),
            int(bv[f"p_{s}"]), int(bv[f"b_{s}"]),
        )
        for s in pending
    }


def _write_empty_index(
    spark: SparkSession,
    index_dir: str,
    docs_meta: DataFrame,
    codec: str,
    block_size: int,
    shard_size: int,
) -> IndexCatalog:
    """n_docs == 0: commit a clean empty index (schema'd tables + stats)
    instead of crashing on a missing blocks/ dir later. The old index's
    tables, manifest and append ledger go first, so no record outlives
    the data it describes."""
    _remove_index(index_dir)
    # non-partitioned writes: a dynamic partitionBy of an empty frame
    # writes no files and the tables would be unreadable
    docs_meta.write.mode("overwrite").parquet(os.path.join(index_dir, "docs_meta"))
    spark.createDataFrame([], BLOCK_SCHEMA).write.mode("overwrite").parquet(
        os.path.join(index_dir, "blocks")
    )
    spark.createDataFrame([], LEXICON_SCHEMA).write.mode("overwrite").parquet(
        os.path.join(index_dir, "lexicon")
    )
    write_stats(
        index_dir,
        {
            "n_docs": 0,
            "avgdl": 0.0,
            "codec": codec,
            "block_size": block_size,
            "shard_size": shard_size,
            "built_unix": time.time(),
        },
    )
    return IndexCatalog(spark, index_dir)


def build_index(
    spark: SparkSession,
    source: DataFrame,
    index_dir: str,
    codec: str = CODEC_VARBYTE,
    block_size: int = BLOCK_SIZE,
    num_shards: int = 8,
    tokenizer: str = "pandas",
    key_cols: tuple[str, ...] = ("repo", "path"),
    text_col: str = "content",
    resume: bool = True,
) -> IndexCatalog:
    """Build (or resume) the blocked index under ``index_dir``.

    resume=True builds only the shards that have no manifest row yet;
    every committed shard, from a build or a streaming append, stays.
    resume=False starts a new index: it first removes blocks/,
    docs_meta/, lexicon/, lexicon_tmp/, manifest/ and the append ledger
    (so appended batches go too), and nothing else under ``index_dir``.

    tokenizer: "pandas" (the Arrow pandas_udf with HTML unescape; the
    same-window A/B in BENCH.md round 4 measured the JVM regexp path
    slower at both parallelism levels) or "sql" (pure-JVM regexp,
    identical on entity-free text) — see operators/postings.with_tokens.
    """
    t_start = time.time()
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    if not resume:
        _remove_index(index_dir)
    prior = _read_manifest_rows(index_dir)
    if prior:
        rec_codec = prior[0]["codec"]
        rec_block = int(prior[0]["block_size"])
        if rec_codec != codec or rec_block != block_size:
            raise ValueError(
                f"resume config mismatch: index at {index_dir} was built with "
                f"codec={rec_codec!r} block_size={rec_block}, invoked with "
                f"codec={codec!r} block_size={block_size}; pass resume=False "
                f"to rebuild or match the recorded config"
            )

    # Deterministic docids: dense rank over the natural key — identical
    # across resume attempts (SURVEY.md §1.3). The count is a byproduct.
    mark = _action_timer()
    docs, n_docs, cached_src = assign_doc_ids_counted(source, list(key_cols))
    mark("count_assign_ids")
    try:
        if prior:
            # adopt the recorded shard geometry: doc_id->shard must not
            # move for already-committed shards (the manifest, not
            # stats.json: a rebuild that died before its stats.json
            # landed left the old index's there)
            shard_size = int(prior[0]["shard_size"])
        else:
            shard_size = max(1, -(-n_docs // num_shards))  # ceil

        docs = docs.withColumn(
            "shard", (F.col("doc_id") / F.lit(shard_size)).cast("int")
        )

        if n_docs == 0:
            empty_meta = _tokenize_meta(
                with_tokens(docs, text_col, method=tokenizer), key_cols, text_col
            )
            return _write_empty_index(
                spark, index_dir, empty_meta, codec, block_size, shard_size
            )

        all_shards = set(range(-(-n_docs // shard_size)))
        done = {int(r["shard"]) for r in prior}
        pending = sorted(all_shards - done)

        if pending:
            # docs actually tokenized in THIS pass: every auto rule sizes
            # against the pending shards' docs, not the full corpus — a
            # resumed build with one small shard left must not pick plans
            # calibrated for full-corpus passes (ADVICE r5)
            pending_docs = sum(
                max(0, min((s + 1) * shard_size, n_docs) - s * shard_size)
                for s in pending
            )
            per_shard = write_shards(
                spark, docs.filter(F.col("shard").isin(pending)), index_dir,
                pending, pending_docs,
                _pending_bytes(source, n_docs, pending_docs),
                codec=codec, block_size=block_size, shard_size=shard_size,
                tokenizer=tokenizer, key_cols=key_cols, text_col=text_col,
                mark=mark,
            )
            # manifest rows land only after the shard data is durable
            _append_manifest_rows(
                index_dir, per_shard, t_start,
                codec=codec, block_size=block_size, shard_size=shard_size,
            )

        # lexicon: fold ONLY the new shards into the existing table
        merge_lexicon(spark, index_dir, pending if prior else None)
        mark("lexicon_merge")

        _commit_stats(
            index_dir,
            {
                "codec": codec,
                "block_size": block_size,
                "shard_size": shard_size,
                "built_unix": time.time(),
            },
        )
        return IndexCatalog(spark, index_dir)
    finally:
        cached_src.unpersist()


def _post_hoc_shard_stats(
    spark: SparkSession, index_dir: str, pending: list[int]
) -> dict[int, tuple[int, int, int, int]]:
    """Fallback when pending exceeds OBSERVE_MAX_SHARDS: two small
    aggregation jobs over the just-written (column-pruned) parquet."""
    d = (
        spark.read.parquet(os.path.join(index_dir, "docs_meta"))
        .filter(F.col("shard").isin(pending))
        .groupBy("shard")
        .agg(F.count("*").alias("nd"), F.sum("dl").alias("sdl"))
        .collect()
    )
    b = (
        spark.read.parquet(os.path.join(index_dir, "blocks"))
        .filter(F.col("shard").isin(pending))
        .groupBy("shard")
        .agg(F.sum("n").alias("np"), F.count("*").alias("nb"))
        .collect()
    )
    dm = {int(r["shard"]): (int(r["nd"]), int(r["sdl"] or 0)) for r in d}
    bm = {int(r["shard"]): (int(r["np"] or 0), int(r["nb"])) for r in b}
    return {
        s: (*dm.get(s, (0, 0)), *bm.get(s, (0, 0)))
        for s in pending
    }
