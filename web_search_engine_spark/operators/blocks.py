"""Blocked postings index — the reference's index.postings + lexicon as tables.

Physical layout (SURVEY.md §1.1): one ROW per block instead of a byte
offset into a monolithic file. Payload bytes (doc_bytes/freq_bytes) are
byte-identical to the reference format (HW2/engine/listio.py:44-79):
<=block_size postings per block, docids delta-gap + varbyte (or raw
uint32), freqs varbyte (or raw). The lexicon's byte offsets disappear;
the block directory (last_docid per block, HW2/engine/listio.py:176-196)
becomes ordinary columns that parquet min/max stats can skip on.

Scale design:
  - The build is a salted hash `repartition(shard, term-bucket) +
    sortWithinPartitions + mapInArrow`: the explicit re-expression of
    the reference's sort->k-way-merge pipeline (north star) — the
    shuffle IS the merge, every partition writes independently, no
    serial final writer (HW2/engine/merger.py's bottleneck).
  - mapInArrow (not groupBy(term).applyInPandas): one Arrow batch holds
    THOUSANDS of term groups, encoded with two vectorized codec calls
    per batch instead of one tiny pandas DataFrame per term. A term
    group split across batch boundaries is carried over; the (shard,
    term-bucket) key guarantees a (shard, term) group never splits
    across partitions.
  - Hot-term skew is bounded by DOC-SHARDING: shard = doc_id //
    shard_size. Every (shard, term) group has at most shard_size
    postings, so a stopword term at 100 TB splits into many bounded
    groups instead of one monster task. Shards partition doc_id RANGES,
    so per-term global docid order is (shard asc, block_id asc) and
    each shard's gap chain restarts at base 0 (recorded in base_docid).
    With a single shard the output is byte-identical to the reference's
    whole-corpus build.
  - Per-block max_tf supports block-max WAND upper bounds
    (ub = idf * (k1+1)*max_tf / (max_tf + k1*(1-b)) — a true bound since
    the dl term in the denominator only increases it; SURVEY.md §4).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..config import BLOCK_SIZE, CODEC_VARBYTE
from ..functions import codec as C

BLOCK_SCHEMA = (
    "term string, shard int, block_id int, n int, last_docid long, "
    "base_docid long, max_tf long, doc_bytes binary, freq_bytes binary"
)

# lexicon/ rows, one per term: df = sum of n over the term's blocks,
# nblocks, max_tf = max over them. Every lexicon writer writes this
# schema (lexicon_from_blocks, both folds of build_index.merge_lexicon,
# the empty build), and IndexCatalog.lexicon() reads with it instead of
# inferring it with a Spark job.
ARROW_LEXICON_SCHEMA = pa.schema(
    [("term", pa.string()), ("df", pa.int64()), ("nblocks", pa.int32()), ("max_tf", pa.int64())]
)
LEXICON_SCHEMA = from_arrow_schema(ARROW_LEXICON_SCHEMA)


def _mmh3_int32(value: int, seed: int = 42) -> int:
    """Murmur3 x86_32 of one int32 block — bit-identical to Spark's
    `hash()` / shuffle HashPartitioning on a single int column (seed
    42). Public algorithm (Appleby's MurmurHash3); differentially
    tested against F.hash in tests/test_skew_and_plans.py."""
    m = 0xFFFFFFFF
    k = (value & m) * 0xCC9E2D51 & m
    k = ((k << 15) | (k >> 17)) & m
    k = (k * 0x1B873593) & m
    h = (seed ^ k) & m
    h = ((h << 13) | (h >> 19)) & m
    h = (h * 5 + 0xE6546B64) & m
    h ^= 4  # total bytes hashed
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & m
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & m
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h  # signed int32


_SALT_CACHE: dict[int, list[int]] = {}


def _identity_salts(n_part: int) -> list[int]:
    """salts[t] = smallest s >= 0 with pmod(murmur3(s), n_part) == t.

    Repartitioning by `salts[key_index % n_part]` therefore sends key
    t's rows to EXACTLY partition t — a deterministic round-robin
    key->partition assignment through Spark's stock hash partitioner
    (no RDD partitioner API, no sampling job). Search cost is O(n_part
    * ln n_part) driver-side int hashing, cached per process."""
    salts = _SALT_CACHE.get(n_part)
    if salts is None:
        salts = [-1] * n_part
        found, s = 0, 0
        while found < n_part:
            t = _mmh3_int32(s) % n_part
            if salts[t] < 0:
                salts[t] = s
                found += 1
            s += 1
        _SALT_CACHE[n_part] = salts
    return salts


def identity_partition_key(shard_col, bucket_col, sub: int, n_part: int):
    """Column expr: round-robin (shard, bucket) keys onto partitions
    via murmur3-inverted salts — key i = shard*sub + bucket goes to
    exactly partition i % n_part when used as the sole
    `repartition(n_part, <this>)` column.

    The salt table rides the plan as an array literal (n_part ints,
    fine up to ~10k partitions; beyond that, ship it as a broadcast
    join against a (key_idx, salt) relation instead)."""
    salts = _identity_salts(n_part)
    key_idx = F.pmod(
        shard_col.cast("long") * sub + bucket_col.cast("long"), F.lit(n_part)
    ).cast("int")
    return F.element_at(F.array(*[F.lit(s) for s in salts]), key_idx + F.lit(1))

_ARROW_BLOCK_SCHEMA = pa.schema(
    [
        ("term", pa.string()),
        ("shard", pa.int32()),
        ("block_id", pa.int32()),
        ("n", pa.int32()),
        ("last_docid", pa.int64()),
        ("base_docid", pa.int64()),
        ("max_tf", pa.int64()),
        ("doc_bytes", pa.binary()),
        ("freq_bytes", pa.binary()),
    ]
)


def _empty_block_batch() -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array([], type=f.type) for f in _ARROW_BLOCK_SCHEMA],
        schema=_ARROW_BLOCK_SCHEMA,
    )


def _binary_from_slices(values: np.ndarray, byte_offsets: np.ndarray) -> pa.Array:
    """Zero-copy BinaryArray: row b = values[byte_offsets[b]:byte_offsets[b+1]].

    The (values, offsets) pair becomes the Arrow buffers directly — no
    per-block ``bytes(memoryview[...])`` slicing loop (that loop was the
    measured scaling bottleneck of the blocks-write stage). Offsets are
    int32 per the Binary layout; one Arrow batch's payload is far below
    2 GB (batches are bounded by maxRecordsPerBatch and carried groups
    by shard_size postings).
    """
    if byte_offsets[-1] > np.iinfo(np.int32).max:
        raise ValueError("block payload batch exceeds 2 GB Binary offset range")
    offs = np.ascontiguousarray(byte_offsets, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.binary(), len(offs) - 1, [None, pa.py_buffer(offs), pa.py_buffer(values)]
    )


def _group_change_mask(batch: pa.RecordBatch) -> np.ndarray:
    """bool[n-1]: row i+1 starts a new (shard, term) group — computed
    with Arrow kernels, no Python string materialization."""
    import pyarrow.compute as pc

    n = batch.num_rows
    term = batch.column("term")
    shard = batch.column("shard")
    chg = pc.or_(
        pc.not_equal(term.slice(1), term.slice(0, n - 1)),
        pc.not_equal(shard.slice(1), shard.slice(0, n - 1)),
    )
    return chg.to_numpy(zero_copy_only=False)


def _encode_arrow(batch: pa.RecordBatch, block_size: int, codec: str) -> pa.RecordBatch:
    """Arrow-native block builder: one sorted (shard, term, doc_id)
    RecordBatch -> block rows, with payload columns built zero-copy from
    (values-buffer, offsets) pairs. Byte-identical to the reference
    block format (tested against a pure-Python writer of it)."""
    import pyarrow.compute as pc

    n = batch.num_rows
    if n == 0:
        return _empty_block_batch()
    docids = np.asarray(batch.column("doc_id"), dtype=np.int64)
    tfs = np.asarray(batch.column("tf"), dtype=np.int64)

    new_group = np.empty(n, dtype=bool)
    new_group[0] = True
    if n > 1:
        new_group[1:] = _group_change_mask(batch)
    group_starts = np.flatnonzero(new_group)
    group_of_row = np.cumsum(new_group) - 1
    row_in_group = np.arange(n) - group_starts[group_of_row]

    new_block = new_group | (row_in_group % block_size == 0)
    block_starts = np.flatnonzero(new_block)
    bounds = np.append(block_starts, n)  # len nblocks+1; blocks tile [0, n)
    block_ends = bounds[1:] - 1
    block_id = (row_in_group[block_starts] // block_size).astype(np.int32)
    n_in_block = (bounds[1:] - block_starts).astype(np.int32)
    last_docid = docids[block_ends]
    base_docid = np.where(block_id == 0, 0, docids[np.maximum(block_starts - 1, 0)])
    max_tf = np.maximum.reduceat(tfs, block_starts)

    if codec == CODEC_VARBYTE:
        gaps = np.empty(n, dtype=np.int64)
        gaps[0] = docids[0]
        np.subtract(docids[1:], docids[:-1], out=gaps[1:])
        gaps[group_starts] = docids[group_starts]
        if np.any(gaps < 0):
            raise ValueError("postings not sorted by (shard, term, doc_id)")
        doc_buf, doc_lens = C.vb_encode_arrays(gaps.astype(np.uint64))
        freq_buf, freq_lens = C.vb_encode_arrays(tfs.astype(np.uint64))
        doc_bytes = _binary_from_slices(
            doc_buf, np.concatenate(([0], np.cumsum(doc_lens)))[bounds]
        )
        freq_bytes = _binary_from_slices(
            freq_buf, np.concatenate(([0], np.cumsum(freq_lens)))[bounds]
        )
    else:
        d32 = np.ascontiguousarray(docids.astype("<u4")).view(np.uint8)
        f32 = np.ascontiguousarray(tfs.astype("<u4")).view(np.uint8)
        doc_bytes = _binary_from_slices(d32, bounds * 4)
        freq_bytes = _binary_from_slices(f32, bounds * 4)

    idx = pa.array(block_starts)
    return pa.RecordBatch.from_arrays(
        [
            pc.take(batch.column("term"), idx).cast(pa.string()),
            pc.take(batch.column("shard"), idx).cast(pa.int32()),
            pa.array(block_id),
            pa.array(n_in_block),
            pa.array(last_docid),
            pa.array(base_docid.astype(np.int64)),
            pa.array(max_tf.astype(np.int64)),
            doc_bytes,
            freq_bytes,
        ],
        schema=_ARROW_BLOCK_SCHEMA,
    )


def _block_builder(block_size: int, codec: str):
    """mapInArrow function: stream RecordBatches, carry the trailing
    (shard, term) group so a group split across Arrow batches is
    encoded exactly once. All slicing is zero-copy Arrow."""

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        leftover: pa.RecordBatch | None = None
        for batch in batches:
            if leftover is not None and leftover.num_rows:
                batch = (
                    pa.Table.from_batches([leftover, batch])
                    .combine_chunks()
                    .to_batches(max_chunksize=None)[0]
                )
            n = batch.num_rows
            if n == 0:
                continue
            # hold back the final group — it may continue in the next batch
            if n > 1:
                starts = np.flatnonzero(_group_change_mask(batch))
                cut = int(starts[-1]) + 1 if len(starts) else 0
            else:
                cut = 0
            leftover = batch.slice(cut)
            if cut:
                yield _encode_arrow(batch.slice(0, cut), block_size, codec)
        if leftover is not None and leftover.num_rows:
            yield _encode_arrow(leftover, block_size, codec)

    return build


def build_block_index(
    postings: DataFrame,
    block_size: int = BLOCK_SIZE,
    codec: str = CODEC_VARBYTE,
    shard_size: int | None = None,
    num_partitions: int | None = None,
    shards_hint: int | None = None,
) -> DataFrame:
    """(term, doc_id, tf) -> block rows (BLOCK_SCHEMA).

    shard_size: max docs per shard (hot-term skew bound). None = single
    shard 0 (byte-identical to the reference whole-corpus build).
    num_partitions: shuffle partitions of the blocks exchange (default:
    the session's parallelism).
    shards_hint: approximate shard count, used to size term sub-buckets.

    Partitioning: HASH on (shard, term-bucket), then sort within
    partitions — every (shard, term) group lands whole in one partition
    with its postings doc_id-ordered (the encoder's invariant).
    Deliberately NOT repartitionByRange: the RangePartitioner's
    reservoir-sampling job recomputes the ENTIRE child lineage
    (tokenize -> explode -> agg) a second time before the real pass —
    measured as a full extra postings pass per build. Hash partitioning
    needs no sampling; term-clustering for scan pruning comes from the
    within-partition sort (tight per-ROW-GROUP term ranges), not from
    cross-partition range order.

    The term BUCKET (xxhash64(term) % sub) keeps two properties at
    once: when shards >> cores (the 100 TB regime) sub collapses to 1
    and each task holds whole shards, so the partitioned write emits
    O(1) files per shard dir (never the tasks x shards small-file
    blowup); when shards < cores (small indexes) the buckets restore
    full write parallelism at the cost of min(sub, n_part) files per
    shard dir.

    KEY->PARTITION ASSIGNMENT (round 3): stock hash repartitioning
    assigns KEYS to partitions randomly, so with distinct (shard,
    bucket) keys ~= the partition count the max-loaded partition
    carries ~3x the mean (balls in bins) and the encode/write stage
    runs on a fraction of the cores, while oversubscribing keys (many
    buckets) multiplies output files per task. Salted keys escape the
    trade-off: key index i = shard * sub + bucket is round-robined to
    target partition t = i % n_part by repartitioning on a SALT value
    precomputed to murmur3-hash onto exactly t (_identity_salts) —
    perfect key balance with only a few keys per partition and O(keys)
    total output files.
    """
    spark = postings.sparkSession
    if shard_size:
        sharded = postings.withColumn(
            "shard", (F.col("doc_id") / F.lit(int(shard_size))).cast("int")
        )
    else:
        sharded = postings.withColumn("shard", F.lit(0).cast("int"))
    n_part = num_partitions or spark.sparkContext.defaultParallelism
    shards = max(1, shards_hint or 1)
    # a few keys per partition smooths per-bucket byte skew; exact
    # balance comes from the round-robin, not the key count
    sub = max(1, (4 * n_part + shards - 1) // shards)
    pk = identity_partition_key(
        F.col("shard"), F.pmod(F.xxhash64("term"), F.lit(sub)), sub, n_part
    )
    ordered = sharded.repartition(n_part, pk).sortWithinPartitions(
        "shard", "term", "doc_id"
    )
    return ordered.mapInArrow(_block_builder(block_size, codec), BLOCK_SCHEMA)


def lexicon_from_blocks(blocks: DataFrame) -> DataFrame:
    """LEXICON_SCHEMA rows of block rows — df = Σ n over blocks (exact).
    nblocks is a sum of ones, not a count: a count is a non-nullable
    column, which parquet stores as a required one, unlike the schema's."""
    return as_lexicon(
        blocks.groupBy("term").agg(
            F.sum("n").alias("df"),
            F.sum(F.lit(1)).alias("nblocks"),
            F.max("max_tf").alias("max_tf"),
        )
    )


def as_lexicon(df: DataFrame) -> DataFrame:
    """``df``'s lexicon columns, cast to LEXICON_SCHEMA."""
    return df.select(*(F.col(f.name).cast(f.dataType) for f in LEXICON_SCHEMA))


_ARROW_POSTING_SCHEMA = pa.schema(
    [("term", pa.string()), ("doc_id", pa.int64()), ("tf", pa.int64())]
)


def _flat_binary(arr: pa.Array) -> np.ndarray:
    """The concatenated payload bytes of a null-free Binary/LargeBinary
    array (possibly sliced). Arrow binary offsets are monotonic, so row
    payloads concatenated in row order ARE the contiguous values-buffer
    slice — read zero-copy."""
    odt = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    bufs = arr.buffers()
    off = np.frombuffer(bufs[1], dtype=odt)[arr.offset : arr.offset + len(arr) + 1]
    vals = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.zeros(0, dtype=np.uint8)
    )
    return vals[int(off[0]) : int(off[-1])]


def _decode_arrow(batch: pa.RecordBatch, codec: str) -> pa.RecordBatch:
    """Vectorized inverse of _encode_arrow: ALL blocks of a batch decode
    at once through codec.decode_blocks over the concatenated payload
    buffers. The only per-row work is an Arrow take() for the repeated
    term column."""
    import pyarrow.compute as pc

    nb = batch.num_rows
    if nb == 0:
        return pa.RecordBatch.from_arrays(
            [pa.array([], type=f.type) for f in _ARROW_POSTING_SCHEMA],
            schema=_ARROW_POSTING_SCHEMA,
        )
    n_per = np.asarray(batch.column("n"), dtype=np.int64)
    docids, tfs = C.decode_blocks(
        _flat_binary(batch.column("doc_bytes")),
        _flat_binary(batch.column("freq_bytes")),
        n_per,
        np.asarray(batch.column("base_docid"), dtype=np.int64),
        codec,
    )
    indices = pa.array(np.repeat(np.arange(nb), n_per))
    return pa.RecordBatch.from_arrays(
        [
            pc.take(batch.column("term"), indices).cast(pa.string()),
            pa.array(docids),
            pa.array(tfs),
        ],
        schema=_ARROW_POSTING_SCHEMA,
    )


def blocks_to_postings(blocks: DataFrame, codec: str = CODEC_VARBYTE) -> DataFrame:
    """Inverse transform: block rows -> (term, doc_id, tf).

    Embarrassingly parallel (base_docid makes every block
    self-decodable — no cross-block chain at read time).
    """
    return blocks.mapInArrow(
        lambda it: (_decode_arrow(b, codec) for b in it),
        "term string, doc_id long, tf long",
    )
