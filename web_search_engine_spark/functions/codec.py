"""Posting-block codec: delta-gap + varbyte, numpy-vectorized.

Byte format is pinned to the reference index layout
(HW2/engine/listio.py:229-321) so payloads are byte-identical:

  - varbyte: each non-negative integer is emitted as little-endian 7-bit
    groups; the MSB (0x80) is set on the LAST byte of each integer
    (inverse of the common "continuation bit" convention).
  - docids are delta-encoded within a block: the first gap is relative
    to ``base`` (= previous block's last_docid, 0 for the first block);
    subsequent gaps are successive differences.
  - freqs are varbyte-encoded directly (no delta).
  - raw codec: docids then freqs as little-endian uint32 arrays.

This is an independent numpy implementation of that published format —
no loops over postings, so it runs at memory bandwidth inside
applyInPandas block builders and the query-side scorer.
"""

from __future__ import annotations

import numpy as np


def vb_encode_arrays(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Varbyte-encode an array -> (uint8 byte array, per-value lengths).

    Because the format is strictly per-value, the concatenation of any
    slice of values encodes to the corresponding byte slice — callers
    (the block builder) encode a whole Arrow batch in ONE call and cut
    block payloads at cumulative-length boundaries. Returning the raw
    numpy byte array (not ``bytes``) lets the Arrow block builder wrap
    it zero-copy as a BinaryArray values buffer.
    """
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(0, dtype=np.int64)
    if values is not v and np.any(np.asarray(values) < 0):
        raise ValueError("varbyte requires non-negative integers")
    nbytes = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp > 0).astype(np.int64)
        tmp = tmp >> np.uint64(7)
    ends = np.cumsum(nbytes)
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    starts = ends - nbytes
    for j in range(int(nbytes.max())):
        mask = nbytes > j
        out[starts[mask] + j] = ((v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(
            np.uint8
        )
    out[ends - 1] |= 0x80
    return out, nbytes


def vb_encode(values: np.ndarray) -> bytes:
    """Varbyte-encode an array of non-negative ints (MSB-on-last-byte)."""
    return vb_encode_arrays(values)[0].tobytes()


def vb_decode(data: bytes | np.ndarray) -> np.ndarray:
    """Decode a varbyte stream to uint64 values.

    A dangling partial integer (no terminator byte) is ignored, matching
    the reference decoder's leniency (HW2/engine/listio.py:273-276).
    """
    b = np.frombuffer(data, dtype=np.uint8) if not isinstance(data, np.ndarray) else data
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) > 0
    term_idx = np.flatnonzero(is_last)
    if term_idx.size == 0:
        return np.empty(0, dtype=np.uint64)
    # Drop dangling bytes after the final terminator.
    end = term_idx[-1] + 1
    b = b[:end]
    is_last = is_last[:end]
    gid = np.zeros(b.size, dtype=np.int64)
    gid[1:] = np.cumsum(is_last[:-1])
    g_starts = np.concatenate(([0], term_idx[:-1] + 1))
    pos = np.arange(b.size, dtype=np.int64) - g_starts[gid]
    contrib = (b & 0x7F).astype(np.uint64) << (7 * pos).astype(np.uint64)
    res = np.zeros(term_idx.size, dtype=np.uint64)
    np.add.at(res, gid, contrib)  # disjoint bit ranges: add == bitwise-or
    return res


def encode_docids(docids: np.ndarray, base: int) -> bytes:
    """Absolute docids -> varbyte of gaps relative to ``base``."""
    d = np.asarray(docids, dtype=np.int64)
    if d.size == 0:
        return b""
    gaps = np.empty(d.size, dtype=np.int64)
    gaps[0] = d[0] - base
    np.subtract(d[1:], d[:-1], out=gaps[1:])
    if np.any(gaps < 0):
        raise ValueError("non-monotonic docid sequence")
    return vb_encode(gaps.astype(np.uint64))


def decode_docids(data: bytes, base: int) -> np.ndarray:
    """Varbyte gaps -> absolute docids (int64) using ``base``."""
    gaps = vb_decode(data).astype(np.int64)
    if gaps.size == 0:
        return gaps
    return np.cumsum(gaps) + base


def encode_freqs(freqs: np.ndarray) -> bytes:
    return vb_encode(np.asarray(freqs, dtype=np.uint64))


def decode_freqs(data: bytes) -> np.ndarray:
    return vb_decode(data).astype(np.int64)


# --- raw codec: little-endian uint32 arrays (HW2/engine/listio.py:60-71) ---


def raw_encode(values: np.ndarray) -> bytes:
    return np.asarray(values).astype("<u4").tobytes()


def raw_decode(data: bytes) -> np.ndarray:
    return np.frombuffer(data, dtype="<u4").astype(np.int64)


def decode_block(doc_bytes: bytes, freq_bytes: bytes, base: int, codec: str):
    """Decode one block -> (docids int64, freqs int64)."""
    if codec == "varbyte":
        return decode_docids(doc_bytes, base), decode_freqs(freq_bytes)
    return raw_decode(doc_bytes), raw_decode(freq_bytes)


def decode_blocks(
    doc_bytes: np.ndarray,
    freq_bytes: np.ndarray,
    n_per: np.ndarray,
    bases: np.ndarray,
    codec: str,
) -> tuple[np.ndarray, np.ndarray]:
    """Decode many blocks at once -> (docids int64, freqs int64).

    doc_bytes / freq_bytes are the blocks' payloads concatenated in
    block order (uint8 arrays); n_per is each block's posting count and
    bases its base docid. The varbyte format is strictly per-value, so
    the concatenation decodes in two codec calls; each block's gap chain
    is then re-based with one segmented cumsum: docid[i] = base_b +
    (csum[i] - csum[start_b - 1]). Raw payloads hold absolute docids.

    Raises ValueError when the payloads do not hold exactly sum(n_per)
    postings (a truncated or corrupt block)."""
    n_per = np.asarray(n_per, dtype=np.int64)
    total = int(n_per.sum())
    if codec == "varbyte":
        gaps = vb_decode(doc_bytes).astype(np.int64)
        tfs = vb_decode(freq_bytes).astype(np.int64)
    else:
        gaps = doc_bytes.view("<u4").astype(np.int64)
        tfs = freq_bytes.view("<u4").astype(np.int64)
    if len(gaps) != total or len(tfs) != total:
        raise ValueError("corrupt block payloads: posting count mismatch")
    if codec != "varbyte" or total == 0:
        return gaps, tfs
    csum = np.cumsum(gaps)
    starts = np.cumsum(n_per) - n_per
    before = np.where(starts > 0, csum[starts - 1], 0)
    return csum + np.repeat(np.asarray(bases, dtype=np.int64) - before, n_per), tfs
