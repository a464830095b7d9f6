"""BM25 as native Catalyst column expressions (whole-stage codegen).

Formulas pinned to the reference:
  idf  = ln((N - df + 0.5) / (df + 0.5) + 1)      (HW2/engine/daat_ranker.py:35-37)
  s    = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
                                                  (HW2/engine/daat_ranker.py:40-44)
Defaults k1=1.2, b=0.75 (HW2/engine/ranker.py:17). The "+1 inside the
log" variant never goes negative — do not substitute Lucene's formula.
All arithmetic in float64, matching Python floats in the reference.

bm25_weighted_scores is the numpy twin of bm25_weighted_score_expr and
the driver's one BM25 expression: operators.wand.term_impacts scores
with it for serving (SearchEngine) and for the driver route of
plans.search.batch_score alike. It has the SQL string's operator
association, and Spark's ``ln`` (java.lang.StrictMath.log, fdlibm) is
reproduced by strict_log, so its scores are bit-identical to the SQL
expression's (tests/test_milestone1.py::test_bm25_twin_bit_identical).
The cursor DAAT oracle (operators.wand.BlockCursor) evaluates the same
expression per posting in plain Python floats.
"""

from __future__ import annotations

import math
import struct
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import BM25_B, BM25_K1


def bm25_idf_col(n_docs, df_col: Column) -> Column:
    """IDF column; ``n_docs`` is a scalar (python number) or Column."""
    n = F.lit(float(n_docs)) if not isinstance(n_docs, Column) else n_docs.cast("double")
    d = df_col.cast("double")
    return F.log((n - d + F.lit(0.5)) / (d + F.lit(0.5)) + F.lit(1.0))


def bm25_weighted_score_expr(
    n_docs,
    avgdl,
    k1: float = BM25_K1,
    b: float = BM25_B,
    tf: str = "tf",
    df: str = "df",
    dl: str = "dl",
    weight: str = "weight",
) -> str:
    """``weight * bm25_term_score`` as ONE SQL expression string.

    Semantically identical to ``weight_col * bm25_term_score_col(...)``
    — the parsed tree has the same operator structure and association,
    so every float64 intermediate is bit-identical (pinned by
    tests/test_milestone1.py::test_bm25_expr_bit_identical). The point
    is driver latency: building the equivalent Column tree costs ~45 ms
    of py4j round-trips PER QUERY CALL (one RPC per operator/literal);
    F.expr ships one string. Scalar literals are embedded via repr()
    (shortest round-trip form — Double.parseDouble restores the exact
    bits) with the D suffix so they parse as DOUBLE, never DECIMAL.
    """
    n = repr(float(n_docs))
    avg = repr(float(avgdl))
    k1r = repr(float(k1))
    k1p1 = repr(float(k1) + 1.0)
    omb = repr(1.0 - float(b))
    br = repr(float(b))
    return (
        f"{weight} * (ln(({n}D - CAST({df} AS DOUBLE) + 0.5D)"
        f" / (CAST({df} AS DOUBLE) + 0.5D) + 1.0D)"
        f" * (CAST({tf} AS DOUBLE) * {k1p1}D)"
        f" / (CAST({tf} AS DOUBLE)"
        f" + {k1r}D * ({omb}D + {br}D * CAST({dl} AS DOUBLE) / {avg}D)))"
    )


def bm25_term_score_col(
    tf_col: Column,
    df_col: Column,
    dl_col: Column,
    n_docs,
    avgdl,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> Column:
    """Single-term BM25 contribution — pure column arithmetic, no UDF."""
    tf = tf_col.cast("double")
    dl = dl_col.cast("double")
    avg = F.lit(float(avgdl)) if not isinstance(avgdl, Column) else avgdl.cast("double")
    idf = bm25_idf_col(n_docs, df_col)
    denom = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / avg)
    return idf * (tf * F.lit(k1 + 1.0)) / denom


def _word_double(hi: int, lo: int) -> float:
    return struct.unpack("<d", struct.pack("<Q", (hi << 32) | lo))[0]


# fdlibm e_log.c constants, from their IEEE words
_LN2_HI = _word_double(0x3FE62E42, 0xFEE00000)
_LN2_LO = _word_double(0x3DEA39EF, 0x35793C76)
_TWO54 = _word_double(0x43500000, 0x00000000)
_LG1 = _word_double(0x3FE55555, 0x55555593)
_LG2 = _word_double(0x3FD99999, 0x9997FA04)
_LG3 = _word_double(0x3FD24924, 0x94229359)
_LG4 = _word_double(0x3FCC71C5, 0x1D8E78AF)
_LG5 = _word_double(0x3FC74664, 0x96CB03DE)
_LG6 = _word_double(0x3FC39A09, 0xD078C69F)
_LG7 = _word_double(0x3FC2F112, 0xDF3E5244)


def strict_log(x: float) -> float:
    """Natural log, bit-identical to java.lang.StrictMath.log — the
    function behind Spark's ``ln``. A line-for-line port of fdlibm's
    __ieee754_log (e_log.c); Python floats are IEEE doubles with the
    same round-to-nearest arithmetic, so every step rounds as in C.
    math.log / numpy.log use the platform libm, whose last bit differs
    from fdlibm's on a fraction of inputs."""
    x = float(x)
    bits = struct.unpack("<Q", struct.pack("<d", x))[0]
    hx = (bits >> 32) - ((bits >> 31) & 0x100000000)  # signed high word
    lx = bits & 0xFFFFFFFF
    k = 0
    if hx < 0x00100000:  # x < 2**-1022
        if ((hx & 0x7FFFFFFF) | lx) == 0:
            return float("-inf")
        if hx < 0:
            return float("nan")
        k -= 54
        x *= _TWO54  # subnormal: scale up
        hx = struct.unpack("<Q", struct.pack("<d", x))[0] >> 32
    if hx >= 0x7FF00000:
        return x + x
    k += (hx >> 20) - 1023
    hx &= 0x000FFFFF
    i = (hx + 0x95F64) & 0x100000
    low = struct.unpack("<Q", struct.pack("<d", x))[0] & 0xFFFFFFFF
    x = struct.unpack(
        "<d", struct.pack("<Q", ((hx | (i ^ 0x3FF00000)) << 32) | low)
    )[0]  # normalize x or x/2
    k += i >> 20
    f = x - 1.0
    if (0x000FFFFF & (2 + hx)) < 3:  # |f| < 2**-20
        if f == 0.0:
            if k == 0:
                return 0.0
            dk = float(k)
            return dk * _LN2_HI + dk * _LN2_LO
        r = f * f * (0.5 - 0.33333333333333333 * f)
        if k == 0:
            return f - r
        dk = float(k)
        return dk * _LN2_HI - ((r - dk * _LN2_LO) - f)
    s = f / (2.0 + f)
    dk = float(k)
    z = s * s
    i = hx - 0x6147A
    w = z * z
    j = 0x6B851 - hx
    t1 = w * (_LG2 + w * (_LG4 + w * _LG6))
    t2 = z * (_LG1 + w * (_LG3 + w * (_LG5 + w * _LG7)))
    i |= j
    r = t2 + t1
    if i > 0:
        hfsq = 0.5 * f * f
        if k == 0:
            return f - (hfsq - s * (hfsq + r))
        return dk * _LN2_HI - ((hfsq - (s * (hfsq + r) + dk * _LN2_LO)) - f)
    if k == 0:
        return f - s * (f - r)
    return dk * _LN2_HI - ((s * (f - r) - dk * _LN2_LO) - f)


def bm25_idf_strict(n_docs, df) -> float:
    """The idf of bm25_weighted_score_expr, bit for bit: same operand
    order, StrictMath log."""
    n, d = float(n_docs), float(df)
    return strict_log((n - d + 0.5) / (d + 0.5) + 1.0)


def bm25_weighted_scores(
    tf: np.ndarray,
    dl: np.ndarray,
    idf,
    weight,
    avgdl: float,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> np.ndarray:
    """numpy twin of bm25_weighted_score_expr: ``weight * (idf *
    (tf*(k1+1)) / (tf + k1*((1-b) + b*dl/avgdl)))`` with the SQL
    string's association — note ``(b*dl)/avgdl`` — and its literals
    (k1+1 and 1-b folded in Python, as the string embeds them). ``idf``
    is bm25_idf_strict of the row's df; it and ``weight`` may be scalars
    or arrays aligned with tf/dl. A scalar weight of 1.0 skips the
    multiply: ``1.0 * x == x`` exactly."""
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(dl, dtype=np.float64)
    k1 = float(k1)
    b = float(b)
    denom = tf + k1 * ((1.0 - b) + b * dl / float(avgdl))
    scores = idf * (tf * (k1 + 1.0)) / denom
    if np.isscalar(weight) and weight == 1.0:
        return scores
    return np.asarray(weight, dtype=np.float64) * scores


_SCORE_QUANTUM = Decimal("1e-6")


def round_score(x: float) -> float:
    """Spark's ``round(x, 6)`` of a double, in Python, bit for bit: the
    rank key of every query path. Spark rounds BigDecimal.valueOf(x) —
    the decimal string Double.toString gives, the shortest one that reads
    back as x, which is Python's repr — HALF_UP to 6 places. Python's
    round() is a different function: it rounds the exact binary value
    half-even, and so differs from F.round on values whose repr ends in
    5 at the 7th decimal."""
    x = float(x)
    if not math.isfinite(x):
        return x
    return float(Decimal(repr(x)).quantize(_SCORE_QUANTUM, ROUND_HALF_UP))
