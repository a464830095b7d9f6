"""Tokenization — the semantic foundation of rank-identity.

Two distinct tokenizers exist in the reference and BOTH are replicated
exactly:

1. Corpus tokenizer (HW2/engine/parser.py:69-78): HTML-entity unescape,
   lowercase, then ``re.findall(r"[a-z0-9]+(?:[.-][a-z0-9]+)*", text)``.
   The reference also runs ftfy.fix_text for mojibake; ftfy is not
   available in this environment and is a no-op on clean UTF-8, so the
   engine applies only ``html.unescape`` (decision recorded here and in
   tests — for a source-code corpus the payload is clean UTF-8).

2. Query tokenizer (HW2/engine/searcher.py:60, daat_ranker.py:68):
   ``query.lower().split()`` — whitespace split, NOT the corpus regex.
   The asymmetry (a query term "u.s." never matches the indexed "u.s")
   is reference behavior and preserved.

Implementations (operators/postings.with_tokens method 'pandas' / 'sql'):
  - tokenize_udf: Arrow-vectorized pandas_udf (north-star mandated path,
    the build default) with HTML unescape.
  - tokens_sql_col: pure-JVM ``regexp_extract_all`` column — stays inside
    whole-stage codegen, no Python worker; used when the input needs no
    entity unescaping (and by the DuckDB-checked driver queries, where the
    oracle runs the identical regex).
"""

from __future__ import annotations

import html
import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from ..config import TOKEN_RE

_TOKEN_PATTERN = re.compile(TOKEN_RE)

try:  # P1 parity: the reference runs ftfy.fix_text before tokenizing
    # (HW2/engine/parser.py:54,76). ftfy is not installable in this
    # sandbox (README 'Known divergences'); where it IS present the
    # engine uses it automatically and the pipelines match on mojibake
    # too (tests/test_tokenizer.py::test_ftfy_parity, skipped without it).
    from ftfy import fix_text as _fix_text
except ImportError:  # pragma: no cover - environment-dependent
    _fix_text = None


def tokenize_text(text: str | None, unescape_html: bool = True) -> list[str]:
    """Pure-Python single-string tokenizer (oracle + driver-side use)."""
    if text is None:
        return []
    if unescape_html:
        if _fix_text is not None:
            text = _fix_text(text)
        text = html.unescape(text)
    return _TOKEN_PATTERN.findall(text.lower())


def tokenize_series(texts: pd.Series) -> pd.Series:
    """Vectorized batch tokenizer: pd.Series[str|None] -> pd.Series[list].

    The single source of truth for corpus tokenization semantics —
    ``tokenize_udf`` (the build's pandas_udf path) is a thin wrapper.
    pandas' ``str`` ops run the regex in C; ftfy (when installed) and
    html.unescape are the only per-row Python — unescape short-circuits
    when no '&' is present.
    """
    if _fix_text is not None:
        cleaned = texts.fillna("").map(
            lambda t: html.unescape(_fix_text(t)) if t else t
        )
    else:
        cleaned = texts.fillna("").map(
            lambda t: html.unescape(t) if "&" in t else t
        )
    return cleaned.str.lower().str.findall(TOKEN_RE)


@F.pandas_udf(ArrayType(StringType()))
def tokenize_udf(texts: pd.Series) -> pd.Series:
    """Vectorized corpus tokenizer (Arrow batches) — see tokenize_series."""
    return tokenize_series(texts)


def tokens_sql_col(text_col: str | Column = "text") -> Column:
    """JVM-side tokenizer: regexp_extract_all inside codegen.

    Identical output to tokenize_udf for inputs without HTML entities.
    """
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    # regexp_extract_all needs a group index; wrap the whole pattern.
    return F.regexp_extract_all(F.lower(col), F.lit(f"({TOKEN_RE})"), 1)


def tokenize_query(query: str) -> list[str]:
    """Reference query tokenizer: lower + whitespace split (verbatim)."""
    return query.lower().split()
