"""Tokenizer parity: pandas_udf == JVM regexp == oracle regex, on
adversarial strings (HTML entities, u.s., 3.14, foo-bar, unicode)."""

import pandas as pd
from pyspark.sql import functions as F

from web_search_engine_spark.functions.tokenizer import (
    tokenize_query,
    tokenize_text,
    tokenize_udf,
    tokens_sql_col,
)
from tests.oracle import tokenize as oracle_tokenize

ADVERSARIAL = [
    "Hello World",
    "U.S. policy on 3.14 constants",
    "foo-bar baz-0.2-rc1",
    "keep &amp; unescape &lt;tags&gt;",
    "",
    "   \t\n!!! ??? ***",
    "Mixed CASE and under_scores",  # '_' splits: under, scores
    "trailing dots... and-dashes-",
    "unicode snowman ☃ café 123",
    "a.b.c-d.e 10.0.0.1",
]


def test_pure_python_matches_oracle():
    for s in ADVERSARIAL:
        assert tokenize_text(s) == oracle_tokenize(s), s


def test_pandas_udf_matches_oracle(spark):
    df = spark.createDataFrame(pd.DataFrame({"id": range(len(ADVERSARIAL)), "text": ADVERSARIAL}))
    got = {
        r["id"]: r["toks"]
        for r in df.select("id", tokenize_udf(F.col("text")).alias("toks")).collect()
    }
    for i, s in enumerate(ADVERSARIAL):
        assert got[i] == oracle_tokenize(s), s


def test_sql_tokenizer_matches_on_entity_free_text(spark):
    plain = [s for s in ADVERSARIAL if "&" not in s]
    df = spark.createDataFrame(pd.DataFrame({"id": range(len(plain)), "text": plain}))
    got = {
        r["id"]: r["toks"]
        for r in df.select("id", tokens_sql_col("text").alias("toks")).collect()
    }
    for i, s in enumerate(plain):
        assert got[i] == oracle_tokenize(s), s


def test_ftfy_parity():
    """P1 closure: when ftfy is installed, the engine's tokenizer must
    match the reference's ftfy.fix_text + unescape + regex pipeline on
    mojibake (HW2/engine/parser.py:54,76). Skipped where ftfy is absent
    (this sandbox — README 'Known divergences' records the residual)."""
    import html
    import re

    import pytest

    ftfy = pytest.importorskip("ftfy")
    from web_search_engine_spark.config import TOKEN_RE

    mojibake = [
        "the cafÃ© crowd",  # UTF-8 read as latin-1: ftfy -> café
        "donâ€™t panic",  # curly apostrophe mojibake
        "plain ascii stays put",
    ]
    for s in mojibake:
        want = re.findall(TOKEN_RE, html.unescape(ftfy.fix_text(s)).lower())
        assert tokenize_text(s) == want, s


def test_query_tokenizer_is_whitespace_split():
    # The asymmetry is reference behavior: "u.s." stays "u.s." in the
    # query but the corpus indexes "u.s" — mismatch returns nothing.
    assert tokenize_query("U.S. Policy") == ["u.s.", "policy"]
    assert tokenize_query("  a  b\tc ") == ["a", "b", "c"]
