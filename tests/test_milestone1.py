"""Milestone 1 differential: Spark index + scorer ≡ pure-Python oracle.

Pattern follows the reference's own testrun.py (merged-vs-direct index
comparison, HW2/engine/testrun.py:80-104) but exhaustive over ALL terms,
plus rank-identity on the reference query set (searcher.py:254-262).
"""

import math
import re

import pytest
from pyspark.sql import functions as F

from tests.oracle import OracleIndex
from web_search_engine_spark.operators.postings import (
    assign_doc_ids,
    build_postings,
    corpus_stats,
    doc_stats,
    lexicon_df,
    salted_term_counts,
    with_tokens,
)
from web_search_engine_spark.plans.query import boolean_search, score_queries
from web_search_engine_spark.sources.corpus import corpus_df, corpus_docs

REFERENCE_QUERIES = [
    ("q1", "overturned carriage"),
    ("q2", "communication policy"),
    ("q3", "manhattan project"),
    ("q4", "manhattan project bomb"),
    ("q5", "u.s policy"),
    ("q6", "3.14 math"),
    ("q7", "archie moore bash ali"),
    ("q8", "machine learning"),
    ("q9", "communication"),
    ("q10", "the the import"),  # duplicate query terms double-count
    ("q11", "u.s. policy"),  # query-tokenizer asymmetry: u.s. never matches
]


@pytest.fixture(scope="module")
def built(spark):
    src = corpus_df(spark, n_docs=400, seed=42)
    src = assign_doc_ids(src, ["repo", "path"])
    toks = with_tokens(src, "content", method="pandas")
    postings = build_postings(toks).cache()
    stats = doc_stats(toks).cache()
    n, avgdl = corpus_stats(stats)
    oracle = OracleIndex(corpus_docs(400, 42))
    return postings, stats, n, avgdl, oracle


def test_doc_ids_dense_and_stable(built, spark):
    _, stats, n, _, oracle = built
    ids = sorted(r["doc_id"] for r in stats.select("doc_id").collect())
    assert ids == list(range(len(ids)))
    assert n == oracle.N == len(ids)


def test_doc_stats_match_oracle(built):
    _, stats, n, avgdl, oracle = built
    got = {r["doc_id"]: r["dl"] for r in stats.collect()}
    assert got == oracle.doc_lengths
    assert math.isclose(avgdl, oracle.avgdl, rel_tol=1e-12)
    # zero-token docs present with dl=0 (MP-path semantics)
    assert 0 in set(got.values())


def test_postings_match_oracle_exhaustively(built):
    postings, *_ , oracle = built
    got: dict[str, dict[int, int]] = {}
    for r in postings.collect():
        got.setdefault(r["term"], {})[r["doc_id"]] = r["tf"]
    assert set(got) == set(oracle.index)
    for t, want in oracle.index.items():
        assert got[t] == want, f"postings mismatch for term {t!r}"


def test_lexicon_df_and_salted_variant_agree(built):
    postings, *_ , oracle = built
    plain = {r["term"]: r["df"] for r in lexicon_df(postings).collect()}
    salted = {r["term"]: r["df"] for r in salted_term_counts(postings).collect()}
    assert plain == salted == oracle.df


@pytest.mark.parametrize("mode", ["OR", "AND"])
def test_rank_identity_reference_queries(built, mode):
    postings, stats, n, avgdl, oracle = built
    res = score_queries(postings, stats, n, avgdl, REFERENCE_QUERIES, mode=mode, topk=10)
    by_q: dict[str, list] = {}
    for r in res.collect():
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, query in REFERENCE_QUERIES:
        want = oracle.search(query, mode=mode, topk=10)
        got = sorted(by_q.get(qid, []))
        assert len(got) == len(want), (qid, query, len(got), len(want))
        for (rank, doc_id, score), (odoc, oscore) in zip(got, want):
            assert doc_id == odoc, (qid, mode, rank, doc_id, odoc)
            assert math.isclose(score, oscore, rel_tol=1e-9), (qid, doc_id)


@pytest.mark.parametrize("mode", ["OR", "AND"])
def test_one_query_calls_match_the_multi_query_call(built, mode):
    """Each reference query asked alone, whose top-k is a global
    orderBy().limit(), ranks as the multi-query call's per-query window
    ranks it, and as the oracle does, through a tie at the rank-10
    boundary: q11's 10th and 11th docs score equal."""
    postings, stats, n, avgdl, oracle = built

    def ranked(queries):
        res = score_queries(postings, stats, n, avgdl, queries, mode=mode, topk=10)
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 6))
            for r in res.collect()
        )

    multi = ranked(REFERENCE_QUERIES)
    tie = oracle.search("u.s. policy", mode=mode, topk=11)
    assert tie[9][1] == tie[10][1]
    for qid, query in REFERENCE_QUERIES:
        alone = ranked([(qid, query)])
        assert alone == [r for r in multi if r[0] == qid], (qid, mode)
        want = oracle.search(query, mode=mode, topk=10)
        assert [(rank, d) for _, rank, d, _ in alone] == [
            (rank, d) for rank, (d, _) in enumerate(want, 1)
        ], (qid, mode)
        for (*_, score), (_, oscore) in zip(alone, want):
            assert math.isclose(score, oscore, abs_tol=1e-6), (qid, mode)


def test_one_query_call_with_terms_sql_cannot_quote(spark):
    """A one-query call whose terms hold a quote or a backslash keeps
    the query-term broadcast; it ranks as the same query does in a
    multi-query call and alone without those terms."""
    postings = spark.createDataFrame(
        [("it's", 0, 2), ("it's", 1, 1), ("a\\b", 1, 3), ("x", 2, 1), ("x", 0, 1)],
        "term string, doc_id long, tf long",
    )
    stats = spark.createDataFrame([(0, 5), (1, 3), (2, 4)], "doc_id long, dl long")

    def ranked(queries):
        res = score_queries(postings, stats, 3, 4.0, queries, topk=10)
        return sorted(
            (r["rank"], r["doc_id"], round(r["score"], 6))
            for r in res.collect() if r["query_id"] == "q"
        )

    for query in ("it's", "it's a\\b x", "x"):
        alone = ranked([("q", query)])
        assert alone and alone == ranked([("q", query), ("other", "x")]), query


def _executed_nodes(df) -> list[str]:
    """Collect ``df``, then list its executed plan's node classes, query
    stages included, without the plans of the cached relations it reads
    (an InMemoryTableScan is a leaf)."""
    df.collect()
    out, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        out.append(name)
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def test_one_query_call_ranks_through_take_ordered(built):
    """One query id: the top-k is a TakeOrderedAndProject, and the rank
    window over its output adds no exchange. Several: the per-query
    window, behind one more Exchange (on query_id) than the one-query
    plan has. These postings are hash-partitioned on doc_id, so their
    aggregation needs no exchange of its own."""
    postings, stats, n, avgdl, _ = built
    one = score_queries(postings, stats, n, avgdl, [("q3", "manhattan project")], topk=10)
    nodes = _executed_nodes(one)
    window = nodes.index("WindowExec")
    assert nodes[window + 1] == "TakeOrderedAndProjectExec", " ".join(nodes)
    assert nodes.count("ShuffleExchangeExec") == 0, " ".join(nodes)
    multi = score_queries(postings, stats, n, avgdl, REFERENCE_QUERIES[:3], topk=10)
    nodes = _executed_nodes(multi)
    assert "TakeOrderedAndProjectExec" not in nodes and "WindowExec" in nodes
    assert nodes.count("ShuffleExchangeExec") == 1, " ".join(nodes)
    plan = multi._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"Window \[row_number\(\) windowspecdefinition\(query_id", plan)


@pytest.mark.parametrize("mode", ["AND", "OR"])
def test_boolean_matches_oracle(built, mode):
    postings, *_ , oracle = built
    for _, query in REFERENCE_QUERIES[:7]:
        got = {r["doc_id"] for r in boolean_search(postings, query, mode=mode).collect()}
        assert got == oracle.boolean(query, mode=mode), (query, mode)


def test_sha256_invariant(spark, built):
    """Per-row invariant (input_hint): content sha256 survives the pipeline."""
    src = corpus_df(spark, n_docs=400, seed=42)
    src = assign_doc_ids(src, ["repo", "path"])
    a = src.select("doc_id", F.sha2("content", 256).alias("h"))
    # round-trip through the tokenized projection and back (same rows)
    b = with_tokens(src, "content").select("doc_id", F.sha2("content", 256).alias("h"))
    diff = (
        a.alias("a").join(b.alias("b"), "doc_id").filter(F.col("a.h") != F.col("b.h"))
    )
    assert diff.count() == 0


def test_bm25_expr_bit_identical(spark):
    """The single-string SQL score expression (driver-latency fix, round
    6) must be BIT-identical to the Column-tree formulation — same
    operator structure and association, so every float64 intermediate
    matches exactly."""
    import struct

    from web_search_engine_spark.functions.bm25 import (
        bm25_term_score_col,
        bm25_weighted_score_expr,
    )

    grid = spark.range(1, 1500).select(
        (F.col("id") % 37 + 1).cast("long").alias("tf"),
        (F.col("id") % 499 + 1).cast("long").alias("df"),
        (F.col("id") % 1000).cast("long").alias("dl"),
        (F.col("id") % 5 + 1).cast("long").alias("weight"),
    )
    n_docs, avgdl = 123457, 217.34567890123
    old = grid.withColumn(
        "s",
        F.col("weight")
        * bm25_term_score_col(
            F.col("tf"), F.col("df"), F.col("dl"), n_docs, avgdl, 1.2, 0.75
        ),
    ).orderBy("tf", "df", "dl", "weight")
    new = grid.withColumn(
        "s", F.expr(bm25_weighted_score_expr(n_docs, avgdl, 1.2, 0.75))
    ).orderBy("tf", "df", "dl", "weight")
    a = [r["s"] for r in old.collect()]
    b = [r["s"] for r in new.collect()]
    assert len(a) == len(b)
    for x, y in zip(a, b):
        assert struct.pack("<d", x) == struct.pack("<d", y)


def test_bm25_twin_bit_identical(spark):
    """The numpy twin of the SQL score expression (batch_score's driver
    route) must be BIT-identical to it on seeded random rows, its
    StrictMath log to Spark's ln on every kind of double, and
    round_score to F.round(x, 6) on values whose repr ends in 5 at the
    7th decimal, where Python's round() disagrees."""
    import math
    import struct

    import numpy as np
    import pandas as pd

    from web_search_engine_spark.functions.bm25 import (
        bm25_idf_strict,
        bm25_weighted_score_expr,
        bm25_weighted_scores,
        round_score,
        strict_log,
    )

    def bits(xs):
        return [struct.pack("<d", float(x)) for x in xs]

    rng = np.random.default_rng(20_240_601)
    n = 20_000
    n_docs, avgdl = 987_653, 71.3456789012345
    pdf = pd.DataFrame({
        "id": np.arange(n),
        "tf": rng.integers(1, 60, n),
        "df": rng.integers(1, n_docs + 1, n),
        "dl": rng.integers(1, 3000, n),
        "weight": rng.integers(1, 5, n),
    })
    got = spark.createDataFrame(pdf).withColumn(
        "s", F.expr(bm25_weighted_score_expr(n_docs, avgdl, 1.2, 0.75))
    ).orderBy("id")
    want = [r["s"] for r in got.select("s").collect()]
    idf = np.array([bm25_idf_strict(n_docs, d) for d in pdf["df"]])
    twin = bm25_weighted_scores(
        pdf["tf"].to_numpy(), pdf["dl"].to_numpy(), idf,
        pdf["weight"].to_numpy(), avgdl, 1.2, 0.75,
    )
    assert bits(twin) == bits(want)

    # ln over normal, subnormal, near-1 and huge doubles and inf (Spark's
    # ln of x <= 0 is null, not StrictMath.log's value)
    xs = np.concatenate([
        np.exp(rng.uniform(-700, 700, 4000)),
        1.0 + rng.uniform(-1e-5, 1e-5, 1000),
        rng.uniform(1.0, 3.0, 2000),
        [5e-324, 1e-310, 2.2250738585072014e-308, 1.0, 2.0, math.inf],
    ])
    lns = spark.createDataFrame(
        pd.DataFrame({"i": np.arange(len(xs)), "x": xs})
    ).selectExpr("i", "ln(x) AS y").orderBy("i").collect()
    assert bits(strict_log(x) for x in xs) == bits(r["y"] for r in lns)

    # rank-key rounding on adversarial values
    vals = [
        float(f"{a}.{b:06d}5")
        for a, b in zip(rng.integers(0, 60, 3000), rng.integers(0, 10**6, 3000))
    ]
    vals = [v for v in vals if repr(v).endswith("5") and len(repr(v).split(".")[1]) == 7]
    rounded = spark.createDataFrame(
        pd.DataFrame({"i": np.arange(len(vals)), "x": vals})
    ).select("i", F.round("x", 6).alias("r")).orderBy("i").collect()
    assert bits(round_score(v) for v in vals) == bits(r["r"] for r in rounded)
    assert sum(round(v, 6) != r["r"] for v, r in zip(vals, rounded)) > len(vals) // 10


def test_terms_in_expr_matches_isin(spark):
    """The one-RPC `col IN (...)` string must filter identically to
    Column.isin, including values needing escaping (quotes, backslashes,
    non-ASCII, LIKE metacharacters, tabs)."""
    from web_search_engine_spark.plans.query import _terms_in_expr

    nasty = [
        "o'brien", "back\\slash", "uniécode", "per%cent",
        "tab\tchar", 'quo"te', "plain", "semi;colon", "--dash",
    ]
    df = spark.createDataFrame([(t,) for t in nasty + ["absent", None]], "term string")
    sel = nasty
    got_isin = sorted(r["term"] for r in df.filter(F.col("term").isin(sel)).collect())
    got_expr = sorted(r["term"] for r in df.filter(_terms_in_expr("term", sel)).collect())
    assert got_isin == got_expr == sorted(nasty)
    # empty list == isin([]): a valid always-false filter, not a parse error
    assert df.filter(_terms_in_expr("term", [])).count() == 0
    # and the fast path must hold under the OTHER string-literal parser
    # mode too (quote/backslash terms take the isin fallback there)
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        got2 = sorted(
            r["term"] for r in df.filter(_terms_in_expr("term", sel)).collect()
        )
        assert got2 == sorted(nasty)
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")
