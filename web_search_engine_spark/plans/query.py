"""Query paths over the relational postings (term, doc_id, tf).

Replaces the reference's Searcher/Ranker/DAAT machinery
(HW2/engine/searcher.py, ranker.py, daat_ranker.py) with declarative
plans. Semantics pinned (SURVEY.md §2.7):

  - query tokenizer = lower().split() (NOT the corpus regex);
  - query terms absent from the lexicon are dropped BEFORE AND-gating;
  - duplicate query terms score multiple times (reference iterates the
    raw token list) -> weight = multiplicity;
  - AND and OR produce identical per-doc scores; mode only filters
    eligibility (doc must match all distinct surviving terms);
  - N and avgdl include zero-length docs; dl=0 docs are never scored
    (they have no postings);
  - top-k tie policy: score desc, doc_id asc.

Physical design (what the reference's lexicon-dict probe becomes):
  1. driver-side lexicon probe — one tiny filtered scan collects df for
     the <=dozens of distinct query terms (the reference does lex_map[t]
     lookups, HW2/engine/searcher.py:41-50). Never re-aggregate df from
     postings per query.
  2. query terms + their df ship as an Arrow LocalRelation broadcast
     (never a Python-RDD-backed DataFrame: a Scan ExistingRDD re-runs
     Python workers on every reuse of the subtree).
  3. one scan of postings filtered by `term IN (...)` (pushed down),
     one join to doc_stats, one hash agg, one per-query window top-k.
"""

from __future__ import annotations

import math
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import BM25_B, BM25_K1, DEFAULT_TOPK
from ..functions.bm25 import bm25_weighted_score_expr
from ..functions.tokenizer import tokenize_query


# terms whose literal form is identical under BOTH parser modes
# (spark.sql.parser.escapedStringLiterals on or off): anything without
# quotes, backslashes, or control characters needs no escaping at all.
_PLAIN_TERM = re.compile(r"^[^'\\\x00-\x1f]*$")


def _terms_in_expr(col: str, terms: list[str]):
    """``col IN ('a','b',...)`` as ONE parsed expression.

    Equivalent to ``F.col(col).isin(terms)`` (same Catalyst In node,
    same parquet pushdown — differentially tested incl. quotes,
    backslashes and non-ASCII) but a single py4j round-trip instead of
    one literal-construction RPC per term (~19 ms per isin call at a
    14-term query batch). Only terms that render identically under
    both string-literal parser modes take the fast path; a term
    containing a quote/backslash/control char (whose escaping would
    depend on spark.sql.parser.escapedStringLiterals) falls back to
    isin, and an empty list is the always-false filter isin([]) means.
    """
    if not terms:
        return F.lit(False)
    if all(_PLAIN_TERM.match(t) for t in terms):
        lits = ",".join(f"'{t}'" for t in terms)
        return F.expr(f"{col} IN ({lits})")
    return F.col(col).isin(list(terms))


def probe_lexicon(lexicon: DataFrame, terms: list[str]) -> dict[str, int]:
    """Driver-side df lookup for query terms: term -> df.

    One job over the lexicon table with an IN-filter (partition-prunable
    at scale if the lexicon is term-bucketed); result fits in hand.
    """
    if not terms:
        return {}
    rows = lexicon.filter(_terms_in_expr("term", sorted(set(terms)))).collect()
    return {r["term"]: r["df"] for r in rows}


def _local_df(spark: SparkSession, pdf: pd.DataFrame, schema: str) -> DataFrame:
    """Arrow-backed LocalRelation (no Python workers on re-scan)."""
    return spark.createDataFrame(pdf, schema=schema)


def score_per_doc(
    postings: DataFrame,
    doc_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    queries: list[tuple[str, str]],
    mode: str = "OR",
    k1: float = BM25_K1,
    b: float = BM25_B,
    lexicon: DataFrame | None = None,
    term_dfs: dict[str, int] | None = None,
    pre_cluster_by_query: bool = False,
) -> DataFrame:
    """Un-ranked per-doc BM25 -> (query_id, doc_id, score).

    ``lexicon`` (term, df) is probed driver-side; when None, df for the
    query terms is computed once from postings (still a single tiny job).
    ``term_dfs`` supplies the same {term: df} mapping directly (only
    PRESENT terms) and skips the probe job — used by batch_score, whose
    lexicon is an on-disk parquet table the driver can read without a
    Spark job. ``pre_cluster_by_query=True`` repartitions the scored
    term rows by query_id BEFORE the aggregation, so the per-doc
    groupBy (hash(query_id) clusters its superset key) AND the top-k
    window both satisfy from ONE exchange — right when the input has no
    reusable partitioning (the decoded block path: 2 exchanges -> 1);
    wrong for the doc_id-clustered relational cache, whose aggregation
    is already exchange-free (keep the default there).
    """
    spark = postings.sparkSession

    weights: list[tuple[str, str, int]] = []
    all_terms: set[str] = set()
    for qid, q in queries:
        for term, w in Counter(tokenize_query(q)).items():
            weights.append((qid, term, w))
            all_terms.add(term)
    if not weights:
        return spark.createDataFrame([], "query_id string, doc_id long, score double")

    if term_dfs is not None:
        dfs = term_dfs
    elif lexicon is not None:
        dfs = probe_lexicon(lexicon, sorted(all_terms))
    else:
        dfs = {
            r["term"]: r["df"]
            for r in postings.filter(_terms_in_expr("term", sorted(all_terms)))
            .groupBy("term")
            .agg(F.count("*").alias("df"))
            .collect()
        }

    surviving = [(qid, term, w, int(dfs[term])) for qid, term, w in weights if term in dfs]
    if not surviving:
        return spark.createDataFrame([], "query_id string, doc_id long, score double")
    n_present = Counter(qid for qid, _, _, _ in surviving)  # distinct surviving terms
    # n_terms_present rides along in the same broadcast (one job fewer
    # than a separate gate table — job count is the latency unit here).
    rows = [(qid, t, w, df, n_present[qid]) for qid, t, w, df in surviving]

    qterms = _local_df(
        spark,
        pd.DataFrame(
            rows, columns=["query_id", "term", "weight", "df", "n_terms_present"]
        ),
        "query_id string, term string, weight long, df long, n_terms_present long",
    )
    present_terms = sorted({t for _, t, _, _, _ in rows})

    scored_terms = (
        postings.filter(_terms_in_expr("term", present_terms))  # pushdown prune
        .join(F.broadcast(qterms), "term")
        .join(doc_stats, "doc_id")
        .withColumn(
            "term_score",
            F.expr(bm25_weighted_score_expr(n_docs, avgdl, k1, b)),
        )
    )
    if pre_cluster_by_query:
        scored_terms = scored_terms.repartition(F.col("query_id"))
    per_doc = scored_terms.groupBy("query_id", "doc_id").agg(
        F.sum("term_score").alias("score"),
        F.count("*").cast("long").alias("n_matched"),
        F.first("n_terms_present").alias("n_terms_present"),
    )
    if mode.upper() == "AND":
        per_doc = per_doc.filter(F.col("n_matched") == F.col("n_terms_present"))
    return per_doc.select("query_id", "doc_id", "score")


_SCORE_QUANTUM = Decimal("1e-6")


def round_score(x: float) -> float:
    """Spark's ``round(x, 6)`` of a double, in Python, bit for bit: the
    batch rank key. Spark rounds BigDecimal.valueOf(x) — the decimal
    string Double.toString gives, the shortest one that reads back as x,
    which is Python's repr — HALF_UP to 6 places. Python's round() is a
    different function: it rounds the exact binary value half-even, and
    so differs from F.round on values whose repr ends in 5 at the 7th
    decimal."""
    x = float(x)
    if not math.isfinite(x):
        return x
    return float(Decimal(repr(x)).quantize(_SCORE_QUANTUM, ROUND_HALF_UP))


def score_queries(
    postings: DataFrame,
    doc_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    queries: list[tuple[str, str]],
    mode: str = "OR",
    topk: int = DEFAULT_TOPK,
    k1: float = BM25_K1,
    b: float = BM25_B,
    lexicon: DataFrame | None = None,
    term_dfs: dict[str, int] | None = None,
    pre_cluster_by_query: bool = False,
) -> DataFrame:
    """Batch BM25 top-k: -> (query_id, rank, doc_id, score).

    Per-query window top-k — parallel across queries; no global sort.

    Ranks on the 6-decimal ROUNDED score (tie doc_id asc) — the same
    determinism contract every driver-gated query pins ("ranked on the
    rounded value so the float hash-compare is deterministic"): floating
    sums associate differently between physical plans (relational cache
    vs decoded blocks, partial-agg partition order), so ranking on the
    raw double makes top-k membership at a tie boundary path-dependent
    — at 250k docs the relational and block paths genuinely returned
    the same rounded scores with different rank<->doc assignments. The
    returned ``score`` column stays raw.
    """
    per_doc = score_per_doc(
        postings, doc_stats, n_docs, avgdl, queries, mode, k1, b, lexicon,
        term_dfs=term_dfs, pre_cluster_by_query=pre_cluster_by_query,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("score", 6)), F.asc("doc_id")
    )
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "rank", "doc_id", "score")
    )


def boolean_search(postings: DataFrame, query: str, mode: str = "AND") -> DataFrame:
    """Unranked Boolean retrieval -> (doc_id) set.

    AND = n-ary intersection via groupBy + HAVING count(distinct term) =
    |surviving terms| (HW2/engine/searcher.py:74-81 does set
    intersection/union after full postings decode).
    """
    spark = postings.sparkSession
    terms = sorted(set(tokenize_query(query)))
    if not terms:
        return spark.createDataFrame([], "doc_id long")
    hits = postings.filter(_terms_in_expr("term", terms)).select("term", "doc_id").distinct()
    if mode.upper() == "OR":
        return hits.select("doc_id").distinct()
    # AND gate: |distinct PRESENT terms| via a driver-side probe (the
    # probe_lexicon pattern; absent query terms are dropped before
    # gating, searcher.py:74-81 semantics). The earlier in-plan
    # broadcast-scalar gate cost the same one extra job to BUILD the
    # broadcast, plus a crossJoin and a duplicated distinct subtree —
    # measured 0.36 -> 0.27 s at sf0.1 for the literal gate. Like the
    # lexicon probe in score_per_doc, the count is captured at
    # CONSTRUCTION time: the returned plan answers against the postings
    # as of this call, not as of a later execution.
    n_present = (
        postings.filter(_terms_in_expr("term", terms))
        .select("term")
        .distinct()
        .count()
    )
    return (
        hits.groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") == F.lit(n_present))
        .select("doc_id")
    )
