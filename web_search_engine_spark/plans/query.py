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
  1. driver-side lexicon probe — df for the <=dozens of distinct query
     terms (the reference does lex_map[t] lookups,
     HW2/engine/searcher.py:41-50). A lexicon that is a bare parquet
     table is read with pyarrow, with no Spark job; any other lexicon
     costs one tiny filtered scan. Never re-aggregate df from postings
     per query.
  2. query terms + their df ship as an Arrow LocalRelation broadcast
     (never a Python-RDD-backed DataFrame: a Scan ExistingRDD re-runs
     Python workers on every reuse of the subtree); a call with one
     query id carries them as literals keyed on the term instead, and
     broadcasts nothing. An empty answer is an empty Arrow
     LocalRelation, which collects with no job.
  3. one scan of postings filtered by `term IN (...)` (pushed down),
     one join to doc_stats (IndexCatalog.doc_stats() serves it cached),
     one hash agg (behind an Exchange on (query_id, doc_id) unless the
     postings are hash-partitioned on doc_id).
  4. top-k: a call with one query id is a global orderBy().limit(k)
     (TakeOrderedAndProject: per-partition heaps, a driver merge, no
     exchange), ranked by a window over its k rows; a call with several
     is a per-query window, behind an Exchange on query_id.
"""

from __future__ import annotations

import re
from collections import Counter
from urllib.parse import unquote, urlparse

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import BM25_B, BM25_K1, DEFAULT_TOPK
from ..functions.bm25 import bm25_weighted_score_expr
from ..functions.tokenizer import tokenize_query
from ..sources.catalog import _READ_ERRORS, read_dfs


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


def _parquet_files(df: DataFrame) -> list[str] | None:
    """The files of ``df`` when it is a bare parquet table (its analyzed
    plan is one LogicalRelation over parquet files, as
    ``spark.read.parquet(path)`` gives), else None."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if rel.getClass().getSimpleName() != "HadoopFsRelation":
        return None
    if rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat":
        return None
    return list(df.inputFiles())


def probe_lexicon(lexicon: DataFrame, terms: list[str]) -> dict[str, int]:
    """Driver-side df lookup for query terms: term -> df.

    A bare parquet lexicon (IndexCatalog.lexicon()) is read with pyarrow
    from the files the frame lists (its snapshot), term-filtered per row
    group: no Spark job. Any other frame (a derived lexicon such as
    lexicon_df(postings)), or a file pyarrow cannot read in this process
    (a non-local URI, a missing column), takes one Spark job with an
    IN-filter (partition-prunable at scale if the lexicon is
    term-bucketed); the result fits in hand either way.
    """
    if not terms:
        return {}
    terms = sorted(set(terms))
    files = _parquet_files(lexicon)
    if files:
        import pyarrow.dataset as pads

        paths = [unquote(urlparse(f).path) if f.startswith("file:") else f for f in files]
        try:
            return read_dfs(pads.dataset(paths, format="parquet"), terms)
        except _READ_ERRORS:
            pass
    rows = lexicon.filter(_terms_in_expr("term", terms)).collect()
    return {r["term"]: r["df"] for r in rows}


def _local_df(spark: SparkSession, pdf: pd.DataFrame, schema: str) -> DataFrame:
    """Arrow-backed LocalRelation (no Python workers on re-scan)."""
    return spark.createDataFrame(pdf, schema=schema)


_PER_DOC = pa.schema(
    [("query_id", pa.string()), ("doc_id", pa.int64()), ("score", pa.float64())]
)


def _empty(spark: SparkSession, schema: pa.Schema) -> DataFrame:
    """An empty Arrow-backed LocalRelation. Its collect runs no job, and
    the optimizer folds a window or top-k over it into another empty
    LocalRelation; ``spark.createDataFrame([], ddl)`` plans a Scan
    ExistingRDD instead, whose collect runs a job (two under the rank
    window)."""
    return spark.createDataFrame(schema.empty_table())


def _one_query_columns(rows: list[tuple]) -> list:
    """The qterms columns of a one-query call as expressions on the
    posting's term: the plan then has no qterms relation, whose
    broadcast costs a job per call. The weight and df of each term are
    BIGINT literals in a CASE on the term, so the BM25 expression reads
    the same values with the same types as from the broadcast. query_id
    stays nullable, as the broadcast column is, so one-query and
    multi-query calls return one schema. Only for terms that
    _PLAIN_TERM renders as SQL literals."""

    def by_term(values):
        whens = " ".join(f"WHEN '{t}' THEN {v}L" for t, v in values)
        return F.expr(f"CASE term {whens} END")

    qid, n_terms = rows[0][0], rows[0][4]
    return [
        F.when(F.col("term").isNotNull(), F.lit(qid)).alias("query_id"),
        by_term((t, w) for _, t, w, _, _ in rows).alias("weight"),
        by_term((t, df) for _, t, _, df, _ in rows).alias("df"),
        F.lit(n_terms).cast("long").alias("n_terms_present"),
    ]


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
    groupBy (hash(query_id) clusters its superset key) AND the
    per-query top-k window both satisfy from ONE exchange (2 -> 1; the
    decoded block path of batch_score). The default suits relational
    postings: hash-partitioned on doc_id (build_postings' output), the
    aggregation needs no exchange; otherwise (blocks_to_postings' rows)
    it takes its own Exchange on (query_id, doc_id), which spreads one
    query's docs over every shuffle partition, and a one-query call's
    top-k then adds no second exchange (plans/relational_topk/).
    """
    spark = postings.sparkSession

    weights: list[tuple[str, str, int]] = []
    all_terms: set[str] = set()
    for qid, q in queries:
        for term, w in Counter(tokenize_query(q)).items():
            weights.append((qid, term, w))
            all_terms.add(term)
    if not weights:
        return _empty(spark, _PER_DOC)

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
        return _empty(spark, _PER_DOC)
    n_present = Counter(qid for qid, _, _, _ in surviving)  # distinct surviving terms
    # n_terms_present rides along in the same broadcast (one job fewer
    # than a separate gate table — job count is the latency unit here).
    rows = [(qid, t, w, df, n_present[qid]) for qid, t, w, df in surviving]
    present_terms = sorted({t for _, t, _, _, _ in rows})
    term_rows = postings.filter(_terms_in_expr("term", present_terms))  # pushdown prune
    if len(n_present) == 1 and all(_PLAIN_TERM.match(t) for t in present_terms):
        term_rows = term_rows.select("doc_id", "tf", *_one_query_columns(rows))
    else:
        qterms = _local_df(
            spark,
            pd.DataFrame(
                rows, columns=["query_id", "term", "weight", "df", "n_terms_present"]
            ),
            "query_id string, term string, weight long, df long, n_terms_present long",
        )
        term_rows = term_rows.join(F.broadcast(qterms), "term")
    scored_terms = term_rows.join(doc_stats, "doc_id").withColumn(
        "term_score",
        F.expr(bm25_weighted_score_expr(n_docs, avgdl, k1, b)),
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

    A call with several query ids ranks with a per-query window, in
    parallel across queries; no global sort. A call with one query id
    takes a global ``orderBy(...).limit(topk)`` instead, which Spark
    runs as TakeOrderedAndProject (per-partition heaps, then a merge on
    the driver), and numbers its rows with a window that needs no
    exchange: TakeOrderedAndProject's output is a single partition.

    Ranks on the 6-decimal ROUNDED score (tie doc_id asc) — the same
    determinism contract every driver-gated query pins ("ranked on the
    rounded value so the float hash-compare is deterministic"): floating
    sums associate differently between physical plans (relational cache
    vs decoded blocks, partial-agg partition order), so ranking on the
    raw double makes top-k membership at a tie boundary path-dependent
    — at 250k docs the relational and block paths genuinely returned
    the same rounded scores with different rank<->doc assignments. The
    returned ``score`` column stays raw. ``pre_cluster_by_query`` (see
    score_per_doc) holds only with several query ids: one would hash
    every scored row into one partition.
    """
    one_query = len({qid for qid, _ in queries}) == 1
    per_doc = score_per_doc(
        postings, doc_stats, n_docs, avgdl, queries, mode, k1, b, lexicon,
        term_dfs=term_dfs,
        pre_cluster_by_query=pre_cluster_by_query and not one_query,
    )
    order = [F.desc(F.round("score", 6)), F.asc("doc_id")]
    if one_query:
        per_doc = per_doc.orderBy(*order).limit(topk)
        w = Window.orderBy(*order)
    else:
        w = Window.partitionBy("query_id").orderBy(*order)
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
        return _empty(spark, pa.schema([("doc_id", pa.int64())]))
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
