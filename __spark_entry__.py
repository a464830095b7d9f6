"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an implemented operator from SURVEY.md §2
run over the driver-provided ``documents`` table; ``oracle_sql()`` holds
the equivalent DuckDB SQL. Both sides tokenize with the reference regex
(HW2/engine/parser.py:78) and score BM25 with the reference formulas
(HW2/engine/daat_ranker.py:35-44, k1=1.2 b=0.75). Scores are rounded to
6 decimals on BOTH sides and ranked on the rounded value (tie-break
doc_id asc) so the float hash-compare is deterministic.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from web_search_engine_spark.config import TOKEN_RE
from web_search_engine_spark.operators import dedup as _dedup
from web_search_engine_spark.operators import multimodal as _mm
from web_search_engine_spark.operators import similarity as _sim
from web_search_engine_spark.operators import textstats as _ts
from web_search_engine_spark.operators.blocks import (
    blocks_to_postings,
    build_block_index,
    lexicon_from_blocks,
)
from web_search_engine_spark.operators.postings import (
    build_postings,
    corpus_stats,
    doc_stats,
    lexicon_df,
    with_tokens,
)
from web_search_engine_spark.plans.query import boolean_search, score_per_doc

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# Fixed query set over the documents-table vocabulary (mirrors the
# reference's fixed 7-query set pattern, HW2/engine/searcher.py:254-262).
Q_OR = "hash join"
Q_AND = "merge sort"
Q_SINGLE = "spark"
Q_DUP = "the the data"  # duplicate query terms double-count (ranker.py:63)
Q_BOOL_AND = "window agg stream"
Q_BOOL_OR = "vector stream"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # JVM regexp tokenizer: documents.text is entity-free, and the DuckDB
    # oracle runs the identical regex — see functions/tokenizer.py.
    return with_tokens(_docs(spark, sf_dir), "text", method="sql")


def _postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_postings(_tokens(spark, sf_dir))


def _bm25_topk(spark: SparkSession, sf_dir: str, query: str, mode: str) -> DataFrame:
    toks = _tokens(spark, sf_dir)
    postings = build_postings(toks)
    stats = doc_stats(toks)
    n, avgdl = corpus_stats(stats)
    per = score_per_doc(postings, stats, n, avgdl, [("q", query)], mode=mode)
    per = per.withColumn("score", F.round("score", 6))
    # Global top-k = orderBy().limit(k) -> TakeOrderedAndProject (per-
    # partition heaps + driver merge); the rank window runs over the 10
    # survivors only — never a single-partition window over all docs.
    top = per.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", "score"
    )


def _block_index(spark: SparkSession, sf_dir: str):
    # shard_size=100 -> multiple doc-range shards at sf0.01 (500 docs):
    # exercises per-shard gap-chain restarts (base_docid) and the
    # blocked chunking (block_size=128) under the hard gate.
    return build_block_index(_postings(spark, sf_dir), shard_size=100)


@contextmanager
def _gate_index(spark: SparkSession, sf_dir: str) -> Iterator[str]:
    """Build a blocked on-disk index of documents.text (resumable build
    plan) in a temp dir, yield its path, remove it on exit."""
    import shutil
    import tempfile

    from web_search_engine_spark.plans.build_index import build_index

    tmp = tempfile.mkdtemp(prefix="gate_index_")
    try:
        # rank over the dense existing doc_id is the identity mapping
        src = _docs(spark, sf_dir).select(F.col("doc_id").alias("orig_id"), "text")
        build_index(
            spark, src, tmp,
            key_cols=("orig_id",), text_col="text",
            tokenizer="sql", num_shards=4,
        )
        yield tmp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _top10_frame(spark: SparkSession, hits: list[tuple[int, float]]) -> DataFrame:
    """(doc_id, score) hits -> local (rank, doc_id, score) top-10,
    re-ranked on the ROUNDED score (tie doc_id asc) so the boundary
    policy matches the oracle exactly."""
    import pandas as pd

    rows = sorted(((round(s, 6), d) for d, s in hits), key=lambda r: (-r[0], r[1]))
    pdf = pd.DataFrame(
        [(i + 1, d, s) for i, (s, d) in enumerate(rows[:10])],
        columns=["rank", "doc_id", "score"],
    )
    return spark.createDataFrame(pdf, "rank int, doc_id long, score double")


def _wand_gate(spark: SparkSession, sf_dir: str, query: str, mode: str) -> DataFrame:
    """Full physical path under the gate: build a blocked on-disk index,
    serve the query through SearchEngine's pruned kernels (bmw_block,
    the vectorized block-max WAND, for OR; vec_and, the searchsorted
    intersection, for AND), return (rank, doc_id, score).

    Mirrors the reference's merged-vs-direct differential
    (HW2/engine/testrun.py:80-104): the oracle is the same relational
    BM25 SQL the non-physical bm25_* rows use — so varbyte codec, block
    directory seeks, and the pruned kernels are all on the hash-compared
    path.
    """
    from web_search_engine_spark.plans.search import SearchEngine

    with _gate_index(spark, sf_dir) as tmp:
        eng = SearchEngine(tmp)
        # force the PRUNED kernels (not the small-index TAAT shortcut):
        # the gate must cover the block-max and intersection machinery
        import web_search_engine_spark.operators.wand as W

        saved = W.TAAT_MAX_POSTINGS
        W.TAAT_MAX_POSTINGS = 0
        try:
            # fetch extra, then re-rank on the rounded score
            hits = eng.search(query, mode=mode, topk=50, use_wand=True)
        finally:
            W.TAAT_MAX_POSTINGS = saved
    return _top10_frame(spark, hits)


def _batch_score_gate(spark: SparkSession, sf_dir: str, query: str, mode: str) -> DataFrame:
    """The block-table read path under the gate: batch_score over the
    same on-disk index, hash-compared to the relational BM25 SQL. A
    one-query call at this scale takes the driver route (numpy decode,
    score and rounded-score top-k)."""
    from web_search_engine_spark.plans.search import batch_score
    from web_search_engine_spark.sources.catalog import IndexCatalog

    with _gate_index(spark, sf_dir) as tmp:
        top = batch_score(IndexCatalog(spark, tmp), [("q", query)], mode, 10).collect()
    return _top10_frame(spark, [(r.doc_id, r.score) for r in top])


def _batch_score_spark_gate(spark: SparkSession, sf_dir: str, query: str, mode: str) -> DataFrame:
    """_batch_score_gate with the driver route off, so batch_score's
    Spark route — the Python decode stage (blocks_to_postings) and the
    query_id top-k — stays gated."""
    import web_search_engine_spark.plans.search as S

    saved = S.DRIVER_MAX_POSTINGS
    S.DRIVER_MAX_POSTINGS = -1
    try:
        return _batch_score_gate(spark, sf_dir, query, mode)
    finally:
        S.DRIVER_MAX_POSTINGS = saved


def _subset_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 subset extractor under the hard gate (plans/search.
    extract_subset, reference extract_subset.py:15-32): write the
    first-100-by-doc_id documents to a parquet subset, read the subset
    back, and compare its (doc_id, text_len) rows — the written-and-
    re-read artifact, not the plan, is what the gate verifies. The
    orderBy makes "first N" deterministic (TakeOrderedAndProject);
    the reference's notion is "first N lines of the corpus file"."""
    import shutil
    import tempfile

    from web_search_engine_spark.plans.search import extract_subset

    tmp = tempfile.mkdtemp(prefix="subset_gate_")
    try:
        extract_subset(_docs(spark, sf_dir).orderBy("doc_id"), tmp, 100)
        pdf = (
            spark.read.parquet(tmp)
            .select(
                "doc_id", F.length("text").cast("long").alias("text_len")
            )
            .toPandas()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # re-create from pandas: the files backing the lazy plan are gone
    # once the temp dir is removed (same pattern as _build_index_gate)
    return spark.createDataFrame(pdf, "doc_id long, text_len long")


def _fuzzy_dedup_reindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH pairs -> clusters -> keeper filter -> re-index: corpus-level
    index stats of the deduplicated corpus, one row."""
    kept = _dedup.fuzzy_dedup_corpus(_docs(spark, sf_dir))
    toks = with_tokens(kept, "text", method="sql")
    stats = doc_stats(toks).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("dl"), 6).alias("avgdl"),
    )
    pstats = build_postings(toks).agg(
        F.count("*").cast("long").alias("n_postings"),
        F.countDistinct("term").cast("long").alias("n_terms"),
    )
    return stats.crossJoin(pstats)


def _wand_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _wand_gate(spark, sf_dir, Q_OR, "OR")


def _wand_top10_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _wand_gate(spark, sf_dir, Q_AND, "AND")


def _run_stream_gate(spark: SparkSession, which: str) -> DataFrame:
    """Run a REAL Structured-Streaming availableNow pipeline over the
    deterministic synthesized events and return its finalized output as
    a local DataFrame (collected before the tmpdir is removed).

    which='windows': watermarked tumbling-window counts — append mode
    emits exactly the windows whose end precedes the final watermark
    (max event ts - 2 h; the event-time jitter keeps that watermark
    149-1485 s away from any hour boundary, so the emitted set is
    boundary-unambiguous and SQL-reproducible).
    which='sessions': applyInPandasWithState gap-sessionization — the
    availableNow run emits every gap-CLOSED session; each user's final
    session stays in state (the oracle drops each user's last session).
    """
    import shutil
    import tempfile

    import pandas as pd

    from web_search_engine_spark.streaming.windows import (
        sessionize_stream,
        stream_windowed_counts,
        synthesize_events,
    )

    saved_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = tempfile.mkdtemp(prefix=f"stream_gate_{which}_")
    try:
        src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"
        synthesize_events(spark, 400).coalesce(2).write.parquet(src)
        if which == "windows":
            stream_windowed_counts(
                spark, src, out, ckpt, window="1 hour", watermark="2 hours"
            )
            rows = spark.read.parquet(out).collect()
            pdf = pd.DataFrame(
                [
                    (int(r["win_start"]), r["event_type"], int(r["n_events"]),
                     float(r["sum_value"]))
                    for r in rows
                ],
                columns=["win_start", "event_type", "n_events", "sum_value"],
            )
            return spark.createDataFrame(
                pdf, "win_start long, event_type string, n_events long, sum_value double"
            )
        sessionize_stream(spark, src, out, ckpt, gap_seconds=1800)
        got = spark.read.parquet(out).select(
            "user_id",
            F.unix_timestamp("session_start").alias("session_start"),
            F.unix_timestamp("session_end").alias("session_end"),
            "n_events",
            F.round("sum_value", 6).alias("sum_value"),
        )
        rows = got.collect()
        pdf = pd.DataFrame(
            [tuple(r) for r in rows],
            columns=["user_id", "session_start", "session_end", "n_events",
                     "sum_value"],
        )
        return spark.createDataFrame(
            pdf,
            "user_id long, session_start long, session_end long, "
            "n_events long, sum_value double",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.conf.set("spark.sql.session.timeZone", saved_tz)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 for the OR query on sf0.001."""
    return _bm25_topk(spark, DEFAULT_SF_DIR, Q_OR, "OR")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # A1: tf counting (explode + groupBy)
        "tf_postings": lambda spark, sf: _postings(spark, sf).select(
            "term", "doc_id", "tf"
        ),
        # A3: document frequency (exact)
        "lexicon": lambda spark, sf: lexicon_df(_postings(spark, sf)),
        # A2: doc length (zero-length docs kept)
        "doc_stats": lambda spark, sf: doc_stats(_tokens(spark, sf)),
        # A4: corpus stats N, avgdl
        "corpus_stats": lambda spark, sf: doc_stats(_tokens(spark, sf)).agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg("dl"), 6).alias("avgdl"),
        ),
        # A6: doc length rebuilt from postings (dl = sum tf)
        "doc_len_from_postings": lambda spark, sf: _postings(spark, sf)
        .groupBy("doc_id")
        .agg(F.sum("tf").cast("long").alias("dl")),
        # P7/P8/A7/O6: BM25 top-k, OR and AND modes, single + duplicate terms
        "bm25_top10_or": lambda spark, sf: _bm25_topk(spark, sf, Q_OR, "OR"),
        "bm25_top10_and": lambda spark, sf: _bm25_topk(spark, sf, Q_AND, "AND"),
        "bm25_single_term": lambda spark, sf: _bm25_topk(spark, sf, Q_SINGLE, "OR"),
        "bm25_dup_terms": lambda spark, sf: _bm25_topk(spark, sf, Q_DUP, "OR"),
        # J1/J2: boolean set retrieval
        "boolean_and": lambda spark, sf: boolean_search(
            _postings(spark, sf), Q_BOOL_AND, "AND"
        ),
        "boolean_or": lambda spark, sf: boolean_search(
            _postings(spark, sf), Q_BOOL_OR, "OR"
        ),
        # S6/S7/P9/P10: physical block index — encode (varbyte + delta
        # gaps, sharded) then decode must be the identity on postings
        "block_roundtrip": lambda spark, sf: blocks_to_postings(
            _block_index(spark, sf)
        ),
        # S8/O5: lexicon derived from block rows (df, chunk count, max_tf)
        "block_meta": lambda spark, sf: lexicon_from_blocks(_block_index(spark, sf)),
        # S11: first-N corpus subset written to parquet and read back
        "subset_extract": _subset_extract,
        # the build as users run it: default build_index, written blocks
        # decoded back to postings — same oracle as tf_postings
        "build_index_postings": _build_index_gate,
        # J3/J5/O6: on-disk index + block-max WAND serving path
        "wand_top10": _wand_top10,
        # J3/A8: same physical path, AND mode (galloping intersection
        # with sorted-term summation — the pinned-order invariant)
        "wand_top10_and": _wand_top10_and,
        # block-table read path: batch_score's driver route decodes,
        # scores and ranks the on-disk blocks in numpy...
        "batch_score_top10_or": lambda spark, sf: _batch_score_gate(
            spark, sf, Q_OR, "OR"
        ),
        # ...and its Spark route decodes them in a Python stage, then
        # scores and ranks per query_id
        "batch_score_top10_or_spark": lambda spark, sf: _batch_score_spark_gate(
            spark, sf, Q_OR, "OR"
        ),
        # ---- training-data pipeline operators (beyond the reference) ----
        # dedup: exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding
        "exact_dups": lambda spark, sf: _dedup.exact_duplicates(_docs(spark, sf)),
        "minhash_sigs": lambda spark, sf: _dedup.minhash_signatures(_docs(spark, sf)),
        "lsh_pairs": lambda spark, sf: _dedup.minhash_lsh_pairs(_docs(spark, sf)),
        "simhash": lambda spark, sf: _dedup.simhash(_docs(spark, sf)),
        "simhash_pairs": lambda spark, sf: _dedup.simhash_near_pairs(_docs(spark, sf)),
        # id_limit=300 yields 7 matching pairs at sf0.01 — a non-vacuous
        # check (id_limit=100 matched nothing: 0 rows == 0 rows)
        "ngram_pairs": lambda spark, sf: _dedup.ngram_jaccard_pairs(
            _docs(spark, sf), id_limit=300
        ),
        "emb_near_dup": lambda spark, sf: _dedup.embedding_near_dup_pairs(
            _emb(spark, sf), threshold=0.35
        ),
        # bucketed LSH near-dup pairs: the 100-TB-scale path (candidates
        # form only inside shared hyperplane-sign buckets)
        "emb_lsh_pairs": lambda spark, sf: _sim.ann_lsh_bucketed(
            _emb(spark, sf), threshold=0.35
        ),
        # similarity search: exact brute-force; LSH variant is rows-only
        "cosine_topk": lambda spark, sf: _sim.cosine_topk(_emb(spark, sf), 0, 10),
        "cosine_topk_batch": lambda spark, sf: _sim.cosine_topk_batch(
            _emb(spark, sf), [0, 1, 2, 3], 10
        ),
        "ann_lsh_topk": lambda spark, sf: _sim.ann_lsh_topk(
            _emb(spark, sf), [0, 1, 2, 3], 10
        ),
        # IVF ANN gated at nprobe = nlist (probing every inverted list
        # IS brute force — the SQL-expressible equivalence; recall at
        # nprobe < nlist is pytest-asserted on planted clusters)
        "ivf_topk": lambda spark, sf: _sim.ivf_topk(
            _emb(spark, sf), [0, 1, 2, 3], 10, nlist=8, nprobe=8
        ),
        # the MATERIALIZED IVF index (build_ivf -> list_id-partitioned
        # files -> path-pruned probe scan), same brute-force equivalence
        "ivf_probe_topk": _ivf_probe_gate,
        # near-dup pairs folded into clusters: min-label propagation +
        # pointer jumping, verified against a DuckDB recursive CTE
        "near_dup_clusters": lambda spark, sf: _dedup.near_dup_clusters(
            _emb(spark, sf), threshold=0.35
        ),
        # END-TO-END fuzzy dedup (VERDICT r4 #7): LSH verified pairs ->
        # connected components -> canonical min-id keeper per cluster
        "fuzzy_dedup_clusters": lambda spark, sf: _dedup.fuzzy_dedup_clusters(
            _docs(spark, sf)
        ),
        # ... -> filtered corpus -> RE-INDEX: the keeper corpus runs the
        # normal tokenize/postings pipeline and the row verifies its
        # corpus-level index stats end-to-end (operators compose)
        "fuzzy_dedup_reindex": _fuzzy_dedup_reindex,
        # text analysis
        "lang_id": lambda spark, sf: _ts.language_id(_docs(spark, sf)),
        "quality": lambda spark, sf: _ts.quality_score(_docs(spark, sf)),
        "token_counts": lambda spark, sf: _ts.token_counts(_docs(spark, sf)),
        "fingerprint": lambda spark, sf: _ts.doc_fingerprint(_docs(spark, sf)),
        # multimodal plumbing (binary payloads; deterministic fake decode).
        # feature array<float> -> canonical integer-csv key: feat[j] =
        # (h[j]+h[j+8])/510 in float32, so round(x*510) recovers the
        # exact byte sum (float32 rel error ~6e-8 << 0.5/510) — hashable
        # for the driver's canonicalizer AND reproducible in DuckDB.
        "media_features": lambda spark, sf: _mm.extract_media_features(
            _mm.synthesize_media(spark, 200)
        ).select(
            "media_id", "kind", "width", "height", "n_frames",
            F.concat_ws(
                ",",
                F.transform(
                    "feature",
                    lambda x: F.round(x * 510).cast("int").cast("string"),
                ),
            ).alias("feature_key"),
            "decoder",
        ),
        "media_frame_sample": lambda spark, sf: _mm.sample_frames(
            _mm.extract_media_features(_mm.synthesize_media(spark, 200))
        ),
        # streaming operators under the hard gate (VERDICT r2 #6): real
        # availableNow runs over md5-deterministic synthesized events
        "stream_windowed_counts": lambda spark, sf: _run_stream_gate(
            spark, "windows"
        ),
        "stream_sessions": lambda spark, sf: _run_stream_gate(spark, "sessions"),
    }


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _build_index_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-gate the default build_index (pandas tokenizer, 4 shards):
    the entire index builds into a temp dir, the written blocks decode
    back to (term, doc_id, tf) and hash-compare against the SAME tf
    oracle as tf_postings — tokenizer, postings aggregation, salted
    blocks exchange, codec and sharding all sit on the compared path."""
    import shutil
    import tempfile

    from web_search_engine_spark.plans.build_index import build_index

    tmp = tempfile.mkdtemp(prefix="build_gate_")
    try:
        # dense rank over the existing dense doc_id = identity map
        src = _docs(spark, sf_dir).select(F.col("doc_id").alias("orig_id"), "text")
        build_index(
            spark, src, tmp, key_cols=("orig_id",), text_col="text", num_shards=4
        )
        pdf = blocks_to_postings(spark.read.parquet(f"{tmp}/blocks")).toPandas()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # re-create from pandas: the files backing the lazy plan are gone
    # once the temp dir is removed
    return spark.createDataFrame(pdf, "term string, doc_id long, tf long")


def _ivf_probe_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized IVF serving path under the hard gate: build_ivf
    persists (vec_id, embedding) partitioned by list_id + the centroid
    table; ivf_probe_topk reads ONLY the probed lists' directories. At
    nprobe = nlist every list is probed == exact brute force (same
    oracle as ivf_topk); file-level pruning at nprobe < nlist is
    pytest-asserted via inputFiles()."""
    import shutil
    import tempfile

    from web_search_engine_spark.operators.similarity import (
        build_ivf,
        ivf_probe_topk,
    )

    tmp = tempfile.mkdtemp(prefix="ivf_gate_")
    try:
        build_ivf(_emb(spark, sf_dir), tmp, nlist=8)
        pdf = ivf_probe_topk(spark, tmp, [0, 1, 2, 3], 10, nprobe=8).toPandas()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # re-create from pandas: the index files backing the lazy plan are
    # gone once the temp dir is removed
    return spark.createDataFrame(
        pdf, "query_id long, rank int, vec_id long, cosine double"
    )


# ---------------------------------------------------------------- oracle SQL

_CTES = f"""
tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term
  FROM documents
),
dl AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '{TOKEN_RE}'))::BIGINT AS dl
  FROM documents
),
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl)
"""


def _values_clause(query: str) -> str:
    from collections import Counter

    counts = Counter(query.lower().split())
    vals = ", ".join(f"('{t}', {w})" for t, w in counts.items())
    return vals


def _bm25_sql(query: str, mode: str) -> str:
    vals = _values_clause(query)
    and_filter = (
        "WHERE s.n_matched = (SELECT count(*) FROM present)"
        if mode.upper() == "AND"
        else ""
    )
    return f"""
WITH {_CTES},
qterms(term, weight) AS (VALUES {vals}),
present AS (
  SELECT q.term, q.weight, d.df FROM qterms q JOIN dft d USING (term)
),
scored AS (
  SELECT tf.doc_id,
         sum(p.weight
             * ln((st.n_docs - p.df + 0.5) / (p.df + 0.5) + 1.0)
             * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))
            ) AS score,
         count(*) AS n_matched
  FROM tf
  JOIN present p USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats st
  WHERE dl.dl > 0
  GROUP BY tf.doc_id
)
SELECT row_number() OVER (ORDER BY round(s.score, 6) DESC, s.doc_id ASC) AS rank,
       s.doc_id,
       round(s.score, 6) AS score
FROM scored s
{and_filter}
ORDER BY rank
LIMIT 10
"""


def _boolean_sql(query: str, mode: str) -> str:
    terms = sorted(set(query.lower().split()))
    in_list = ", ".join(f"'{t}'" for t in terms)
    if mode.upper() == "OR":
        return f"""
WITH {_CTES}
SELECT DISTINCT doc_id FROM tf WHERE term IN ({in_list})
"""
    return f"""
WITH {_CTES},
present AS (SELECT DISTINCT term FROM dft WHERE term IN ({in_list}))
SELECT doc_id
FROM tf
WHERE term IN ({in_list})
GROUP BY doc_id
HAVING count(DISTINCT term) = (SELECT count(*) FROM present)
"""


_TOKS = f"regexp_extract_all(lower(text), '{TOKEN_RE}')"
_SHINGLES = f"""
sh AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, len(t) - 1),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
  FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
  WHERE len(t) >= 3
)
"""
_SIGS = f"""
{_SHINGLES},
sigs AS (
  SELECT doc_id, perm,
         list_aggregate(list_transform(shingles, s -> md5(perm::VARCHAR || ':' || s)), 'min') AS minhash
  FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS perm)
)
"""
_JACCARD = (
    "round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE"
    " / (len(sa.shingles) + len(sb.shingles)"
    " - len(list_intersect(sa.shingles, sb.shingles))), 6)"
)
# banded LSH: 2-row band hashes -> candidate pairs -> exact-Jaccard
# verify at >= 0.5 — ONE definition, formatted into both the lsh_pairs
# oracle (prefix "") and the fuzzy-dedup closure (prefix "f"), so the
# two gates can never drift onto different pair semantics
_LSH_VERIFIED_PAIRS = """
{p}bands AS (
  SELECT doc_id, (perm // 2)::INT AS band,
         md5(string_agg(minhash, '|' ORDER BY minhash)) AS bh
  FROM sigs GROUP BY doc_id, (perm // 2)::INT
),
{p}cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM {p}bands x JOIN {p}bands y
    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
),
{p}pairs AS (
  SELECT a, b, {jaccard} AS jaccard
  FROM {p}cand JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b
  WHERE {jaccard} >= 0.5
)
"""
# fuzzy-dedup closure: the shared verified-pairs CTEs -> transitive
# closure -> min-reachable-id cluster per document (singletons
# included via the documents seed)
_FUZZY_MEMBERS = f"""
{_SIGS},
{_LSH_VERIFIED_PAIRS.format(p="f", jaccard=_JACCARD).strip()},
fedges AS (SELECT a, b FROM fpairs UNION SELECT b AS a, a AS b FROM fpairs),
freach(node, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT re.node, e.b FROM freach re JOIN fedges e ON e.a = re.r
),
fmembers AS (
  SELECT node AS doc_id, min(r) AS cluster_id FROM freach GROUP BY node
)
"""

_SIMHASH_CTE = f"""
h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
  FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
),
per AS (
  SELECT doc_id, bit, sum(((h >> bit) & 1) * 2 - 1) AS s
  FROM h CROSS JOIN (SELECT unnest(range(0, 16)) AS bit)
  GROUP BY doc_id, bit
),
sim AS (
  SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS simhash
  FROM per GROUP BY doc_id
)
"""
# Random-hyperplane LSH, re-derived in SQL: coef(t, p, d) and the
# bucket arithmetic are the exact md5 formulas operators/similarity.py
# uses (deterministic — no RNG state to share between engines).
_LSH_CTES = """
nd AS (SELECT len(embedding) AS d FROM embeddings LIMIT 1),
planes AS (
  SELECT t, p,
         list_transform(range(0, (SELECT d FROM nd)), dd ->
           ((('0x' || substr(md5(t::VARCHAR || ':' || p::VARCHAR || ':' || dd::VARCHAR), 1, 8))::BIGINT
             % 2001 - 1000) / 1000.0)) AS coefs
  FROM (SELECT unnest(range(0, 8)) AS t), (SELECT unnest(range(0, 4)) AS p)
),
signs AS (
  SELECT e.vec_id, pl.t AS tbl,
         sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.coefs) > 0
                  THEN (1 << pl.p) ELSE 0 END)::BIGINT AS bucket
  FROM embeddings e CROSS JOIN planes pl
  GROUP BY e.vec_id, pl.t
)
"""

# Deterministic fake media decode, re-derived in SQL: payload byte k of
# the md5 body is hex pair k of md5('42:<media_id>'); feature_key[j] =
# h[j] + h[j+8] (see multimodal._fake_decode and the media_features
# canonical projection).
_MEDIA_CTES = """
m AS (SELECT unnest(range(0, 200)) AS media_id),
hb AS (
  SELECT media_id,
         list_transform(range(0, 16),
           k -> ('0x' || substr(md5('42:' || media_id::VARCHAR), (k*2 + 1)::INT, 2))::INT) AS h
  FROM m
),
feats AS (
  SELECT media_id,
         ['image','audio','video'][(media_id % 3)::INT + 1] AS kind,
         (64 + (h[1] % 64))::INT AS width,
         (64 + (h[2] % 64))::INT AS height,
         (CASE WHEN media_id % 3 = 0 THEN 1 ELSE ((64 + (h[1] % 64)) % 16) + 1 END)::INT AS n_frames,
         array_to_string(list_transform(range(0, 8), j -> h[j+1] + h[j+9]), ',') AS feature_key,
         'fake' AS decoder
  FROM hb
)
"""

# Deterministic event stream, re-derived in SQL: every field is the
# exact md5 formula streaming.windows.synthesize_events evaluates.
_EVENTS_CTE = """
ev AS (
  SELECT i::BIGINT AS event_id,
         1767225600 + i*211
           + (('0x' || substr(md5('ev:' || i::VARCHAR), 1, 8))::BIGINT % 97) AS ts,
         (('0x' || substr(md5('ev:' || i::VARCHAR), 9, 8))::BIGINT % 8) AS user_id,
         ['view','click','buy'][
           (('0x' || substr(md5('ev:' || i::VARCHAR), 1, 8))::BIGINT % 3)::INT + 1
         ] AS event_type,
         (('0x' || substr(md5('ev:' || i::VARCHAR), 9, 8))::BIGINT % 1000) / 100.0 AS value
  FROM (SELECT unnest(range(0, 400)) AS i)
)
"""

_LANGSETS = {
    "en": "['the','a','of','and','to','in','is','it','that','for']",
    "de": "['der','die','das','und','ist','nicht','ein','mit','auf','zu']",
    "es": "['el','la','de','que','y','en','un','por','con','para']",
    "fr": "['le','la','et','les','des','est','dans','pour','que','une']",
}
_FP_POWS = [pow(131, j, 1_000_000_007) for j in range(32)]


def _pipeline_oracles() -> dict[str, str]:
    votes = ", ".join(
        f"len(list_filter(t, x -> list_contains({arr}, x)))::BIGINT AS vote_{lg}"
        for lg, arr in _LANGSETS.items()
    )
    return {
        "exact_dups": """
SELECT doc_id, md5(text) AS digest,
       min(doc_id) OVER (PARTITION BY md5(text)) AS keeper_id,
       count(*) OVER (PARTITION BY md5(text))::BIGINT AS group_size
FROM documents
""",
        "minhash_sigs": f"WITH {_SIGS} SELECT doc_id, perm, minhash FROM sigs",
        "lsh_pairs": f"""
WITH {_SIGS},
{_LSH_VERIFIED_PAIRS.format(p="", jaccard=_JACCARD).strip()}
SELECT a, b, jaccard FROM pairs
""",
        "simhash": f"WITH {_SIMHASH_CTE} SELECT doc_id, simhash FROM sim",
        "simhash_pairs": f"""
WITH {_SIMHASH_CTE},
chunks AS (
  SELECT doc_id, simhash, ci, (simhash >> (ci * 4)) & 15 AS cv
  FROM sim CROSS JOIN (SELECT unnest(range(0, 4)) AS ci)
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.simhash AS sa, y.simhash AS sb
  FROM chunks x JOIN chunks y ON x.ci = y.ci AND x.cv = y.cv AND x.doc_id < y.doc_id
)
SELECT a, b, bit_count(xor(sa, sb))::INT AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 2
""",
        "ngram_pairs": f"""
WITH {_SHINGLES}
SELECT sa.doc_id AS a, sb.doc_id AS b, {_JACCARD} AS jaccard
FROM sh sa, sh sb
WHERE sa.doc_id < sb.doc_id AND sa.doc_id < 300 AND sb.doc_id < 300
  AND {_JACCARD} >= 0.3
""",
        "emb_near_dup": """
SELECT a.vec_id AS a, b.vec_id AS b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.35
""",
        "cosine_topk": """
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], qe), 6) AS cosine
  FROM embeddings, q WHERE vec_id != 0
)
SELECT row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank, vec_id, cosine
FROM scored ORDER BY rank LIMIT 10
""",
        "cosine_topk_batch": """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id IN (0, 1, 2, 3)
),
scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 6) AS cosine
  FROM embeddings e, q WHERE e.vec_id != q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= 10
""",
        "lang_id": f"""
WITH v AS (
  SELECT doc_id, {votes}
  FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
)
SELECT doc_id, vote_en, vote_de, vote_es, vote_fr,
       CASE WHEN vote_en >= vote_de AND vote_en >= vote_es AND vote_en >= vote_fr THEN 'en'
            WHEN vote_de >= vote_es AND vote_de >= vote_fr THEN 'de'
            WHEN vote_es >= vote_fr THEN 'es'
            ELSE 'fr' END AS pred_lang
FROM v
""",
        "quality": f"""
WITH base AS (
  SELECT doc_id,
         len(t)::BIGINT AS n_tokens,
         CASE WHEN len(t) > 0
              THEN round(len(list_filter(t, x -> list_contains({_LANGSETS['en']}, x)))::DOUBLE / len(t), 6)
              ELSE 0.0 END AS stopword_ratio,
         CASE WHEN length(text) > 0
              THEN round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))::DOUBLE / length(text), 6)
              ELSE 0.0 END AS punct_ratio,
         CASE WHEN len(t) > 0
              THEN round(list_aggregate(list_transform(t, x -> length(x)::DOUBLE), 'sum') / len(t), 6)
              ELSE 0.0 END AS mean_token_len
  FROM (SELECT doc_id, text, {_TOKS} AS t FROM documents)
)
SELECT doc_id, n_tokens, stopword_ratio, punct_ratio, mean_token_len,
       round(0.4 * least(n_tokens / 100.0, 1.0) + 0.3 * (1.0 - punct_ratio)
             + 0.2 * least(4.0 * stopword_ratio, 1.0)
             + 0.1 * least(mean_token_len / 8.0, 1.0), 6) AS quality
FROM base
""",
        "token_counts": f"""
SELECT doc_id,
       len(list_filter(string_split_regex(trim(text), '\\s+'), x -> length(x) > 0))::BIGINT AS n_ws,
       len({_TOKS})::BIGINT AS n_regex,
       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))::BIGINT AS n_bpe_ish
FROM documents
""",
        "emb_lsh_pairs": f"""
WITH {_LSH_CTES},
cand AS (
  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
  FROM signs x JOIN signs y ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id
)
SELECT a, b,
       round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) AS cosine
FROM cand JOIN embeddings ea ON ea.vec_id = a JOIN embeddings eb ON eb.vec_id = b
WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) >= 0.35
""",
        "ann_lsh_topk": f"""
WITH {_LSH_CTES},
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id IN (0, 1, 2, 3)),
qsigns AS (SELECT s.tbl, s.bucket, q.query_id, q.qe FROM signs s JOIN q ON s.vec_id = q.query_id),
cand AS (
  SELECT DISTINCT qs.query_id, s.vec_id
  FROM signs s JOIN qsigns qs ON s.tbl = qs.tbl AND s.bucket = qs.bucket
  WHERE s.vec_id != qs.query_id
),
scored AS (
  SELECT c.query_id, c.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 6) AS cosine
  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id JOIN q ON q.query_id = c.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= 10
""",
        # nprobe = nlist probes every IVF list == exact brute force:
        # identical oracle to cosine_topk_batch
        "ivf_topk": """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id IN (0, 1, 2, 3)
),
scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 6) AS cosine
  FROM embeddings e, q WHERE e.vec_id != q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= 10
""",
        # materialized IVF at nprobe = nlist == the same brute force
        "ivf_probe_topk": """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id IN (0, 1, 2, 3)
),
scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 6) AS cosine
  FROM embeddings e, q WHERE e.vec_id != q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= 10
""",
        # transitive closure of the >= 0.35 cosine pair graph; min
        # reachable id per node == the engine's propagated cluster label
        "near_dup_clusters": """
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM embeddings a, embeddings b
  WHERE a.vec_id < b.vec_id
    AND round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.35
),
edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
reach(node, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT re.node, e.b FROM reach re JOIN edges e ON e.a = re.r
)
SELECT node AS vec_id, min(r) AS cluster_id, (node = min(r)) AS is_keeper
FROM reach GROUP BY node
""",
        "fuzzy_dedup_clusters": f"""
WITH RECURSIVE {_FUZZY_MEMBERS.strip()}
SELECT doc_id, cluster_id, (doc_id = cluster_id) AS is_keeper FROM fmembers
""",
        "fuzzy_dedup_reindex": f"""
WITH RECURSIVE {_FUZZY_MEMBERS.strip()},
kt AS (
  SELECT d.doc_id, {_TOKS} AS t
  FROM documents d JOIN fmembers m
    ON m.doc_id = d.doc_id AND m.cluster_id = m.doc_id
),
ktf AS (
  SELECT term, doc_id FROM (SELECT doc_id, unnest(t) AS term FROM kt)
  GROUP BY 1, 2
)
SELECT (SELECT count(*) FROM kt)::BIGINT AS n_docs,
       (SELECT round(avg(len(t)), 6) FROM kt) AS avgdl,
       (SELECT count(*) FROM ktf)::BIGINT AS n_postings,
       (SELECT count(DISTINCT term) FROM ktf)::BIGINT AS n_terms
""",
        "media_features": f"""
WITH {_MEDIA_CTES}
SELECT media_id, kind, width, height, n_frames, feature_key, decoder FROM feats
""",
        "media_frame_sample": f"""
WITH {_MEDIA_CTES}
SELECT media_id, unnest(range(0, n_frames, 4))::INT AS frame_idx
FROM feats WHERE kind = 'video'
""",
        "fingerprint": f"""
WITH e AS (
  SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) - 1 AS i
  FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
)
SELECT doc_id,
       (sum(((('0x' || substr(md5(tok), 1, 8))::BIGINT % 1000000007)
             * ([{', '.join(str(p) for p in _FP_POWS)}])[(i % 32) + 1]) % 1000000007)::BIGINT
        % 1000000007) AS fingerprint
FROM e GROUP BY doc_id
""",
    }


def oracle_sql() -> dict[str, str]:
    # Every queries() entry carries an oracle: the md5-derived LSH
    # hyperplanes and the deterministic fake media decode are both
    # SQL-expressible, so even the ANN and multimodal rows hash-compare.
    out = _pipeline_oracles()
    out.update({
        "tf_postings": f"WITH {_CTES} SELECT term, doc_id, tf FROM tf",
        # the build gate decodes the written blocks back to postings
        "build_index_postings": f"WITH {_CTES} SELECT term, doc_id, tf FROM tf",
        "lexicon": f"WITH {_CTES} SELECT term, df FROM dft",
        # encode -> decode identity: same oracle as tf_postings
        "block_roundtrip": f"WITH {_CTES} SELECT term, doc_id, tf FROM tf",
        # S11: deterministic first-100 subset, verified on the re-read
        # parquet artifact
        "subset_extract": (
            "SELECT doc_id, length(text)::BIGINT AS text_len"
            " FROM documents ORDER BY doc_id LIMIT 100"
        ),
        # per-(term, doc-range-shard) chunking arithmetic (shard_size=100,
        # block_size=128) + additive lexicon merge
        "block_meta": f"""
WITH {_CTES},
pershard AS (
  SELECT term, (doc_id // 100)::INT AS shard, count(*)::BIGINT AS df_s, max(tf)::BIGINT AS mtf
  FROM tf GROUP BY 1, 2
)
SELECT term, sum(df_s)::BIGINT AS df,
       sum((df_s + 127) // 128)::INT AS nblocks,
       max(mtf)::BIGINT AS max_tf
FROM pershard GROUP BY term
""",
        # WAND + varbyte + on-disk index must reproduce the relational
        # BM25 ranking exactly (reference testrun.py:80-104 differential)
        "wand_top10": _bm25_sql(Q_OR, "OR"),
        "wand_top10_and": _bm25_sql(Q_AND, "AND"),
        "batch_score_top10_or": _bm25_sql(Q_OR, "OR"),
        "batch_score_top10_or_spark": _bm25_sql(Q_OR, "OR"),
        # append-mode emits exactly the windows finalized under the
        # final watermark (max ts - 2 h); event-time jitter keeps that
        # watermark off every hour boundary, so <= is unambiguous
        "stream_windowed_counts": f"""
WITH {_EVENTS_CTE},
win AS (
  SELECT (ts // 3600) * 3600 AS win_start, event_type,
         count(*)::BIGINT AS n_events, round(sum(value), 6) AS sum_value
  FROM ev GROUP BY 1, 2
)
SELECT win_start, event_type, n_events, sum_value
FROM win
WHERE win_start + 3600 <= (SELECT max(ts) - 7200 FROM ev)
""",
        # gap-sessionization (event-time timeouts): a session is emitted
        # when a later same-user event exceeds the gap (every non-last
        # session) OR when the final watermark (max ts - gap) passes its
        # event-time timeout (session_end + gap) — the last session of a
        # long-idle user. Sessions still inside the watermark horizon
        # stay in the state store.
        "stream_sessions": f"""
WITH {_EVENTS_CTE},
lagged AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
  FROM ev
),
flagged AS (
  SELECT *, CASE WHEN pts IS NULL OR ts - pts > 1800 THEN 1 ELSE 0 END AS brk
  FROM lagged
),
sess AS (
  SELECT *, sum(brk) OVER (
    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
),
agg AS (
  SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end,
         count(*)::BIGINT AS n_events, round(sum(value), 6) AS sum_value
  FROM sess GROUP BY 1, 2
)
SELECT a.user_id, a.session_start, a.session_end, a.n_events, a.sum_value
FROM agg a
JOIN (SELECT user_id, max(sid) AS msid FROM agg GROUP BY 1) l
  ON a.user_id = l.user_id
WHERE a.sid < l.msid
   OR a.session_end + 1800 < (SELECT max(ts) - 1800 FROM ev)
""",
        "doc_stats": f"WITH {_CTES} SELECT doc_id, dl FROM dl",
        "corpus_stats": f"WITH {_CTES} SELECT n_docs, round(avgdl, 6) AS avgdl FROM stats",
        "doc_len_from_postings": f"WITH {_CTES} SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id",
        "bm25_top10_or": _bm25_sql(Q_OR, "OR"),
        "bm25_top10_and": _bm25_sql(Q_AND, "AND"),
        "bm25_single_term": _bm25_sql(Q_SINGLE, "OR"),
        "bm25_dup_terms": _bm25_sql(Q_DUP, "OR"),
        "boolean_and": _boolean_sql(Q_BOOL_AND, "AND"),
        "boolean_or": _boolean_sql(Q_BOOL_OR, "OR"),
    })
    return out
