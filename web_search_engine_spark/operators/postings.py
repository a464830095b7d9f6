"""Postings construction — the reference's whole build pipeline as shuffles.

The reference builds the inverted index in three hand-rolled stages
(tokenize->sorted runs: HW2/engine/build_runs_mp.py; layered k-way merge:
HW2/engine/parallel_merge.py; single-writer final merge: HW2/engine/merger.py,
which its own README calls the unavoidable serial bottleneck). In Spark the
entire thing is ONE declarative plan: explode + two hash aggregations —
Catalyst inserts partial (map-side) aggregation, the shuffle IS the merge,
and no serial sink exists.

Scale notes (100 TB / 1000 executors):
  - groupBy(term, doc_id) has no skew problem: doc_id spreads hot terms
    across the key space, and partial aggregation collapses duplicates
    map-side before the shuffle.
  - per-TERM aggregations (df counts, block building) DO skew on hot
    terms; `salted_term_counts` demonstrates the two-phase salted
    pattern, and the block builder bounds group size by doc-sharding
    (see blocks.py).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.tokenizer import tokenize_udf, tokens_sql_col


# target bytes of input text per tokenize task when spreading an
# under-parallel scan: a Python/Arrow stage costs ~3-5 ms of per-task
# eval setup, so 32 near-empty tasks lose to 8 loaded ones (measured
# sweep at 5k docs: 8p 0.24 s vs 32p 0.37 s; at 50k docs the rule
# saturates to full parallelism and matches the old behavior).
_SPREAD_BYTES_PER_TASK = 64 * 1024


def _spread_input(df: DataFrame) -> DataFrame:
    """Scale-adaptive input spread (guide §2.5 "input skew").

    A scan of one small file (or one giant file with a single row
    group) plans as 1-2 tasks, so every downstream map — tokenize
    included — runs on a fraction of the cores. When the scan is
    under-parallelized by >= 2x, round-robin the rows across the
    cores first; the tiny text shuffle costs far less than the
    serialized tokenize it prevents (measured: build_postings
    4.3 s -> 2.3 s at sf1.0/local[32]). The spread WIDTH derives from
    the optimizer's size estimate (~_SPREAD_BYTES_PER_TASK of input
    per task, capped at defaultParallelism) so a tiny input gets a few
    loaded tasks instead of a fleet of near-empty ones; an unknown or
    huge estimate falls back to full parallelism. Already-parallel
    inputs (the normal many-files case at scale, or build_index's
    range-partitioned source) skip the exchange entirely; streaming
    frames are left untouched.
    """
    try:
        if df.isStreaming:
            return df
        par = df.sparkSession.sparkContext.defaultParallelism
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    if 2 * n <= par:
        target = par
        try:
            size = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
            if 0 < size < (1 << 60):  # a real estimate, not the unknown
                target = max(1, min(par, -(-size // _SPREAD_BYTES_PER_TASK)))
        except Exception:
            pass
        if target <= n:
            return df  # already at least as parallel as the data merits
        return df.repartition(target)
    return df


def with_tokens(df: DataFrame, text_col: str = "content", method: str = "pandas") -> DataFrame:
    """Add a ``tokens: array<string>`` column.

    method='pandas': Arrow-vectorized pandas_udf incl. HTML unescape
    (the north-star path, and the build default). method='sql': pure-JVM
    regexp_extract_all — stays in whole-stage codegen; identical output
    on entity-free text.
    """
    df = _spread_input(df)
    col = tokenize_udf(F.col(text_col)) if method == "pandas" else tokens_sql_col(text_col)
    return df.withColumn("tokens", col)


def doc_stats(df_tokens: DataFrame, doc_id_col: str = "doc_id") -> DataFrame:
    """(doc_id, dl) — dl = token count; ZERO-length docs are KEPT.

    Mirrors the reference MP build (HW2/engine/build_runs_mp.py:89-91)
    where empty docs still enter doc_lengths with dl=0 and therefore
    count in N and avgdl (see SURVEY.md §1.3). Pure projection: no shuffle.
    """
    return df_tokens.select(
        F.col(doc_id_col).alias("doc_id"), F.size("tokens").cast("long").alias("dl")
    )


def corpus_stats(doc_stats_df: DataFrame) -> tuple[int, float]:
    """(N, avgdl) as driver scalars — broadcast into score expressions.

    N counts ALL docs incl. dl=0 (HW2/engine/daat_ranker.py:73-76 uses
    len(doc_lengths), which the MP build fills for empty docs too).
    """
    row = doc_stats_df.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    return int(row["n"]), float(row["avgdl"] or 0.0)


def build_postings(
    df_tokens: DataFrame,
    doc_id_col: str = "doc_id",
    cluster_by_doc: bool = True,
) -> DataFrame:
    """(term, doc_id, tf) — the inverted index in relational form.

    explode + groupBy(term, doc_id).count(): Catalyst plans this as
    partial hash agg (map-side combine) -> shuffle on (term, doc_id) ->
    final hash agg. Replaces the reference's indexer + run writer + all
    merge rounds (HW2/engine/indexer.py:36-49, merger.py:114-135) — the
    tf-summing the merge does defensively is exactly the final agg here.

    explode_outer + term-not-null filter, NOT plain explode: for a
    non-outer Generate the optimizer infers a ``size(tokens) > 0``
    filter below it and pushes it past the tokenize projection, which
    EVALUATES THE TOKENIZER TWICE per row (guide §4.4's duplicated-UDF
    pathology — two ArrowEvalPython nodes in the round-5 plan). The
    outer generate admits no such inferred filter; empty docs emit one
    null term row that the post-explode filter drops, so the output
    multiset is identical.

    cluster_by_doc=True (the default, serving layout) re-exchanges the
    AGGREGATED postings by doc_id — the relational analog of bucketing
    the table on doc_id (guide §2.4: a persisted partitioning lets
    repeated aggregations/joins on the key skip their shuffle). Every
    per-doc consumer — BM25 score aggregation groupBy(query_id, doc_id),
    boolean groupBy(doc_id)/distinct, dl-from-postings — then satisfies
    its clustering requirement from the cached layout and plans ZERO
    exchanges past the scan (hash(doc_id) clusters any superset key
    set). One compact postings-sized exchange at build time buys an
    exchange-free stage off every query thereafter (measured: batch BM25
    958 -> 553 ms at sf1.0). The map-side partial aggregation still
    happens before the FIRST exchange, so shuffle bytes stay collapsed.
    Pass False where the consumer immediately re-partitions anyway
    (build_index's blocks exchange) — there the extra exchange is waste.
    """
    agg = (
        df_tokens.select(
            F.col(doc_id_col).alias("doc_id"),
            F.explode_outer("tokens").alias("term"),
        )
        .filter(F.col("term").isNotNull())
        .groupBy("term", "doc_id")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    if cluster_by_doc:
        agg = agg.repartition(F.col("doc_id"))
    return agg


def lexicon_df(postings: DataFrame) -> DataFrame:
    """(term, df) — exact document frequency per term.

    Exact count, not approx: rank-identity requires exact df
    (HW2/engine/ranker.py:30). No skew concern: input is already one row
    per (term, doc_id), so partial aggregation reduces each map
    partition's contribution to one row per term before the shuffle.
    """
    return postings.groupBy("term").agg(F.count("*").cast("long").alias("df"))


def salted_term_counts(postings: DataFrame, n_salts: int = 16) -> DataFrame:
    """(term, df) via explicit two-phase salted aggregation.

    The salted pattern the north rule calls for, for engines/paths where
    map-side combine is unavailable (e.g. counting straight off the
    exploded token stream where one hot term would hash-skew a single
    reducer): phase 1 groups on (term, salt) spreading each hot term over
    ``n_salts`` reducers; phase 2 sums the (at most n_salts) partials.
    Results are identical to ``lexicon_df``.
    """
    salt = (F.crc32(F.col("doc_id").cast("string")) % n_salts).alias("salt")
    phase1 = (
        postings.select("term", salt)
        .groupBy("term", "salt")
        .agg(F.count("*").alias("partial_df"))
    )
    return phase1.groupBy("term").agg(F.sum("partial_df").cast("long").alias("df"))


# dense-integer-key fast path for assign_doc_ids_counted: probe a single
# integral key and, when the keys are provably dense (no nulls, exact
# distinct count == max-min+1 == row count), assign doc_id = key - min
# as a pure projection — NO range exchange of the corpus rows at all
# (guide §2.4 "remove shuffles outright").
_INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint")


def _dense_key_ids(
    df: DataFrame, key_cols: list[str]
) -> tuple[DataFrame, int, DataFrame] | None:
    """Try the dense-key projection path; None -> caller falls back.

    Two probe jobs over the pruned key column: (count(*), count(k),
    min, max) — a no-shuffle partial agg — and, only if those are
    consistent with density, an exact count_distinct confirmation
    (count == max-min+1 alone is spoofable: duplicates and gaps can
    cancel, e.g. {0,0,3,3}; moment checks up to sum-of-squares still
    admit spoofs like {1,5,6} vs {2,3,7}, so the exact distinct is the
    only honest certificate). For dense keys the two probes replace the
    RangePartitioner sampling job, the corpus-wide range exchange AND
    the per-partition count job; doc_id = key - min is exactly the
    dense rank the contract pins, in any partitioning. Measured at
    sf0.1: 462 -> 313 ms for the assignment, and downstream tokenize
    over the cache 384 -> 320 ms (the spread sizes the cache by input
    bytes instead of inheriting 32 near-empty range partitions).
    """
    if len(key_cols) != 1:
        return None
    key = key_cols[0]
    if dict(df.dtypes).get(key) not in _INTEGRAL_TYPES:
        return None
    r = df.agg(
        F.count("*").alias("n"),
        F.count(key).alias("c"),
        F.min(key).alias("mn"),
        F.max(key).alias("mx"),
    ).collect()[0]
    n, c = int(r["n"]), int(r["c"])
    if c == 0 or c != n or int(r["mx"]) - int(r["mn"]) + 1 != c:
        return None
    out = _spread_input(df).withColumn(
        "doc_id", (F.col(key) - F.lit(int(r["mn"]))).cast("long")
    )
    handle = out.persist()
    # Two independent jobs, overlapped (guide §2.6): the exact-distinct
    # confirmation scans only the PRUNED parquet key column (folding it
    # into the fill job instead was measured SLOWER at 50k docs — 0.62
    # vs 0.47 s — because the distinct agg then rides the full-row
    # materialization), while the fill job materializes the cache
    # (downstream consumers, including the overlapped build writes,
    # assume the shared source cache is already hot). No cache race:
    # the probe reads the raw plan, not the persisted relation.
    from concurrent.futures import ThreadPoolExecutor

    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_distinct = pool.submit(
                lambda: int(
                    df.agg(F.count_distinct(key).alias("d")).collect()[0]["d"]
                )
            )
            f_fill = pool.submit(handle.count)
            d = f_distinct.result()
            f_fill.result()
    except BaseException:
        handle.unpersist()  # the caller never receives the handle
        raise
    if d != c:  # spoofed density (dups+gaps cancelling): fall back
        handle.unpersist()
        return None
    return handle, c, handle


def assign_doc_ids_counted(
    df: DataFrame, key_cols: list[str]
) -> tuple[DataFrame, int, DataFrame]:
    """Dense, deterministic doc_id = rank of the natural key. Returns
    (result, total_row_count, cache_handle); the count is free (the
    offset pass counts anyway) and the CALLER OWNS the cache — call
    ``cache_handle.unpersist()`` once downstream work is materialized
    (a long-running ingest that never unpersists leaks executor
    memory/disk per batch).

    The reference assigns docids as sequential line numbers
    (HW2/engine/build_runs_mp.py:83-91); the engine's analog is a dense
    rank over the natural key (repo, path) — stable under repartitioning
    (SURVEY.md §1.3).

    Scale-aware implementation: range-partition by key (partitions are
    disjoint key ranges), count rows per partition (tiny driver-side
    cumsum), then doc_id = partition offset + position within the
    partition-local key sort — parallel everywhere, never a single
    global sort partition, and crucially NO SECOND EXCHANGE: a
    Window.partitionBy(spark_partition_id) here would re-shuffle the
    whole corpus (Catalyst cannot know _pid is partition-local) and at
    32 cores AQE then coalesced that exchange's reader to ~18 tasks —
    measured as the single largest scaling loss in the build. Instead
    the position comes from the low 33 bits of
    monotonically_increasing_id(), which by its contract count rows
    0,1,2,... within each partition, evaluated above a partition-local
    sort (sortWithinPartitions; no exchange). The range-partitioned
    rows are persisted because separate actions re-plan the DataFrame
    (the exchange would rerun per downstream job).

    Dense-integer-key fast path: when the single integral key is
    provably dense the id is key - min — a projection, zero exchanges;
    see _dense_key_ids.
    """
    fast = _dense_key_ids(df, key_cols)
    if fast is not None:
        return fast
    n_part = df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n_part, *key_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    ranged = ranged.persist()
    counts = {r["_pid"]: r["cnt"] for r in ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    import pandas as pd

    # pandas -> Arrow LocalRelation: a list-backed createDataFrame plans
    # as Scan ExistingRDD, which re-spawns Python workers on every reuse
    # of this subtree (one per downstream job)
    off_df = df.sparkSession.createDataFrame(
        pd.DataFrame(
            [(pid, off) for pid, off in offsets.items()],
            columns=["_pid", "_offset"],
        ),
        "_pid int, _offset long",
    )
    # monotonically_increasing_id = (partition_id << 33) + local row
    # position; evaluated directly above the partition-local sort, so
    # (mid & (2^33-1)) is the rank within the partition's key range.
    # The expression is nondeterministic, which pins its placement in
    # the plan (Catalyst will not reorder it below the sort); the
    # equality with the window formulation is differentially tested.
    local_pos = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    if os.environ.get("WSE_VERIFY_DOC_IDS", "0") == "1":
        # runtime invariant check (ADVICE r3): the id layout rests on two
        # Spark internals — the (pid << 33) + row layout of
        # monotonically_increasing_id, and Catalyst never pushing the
        # nondeterministic projection below sortWithinPartitions. A
        # Spark upgrade could silently scramble ids; this guard
        # (env-gated: it costs one extra job INCLUDING a window
        # exchange) cross-checks every row's _lpos against the explicit
        # row_number-over-key-order formulation — a per-row rank
        # identity, so a permutation or duplicate that a max/count
        # aggregate would miss fails loudly.
        from pyspark.sql import Window

        w = Window.partitionBy("_pid").orderBy(*key_cols)
        bad = (
            ranged.sortWithinPartitions(*key_cols)
            .withColumn("_lpos", local_pos)
            .withColumn("_rank", F.row_number().over(w) - 1)
            .filter(F.col("_lpos") != F.col("_rank"))
            .count()
        )
        if bad:
            raise RuntimeError(
                f"doc_id assignment invariant violated on {bad} rows: "
                "partition-local positions diverge from the key-order "
                "rank (monotonically_increasing_id layout changed, or "
                "Catalyst moved the projection below the sort?)"
            )
    out = (
        ranged.sortWithinPartitions(*key_cols)
        .withColumn("_lpos", local_pos)
        .join(F.broadcast(off_df), "_pid")
        .withColumn("doc_id", (F.col("_offset") + F.col("_lpos")).cast("long"))
        .drop("_pid", "_lpos", "_offset")
    )
    return out, acc, ranged


def assign_doc_ids(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """See assign_doc_ids_counted — this variant drops the count (and
    leaves the cache to Spark's LRU; fine for one-shot sessions)."""
    return assign_doc_ids_counted(df, key_cols)[0]
