"""Hot-term skew handling (SURVEY.md §7 milestone 3) and physical-plan
assertions (filter pushdown into the block-table scan)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from web_search_engine_spark.operators.blocks import (
    blocks_to_postings,
    build_block_index,
)
from web_search_engine_spark.operators.postings import (
    build_postings,
    salted_term_counts,
    lexicon_df,
    with_tokens,
)


@pytest.fixture(scope="module")
def zipf_docs(spark):
    """Extreme skew: token 'the' appears in EVERY doc many times; a long
    tail of unique tokens appears once each."""
    rows = [
        (i, "the " * 40 + f"uniq{i} tail{i % 7}")
        for i in range(3000)
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "content"])
    )


def test_hot_term_bounded_by_doc_sharding(spark, zipf_docs):
    postings = build_postings(with_tokens(zipf_docs, "content", "sql")).cache()
    blocks = build_block_index(
        postings, block_size=64, codec="varbyte", shard_size=500
    ).cache()
    hot = blocks.filter(F.col("term") == "the").collect()
    # 3000 docs / 500-doc shards -> 6 bounded groups for the hot term
    shards = sorted({r["shard"] for r in hot})
    assert shards == [0, 1, 2, 3, 4, 5]
    per_shard_postings = {}
    for r in hot:
        per_shard_postings[r["shard"]] = per_shard_postings.get(r["shard"], 0) + r["n"]
    # every (term, shard) group is capped at the shard size
    assert all(n <= 500 for n in per_shard_postings.values())
    assert sum(per_shard_postings.values()) == 3000
    # tf survived: every posting of 'the' has tf=40
    decoded = blocks_to_postings(blocks.filter(F.col("term") == "the"), "varbyte")
    tfs = {r["tf"] for r in decoded.collect()}
    assert tfs == {40}


def test_salted_counts_match_plain_on_skewed_data(spark, zipf_docs):
    postings = build_postings(with_tokens(zipf_docs, "content", "sql")).cache()
    plain = {r["term"]: r["df"] for r in lexicon_df(postings).collect()}
    salted = {r["term"]: r["df"] for r in salted_term_counts(postings, n_salts=8).collect()}
    assert salted == plain
    assert plain["the"] == 3000


def test_term_filter_pushes_into_block_scan(spark, tmp_path):
    """The `term IN (...)` prune must reach the parquet scan
    (PushedFilters), the table-format analog of the reference's lexicon
    offset seek."""
    from web_search_engine_spark.plans.build_index import build_index
    from web_search_engine_spark.sources.corpus import corpus_df

    d = str(tmp_path / "idx")
    build_index(spark, corpus_df(spark, 150, 42), d, num_shards=2)
    blocks = spark.read.parquet(f"{d}/blocks")
    pruned = blocks.filter(F.col("term").isin(["manhattan", "project"]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(term" in plan, plan[:2000]


def test_postings_plan_has_partial_aggregation(spark, zipf_docs):
    """Map-side combine must appear: two HashAggregates around the
    exchange (partial_count then count)."""
    postings = build_postings(with_tokens(zipf_docs, "content", "sql"))
    plan = postings._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan


def test_global_topk_is_take_ordered_not_global_window(spark):
    """Global top-k sites must compile to TakeOrderedAndProject
    (per-partition heaps + driver merge); the rank window may only run
    AFTER the limit, over k rows. A row_number window with no
    partitionBy over the full scored set would put ALL rows in one
    partition — the canonical scale-killer (VERDICT r1 #3)."""
    import __spark_entry__ as entry_mod
    from web_search_engine_spark.operators.similarity import cosine_topk

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    for df in (
        cosine_topk(emb, 0, 10),
        entry_mod._bm25_topk(spark, sf, "hash join", "OR"),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, plan[:3000]
        # the window (rank attach) must sit ABOVE the TakeOrdered, i.e.
        # consume its tiny output, not the full scored set
        assert plan.index("Window") < plan.index("TakeOrderedAndProject"), plan[:3000]


def test_mmh3_replica_matches_spark_hash(spark):
    """The salted identity partitioner relies on a Python replica of
    Spark's murmur3 int32 hash (operators/blocks._mmh3_int32) —
    differential over positives, negatives, and boundary values."""
    from web_search_engine_spark.operators.blocks import _mmh3_int32

    vals = list(range(0, 512)) + [-1, -2, -512, 2**31 - 1, -(2**31), 12345678]
    df = spark.createDataFrame([(v,) for v in vals], "v int")
    got = {r["v"]: r["h"] for r in df.select("v", F.hash("v").alias("h")).collect()}
    for v in vals:
        assert _mmh3_int32(v) == got[v], v


def test_salted_keys_land_on_their_target_partition(spark):
    """repartition(n, salts[t]) must put key t's rows on EXACTLY
    partition t — the whole point of murmur3-inverting the salts (no
    balls-in-bins stragglers, perfect write-stage balance)."""
    from web_search_engine_spark.operators.blocks import _identity_salts

    for n_part in (8, 32, 48):
        salts = _identity_salts(n_part)
        assert len(set(salts)) == n_part
        df = (
            spark.createDataFrame([(t, salts[t]) for t in range(n_part)], "t int, pk int")
            .repartition(n_part, "pk")
            .withColumn("pid", F.spark_partition_id())
        )
        for r in df.collect():
            assert r["pid"] == r["t"], (n_part, r)


def test_assign_doc_ids_is_key_rank_with_no_second_exchange(spark):
    """doc_id must equal the global dense key rank (window-free
    formulation vs the spec), and the assignment must add NO exchange
    beyond the one range partitioning that builds the cache — a
    Window.partitionBy(_pid) here re-shuffled the whole corpus and AQE
    coalesced the downstream tokenize stage to ~18/32 tasks (round-3
    stage diagnosis)."""
    import random

    from web_search_engine_spark.operators.postings import (
        assign_doc_ids_counted,
    )

    rng = random.Random(3)
    rows = [
        (f"r{rng.randrange(40)}", f"p{idx:05d}", f"body {idx}")
        for idx in rng.sample(range(100000), 3000)
    ]
    df = spark.createDataFrame(rows, "repo string, path string, content string")
    out, n, handle = assign_doc_ids_counted(df.repartition(16), ["repo", "path"])
    try:
        got = {(r["repo"], r["path"]): r["doc_id"] for r in out.collect()}
        want = {
            k: i for i, k in enumerate(sorted((r[0], r[1]) for r in rows))
        }
        assert n == len(rows)
        assert got == want
        # exactly one round-robin/range exchange below the cache; the id
        # assignment itself must not re-shuffle (broadcast join only)
        plan = out._jdf.queryExecution().executedPlan().toString()
        above_cache = plan.split("InMemoryTableScan", 1)[0]
        assert "Exchange hashpartitioning" not in above_cache, above_cache
        assert "Window" not in above_cache, above_cache
    finally:
        handle.unpersist()


def test_assign_doc_ids_dense_key_fast_path(spark):
    """A single provably-dense integral key is assigned by projection
    (doc_id = key - min, no range exchange); every non-dense shape —
    gaps, duplicate multisets that spoof count==max-min+1, nulls — must
    fall back to the range path and produce the identical dense-rank
    ids. Which path fired is read off the cache handle: the range
    path's handle carries the internal _pid column, the projection
    path's does not."""
    from web_search_engine_spark.operators.postings import (
        assign_doc_ids_counted,
    )

    def ids(rows, schema, keys):
        out, n, handle = assign_doc_ids_counted(
            spark.createDataFrame(rows, schema), keys
        )
        try:
            got = sorted(
                ((r[keys[0]], r["doc_id"]) for r in out.collect()),
                key=lambda t: (t[0] is not None, t[0] or 0, t[1]),
            )
        finally:
            handle.unpersist()
        return got, n, ("_pid" in handle.columns)

    # dense with a non-zero min: projection path, ids = key - min
    rows = [(k, f"t{k}") for k in range(100, 180)]
    got, n, used_range = ids(rows, "orig long, text string", ["orig"])
    assert n == 80 and not used_range
    assert got == [(k, k - 100) for k in range(100, 180)]

    # a gap -> range path, dense rank (not key - min)
    rows = [(k, "t") for k in range(10) if k != 4]
    got, n, used_range = ids(rows, "orig long, text string", ["orig"])
    want = [(k, i) for i, k in enumerate(sorted(r[0] for r in rows))]
    assert (got, n) == (want, 9) and used_range

    # duplicates spoofing count == max-min+1 ({0,0,3,3}): the exact
    # distinct probe must reject it; the range path ranks dups by
    # position so the ids are still the dense 0..3
    out, n, handle = assign_doc_ids_counted(
        spark.createDataFrame(
            [(0, "a"), (0, "b"), (3, "c"), (3, "d")], "orig long, t string"
        ),
        ["orig"],
    )
    try:
        assert n == 4 and "_pid" in handle.columns
        assert sorted(r["doc_id"] for r in out.collect()) == [0, 1, 2, 3]
    finally:
        handle.unpersist()

    # nulls in the key -> range path
    got, n, used_range = ids(
        [(None, "x"), (0, "y"), (1, "z")], "orig long, t string", ["orig"]
    )
    assert n == 3 and used_range


def test_dense_probe_failure_releases_cache(spark, monkeypatch):
    """If a job of the overlapped dense-key probe raises, the persisted
    projection is released before the error propagates — the caller
    never receives its handle, so nobody else could (ADVICE)."""
    from web_search_engine_spark.operators.postings import (
        assign_doc_ids_counted,
    )

    df = spark.createDataFrame(
        [(k, "t") for k in range(20)], "orig long, text string"
    )
    spark.catalog.clearCache()

    def failing_count(self):
        raise RuntimeError("injected cache-fill failure")

    monkeypatch.setattr(type(df), "count", failing_count)
    with pytest.raises(RuntimeError, match="injected"):
        assign_doc_ids_counted(df, ["orig"])
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
