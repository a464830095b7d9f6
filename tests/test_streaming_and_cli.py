"""Incremental (Structured Streaming) ingestion + CLI smoke tests."""

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from web_search_engine_spark.plans.build_index import build_index
from web_search_engine_spark.plans.search import SearchEngine
from web_search_engine_spark.sources.corpus import corpus_df
from web_search_engine_spark.streaming.incremental import ingest_available


def test_streaming_ingest_matches_full_semantics(spark, tmp_path):
    """Seed an index with the first half of the corpus, stream-ingest the
    second half in two files, and check BM25 behavior over the union."""
    full = corpus_df(spark, n_docs=300, seed=42).cache()
    first = full.limit(150)
    rest = full.subtract(first)

    index_dir = str(tmp_path / "idx")
    build_index(spark, first, index_dir, block_size=16, num_shards=2)
    eng0 = SearchEngine(index_dir)
    n0 = eng0.snapshot.n_docs
    assert n0 == 150

    src_dir = str(tmp_path / "incoming")
    rest.repartition(2).write.mode("overwrite").parquet(src_dir)
    # simulate a fresh session: build_index left the overwrite mode
    # dynamic, which masked a clone-conf bug (foreachBatch sessions
    # snapshot conf at stream start) — force the default back
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    ingest_available(spark, src_dir, index_dir)

    eng1 = SearchEngine(index_dir)
    assert eng1.snapshot.n_docs == 300

    # the streamed index must contain every streamed doc's tokens:
    # compare df for a probe term against a direct count over the union
    probe = "project"
    want = full.filter(
        F.array_contains(
            F.regexp_extract_all(F.lower("content"), F.lit("([a-z0-9]+(?:[.-][a-z0-9]+)*)"), 1),
            probe,
        )
    ).count()
    assert eng1._df.get(probe, 0) == want

    # restart-resume: running catch-up again must be a no-op
    ingest_available(spark, src_dir, index_dir)
    eng2 = SearchEngine(index_dir)
    assert eng2.snapshot.n_docs == 300
    # and queries still work over the merged index
    hits = eng2.search("manhattan project", mode="OR", topk=5)
    assert len(hits) > 0
    assert all(s > 0 for _, s in hits)


def test_cli_build_query_inspect(tmp_path):
    """Drive the CLI end-to-end in a subprocess (fresh JVM)."""
    env = dict(os.environ, PYTHONPATH="/root/repo", SPARK_GRAFT_CPUS="4")
    src = str(tmp_path / "src.parquet")
    idx = str(tmp_path / "idx")
    prep = (
        "import sys; sys.path.insert(0, '/root/repo');"
        "from web_search_engine_spark.session import get_spark;"
        "from web_search_engine_spark.sources.corpus import corpus_df;"
        "s = get_spark('prep', master='local[4]');"
        f"corpus_df(s, 200, 42).write.mode('overwrite').parquet({src!r});"
        "s.stop()"
    )
    subprocess.run([sys.executable, "-c", prep], check=True, env=env, timeout=300)

    out = subprocess.run(
        [sys.executable, "-m", "web_search_engine_spark.cli", "build",
         "--source", src, "--out", idx, "--shards", "2"],
        capture_output=True, text=True, env=env, timeout=300, cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr[-2000:]
    info = json.loads(out.stdout.strip().splitlines()[-1])
    assert info["n_docs"] == 200

    out = subprocess.run(
        [sys.executable, "-m", "web_search_engine_spark.cli", "query",
         "--index", idx, "--query", "manhattan project", "--mode", "OR"],
        capture_output=True, text=True, env=env, timeout=120, cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "hits in" in out.stdout

    out = subprocess.run(
        [sys.executable, "-m", "web_search_engine_spark.cli", "inspect", "--index", idx],
        capture_output=True, text=True, env=env, timeout=60, cwd="/root/repo",
    )
    assert out.returncode == 0
    info = json.loads(out.stdout)
    assert info["n_docs"] == 200
    layout = info["blocks_layout"]
    assert layout["files"] >= 2  # one blocks dir per shard
    assert layout["row_groups"] >= layout["files"]
    assert layout["median_rows_per_row_group"] > 0 and layout["bytes"] > 0


def test_cli_subset(spark, tmp_path):
    """`subset` extracts a deterministic first-N parquet sample when
    --order-by names a key (reference HW2/extract_subset.py:15-32)."""
    from pyspark.sql import Window

    from web_search_engine_spark import cli

    src = str(tmp_path / "src.parquet")
    out = str(tmp_path / "sub.parquet")
    corpus_df(spark, n_docs=50, seed=7).withColumn(
        "row_id", F.row_number().over(Window.orderBy("repo", "path")) - 1
    ).write.mode("overwrite").parquet(src)
    cli.main(
        ["subset", "--source", src, "--format", "parquet", "--out", out,
         "--limit", "10", "--order-by", "row_id"]
    )
    got = spark.read.parquet(out)
    assert got.count() == 10
    assert sorted(r["row_id"] for r in got.select("row_id").collect()) == list(
        range(10)
    )


def test_cli_package(tmp_path):
    out_zip = str(tmp_path / "engine.zip")
    subprocess.run(
        [sys.executable, "-m", "web_search_engine_spark.cli", "package", "--out", out_zip],
        check=True, env=dict(os.environ, PYTHONPATH="/root/repo"),
        timeout=60, cwd="/root/repo",
    )
    import zipfile

    names = zipfile.ZipFile(out_zip).namelist()
    assert "web_search_engine_spark/__init__.py" in names
    assert any(n.endswith("operators/wand.py") for n in names)


def _index_snapshot(index_dir):
    eng = SearchEngine(index_dir)
    snap = eng.snapshot
    return snap.n_docs, round(snap.avgdl, 9), tuple(sorted(eng._df.items()))


def test_append_batch_replay_paths_converge(spark, tmp_path):
    """foreachBatch can re-deliver a batch after a sink crash. Both
    replay cases must converge: a committed replay is a no-op, and a
    replay of an UNCOMMITTED batch (crashed between the lexicon swap
    and the ledger commit — the df-double-count window) must rebuild to
    exactly the single-append state."""
    from web_search_engine_spark.streaming.incremental import (
        _read_ledger,
        _write_ledger,
        append_batch,
    )

    full = corpus_df(spark, n_docs=200, seed=7).cache()
    first = full.limit(100)
    rest = full.subtract(first)
    idx = str(tmp_path / "idx")
    build_index(spark, first, idx, block_size=16, num_shards=2)

    assert append_batch(spark, rest, idx, batch_id=0) == 100
    ref = _index_snapshot(idx)

    # committed replay: skipped outright, state untouched
    assert append_batch(spark, rest, idx, batch_id=0) == 0
    assert _index_snapshot(idx) == ref

    # uncommitted replay: strip the commit flag (as if the attempt died
    # right before the atomic ledger write) and re-deliver
    led = _read_ledger(idx)
    led["batches"]["0"] = {"base": led["batches"]["0"]["base"], "committed": False}
    _write_ledger(idx, led)
    assert append_batch(spark, rest, idx, batch_id=0) == 100
    assert _index_snapshot(idx) == ref

    # no duplicate documents landed anywhere
    meta = spark.read.parquet(os.path.join(idx, "docs_meta"))
    assert meta.count() == meta.select("doc_id").distinct().count() == 200


def test_append_of_token_free_docs_commits(spark, tmp_path):
    """Docs with no tokens write docs_meta rows and a manifest row but
    no blocks/shard=N/ directory. Their append commits: the ledger marks
    it, stats.json counts the docs, and the lexicon is unchanged."""
    from web_search_engine_spark.sources.catalog import read_stats
    from web_search_engine_spark.streaming.incremental import (
        _read_ledger,
        append_batch,
    )

    full = corpus_df(spark, n_docs=200, seed=5)
    idx = str(tmp_path / "idx")
    build_index(spark, full, idx, block_size=16, num_shards=2)

    def lexicon_rows():
        return sorted(
            tuple(r) for r in spark.read.parquet(os.path.join(idx, "lexicon")).collect()
        )

    before = lexicon_rows()
    empty = full.limit(5).toPandas()
    empty = empty.assign(path=[f"zz/empty{i}.txt" for i in range(5)], content="")
    assert append_batch(spark, spark.createDataFrame(empty, full.schema), idx) == 5

    entry = _read_ledger(idx)["batches"]["0"]
    assert entry["committed"]
    shard = entry["base"] // int(read_stats(idx)["shard_size"])
    assert not os.path.exists(os.path.join(idx, "blocks", f"shard={shard}"))
    n_meta = spark.read.parquet(os.path.join(idx, "docs_meta")).count()
    assert read_stats(idx)["n_docs"] == n_meta == 205
    assert lexicon_rows() == before


def test_append_batch_lexicon_merge_is_o_delta(spark, tmp_path, monkeypatch):
    """A fresh micro-batch must fold ONLY the new shards' block files
    into the lexicon — never rescan the whole index per batch."""
    import web_search_engine_spark.streaming.incremental as inc

    full = corpus_df(spark, n_docs=200, seed=11).cache()
    first = full.limit(100)
    rest = full.subtract(first)
    idx = str(tmp_path / "idx")
    build_index(spark, first, idx, block_size=16, num_shards=2)

    captured = {}
    orig = inc.merge_lexicon

    def spy(s, d, shards):
        files = orig(s, d, shards)
        captured["shards"], captured["files"] = shards, files
        return files

    monkeypatch.setattr(inc, "merge_lexicon", spy)
    assert inc.append_batch(spark, rest, idx, batch_id=0) == 100

    assert captured["shards"] is not None and len(captured["shards"]) >= 1
    new_dirs = [f"/shard={s}/" for s in captured["shards"]]
    assert captured["files"], "merge read no files"
    for f in captured["files"]:
        assert any(nd in f for nd in new_dirs), f

    # and the incrementally-merged lexicon equals a full rebuild
    from web_search_engine_spark.operators.blocks import lexicon_from_blocks

    merged = {
        r["term"]: (r["df"], r["nblocks"], r["max_tf"])
        for r in spark.read.parquet(os.path.join(idx, "lexicon")).collect()
    }
    fresh = {
        r["term"]: (r["df"], r["nblocks"], r["max_tf"])
        for r in lexicon_from_blocks(
            spark.read.parquet(os.path.join(idx, "blocks"))
        ).collect()
    }
    assert merged == fresh


def test_first_append_base_comes_from_the_manifest(spark, tmp_path):
    """The first append starts at the first id past the last committed
    shard. Read from manifest rows it equals the value a docs_meta
    doc_id scan gives, on a multi-shard build and on an empty index, and
    an unreadable docs_meta file can no longer reset it to 0 (which made
    the append overwrite shard 0)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    from web_search_engine_spark.sources.catalog import read_stats
    from web_search_engine_spark.streaming.incremental import _init_ledger

    def docs_meta_base(d, shard_size):
        ids = pads.dataset(
            os.path.join(d, "docs_meta"), partitioning="hive"
        ).to_table(columns=["doc_id"]).column("doc_id")
        if not len(ids):
            return 0
        return (pc.max(ids).as_py() // shard_size + 1) * shard_size

    multi, empty = str(tmp_path / "multi"), str(tmp_path / "empty")
    src = corpus_df(spark, n_docs=130, seed=5)
    build_index(spark, src, multi, num_shards=4)
    build_index(spark, src.limit(0), empty)
    for d, want in ((multi, 132), (empty, 0)):
        shard_size = int(read_stats(d)["shard_size"])
        assert _init_ledger(d, shard_size)["next_base"] == want
        assert docs_meta_base(d, shard_size) == want

    shard0 = os.path.join(multi, "docs_meta", "shard=0")
    with open(os.path.join(shard0, "part-unreadable.parquet"), "wb") as f:
        f.write(b"not parquet")
    assert _init_ledger(multi, 33)["next_base"] == 132


def test_torn_manifest_part_raises(spark, tmp_path):
    """A manifest part that cannot be read must fail the read, not look
    like an index with no committed shards (a resume would rebuild
    over them and an append would recount N without them). A
    dot-prefixed part — a commit still being written — is skipped."""
    import pyarrow as pa

    from web_search_engine_spark.plans.build_index import _read_manifest_rows

    d = str(tmp_path / "idx")
    build_index(spark, corpus_df(spark, n_docs=60, seed=3), d, num_shards=2)
    man = os.path.join(d, "manifest")
    parts = os.listdir(man)
    assert len(parts) == 1 and not parts[0].startswith(".")
    with open(os.path.join(man, parts[0]), "rb") as f:
        data = f.read()
    rows = _read_manifest_rows(d)
    assert sorted(r["shard"] for r in rows) == [0, 1]

    with open(os.path.join(man, ".part-inflight.parquet"), "wb") as f:
        f.write(data[: len(data) // 2])
    assert _read_manifest_rows(d) == rows

    with open(os.path.join(man, "part-torn.parquet"), "wb") as f:
        f.write(data[: len(data) // 2])
    with pytest.raises(pa.ArrowInvalid):
        _read_manifest_rows(d)
