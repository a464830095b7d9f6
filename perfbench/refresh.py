"""refresh_batch: appends beside reads on one index, through Spark.

Set-up is the Spark session start (JVM launch) plus opening an
``IndexCatalog``: one sample per run, since a second JVM launch would
cost every run another ten seconds and a SparkContext restarted inside
one JVM measures neither. Placing the base index is not part of it: a
copy of the base index cached in the checkout, or, in a traced run and in
the first run of a version of the code, a ``build_index`` of its fixed
corpus. The cycle's append and relational cache fill run before its timed
reads, and one untimed 64-query set and one untimed single query, OR
and AND, run through both paths before the first cycle, so the JIT and
the Python workers are warm when the reads are timed.

Each cycle, repeated until ``--seconds`` have passed:

1. ``append_batch`` adds one seeded micro-batch as new shards;
2. ``IndexCatalog.refresh()`` picks up the new snapshot, and n_docs and
   Σdl are checked against what the generator produced;
3. the relational postings (``blocks_to_postings`` of the snapshot) are
   cached again for the relational path;
4. two fixed 64-query OR sets, then three fixed single queries, each
   OR and AND, through ``batch_score`` (block table) and
   ``score_queries(..., lexicon=)`` (relational, pays the
   ``probe_lexicon`` job). Each path's rows must equal the other's under
   the canonical form.

The gated figures are CPU time of the whole process tree (this Python
driver, the Spark JVM without its JIT compiler threads, and its Python
workers), not wall time; see ``run.py`` and ``common.tree_cpu_s``:

* ``setup_s``: CPU of the Spark session start plus the ``IndexCatalog``
  open (one sample per run);
* ``single_cpu_ms``: mean CPU per single-query call, over every such call
  of the run (both paths, OR and AND);
* ``bulk_cpu_ms``: CPU per query over the 64-query set calls.

Their wall times (``query_call_s``, ``batch_*_qps``, ``setup_wall_s``) are
report lines.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import common
import fixture
import gen
import spans as sp

BASE_DOCS = 5_000
BATCH_DOCS = 1_000
SET_SIZE = 64
SETS = 2  # 64-query OR sets per cycle, each through both paths
# The query sets and the single queries are the same in every run, so
# that their cost follows the code and not which words a seed draws: with
# sets drawn from --seed, CPU per query ranged 37-55 ms over seven runs,
# following the sets' mix of frequent words. --seed chooses the append
# batches. The single queries run OR and AND through both paths per cycle.
SETS_SEED = 12
SINGLES = 3
SINGLES_SEED = 11
TOPK = 10
# append batches take keys far above the base corpus' keys
BATCH_KEY_BASE = 10_000_000


def canon(rows) -> list:
    """bench.py's canonical row form for cross-path comparison."""
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 6)) for r in rows
    )


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
        if not f.startswith((".", "_"))
    )


class Refresh:
    def __init__(self, run: common.Run):
        from hooks import install_spark_hooks

        self.run = run
        self.tracer = sp.Tracer(enabled=run.trace)
        if run.trace:
            install_spark_hooks(self.tracer)
        self.vocab = gen.Vocabulary(common.VOCAB_SIZE)
        self.index = os.path.join(run.dir, "index")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.expect_docs = 0
        self.expect_sum_dl = 0
        self.input_bytes = 0
        self.used: list[str] = []
        self.overhead_ms = 0.0

    def verify(self, what: bool, label: str) -> None:
        self.attempted += 1
        if not what:
            self.failed += 1
            self.failures.append(label)

    def base_index(self, spark) -> None:
        """Put the base index at ``self.index`` (see the module docstring)."""
        from web_search_engine_spark.plans import build_index as bi
        from web_search_engine_spark.streaming.incremental import SOURCE_SCHEMA

        run = self.run
        pdf, sum_dl = gen.corpus(self.vocab, BASE_DOCS, fixture.CORPUS_SEED)
        self.expect_docs, self.expect_sum_dl = BASE_DOCS, sum_dl
        self.input_bytes = int(pdf["content"].str.len().sum())
        cached = os.path.join(common.CACHE, f"refresh-base-{BASE_DOCS}")
        if os.path.exists(cached) and not run.trace:
            shutil.copytree(cached, self.index)
            return
        src = spark.createDataFrame(pdf, SOURCE_SCHEMA).repartition(run.nproc)
        t0 = time.perf_counter()
        bi.build_index(spark, src, self.index, codec="varbyte", resume=False)
        build_s = time.perf_counter() - t0
        run.note(f"build: {BASE_DOCS} docs in {build_s:.3f} s "
                 f"({BASE_DOCS / build_s:.1f} docs/s, first build in the JVM)")
        if not os.path.exists(cached):
            shutil.copytree(self.index, cached + ".tmp")
            os.rename(cached + ".tmp", cached)

    def check_stats(self, cat, label: str) -> None:
        ok = cat.n_docs == self.expect_docs and round(cat.avgdl * cat.n_docs) == self.expect_sum_dl
        self.verify(ok, f"{label}: index has {cat.n_docs} docs avgdl {cat.avgdl}, "
                        f"generated {self.expect_docs} docs Σdl {self.expect_sum_dl}")

    # -- Spark-path calls ---------------------------------------------------

    def call(self, path: str, queries, mode: str, cat, rel) -> tuple[float, float, list]:
        """One Spark-path call: construct the DataFrame, then collect it;
        -> (wall seconds, CPU seconds of the process tree, rows)."""
        from web_search_engine_spark.plans.query import score_queries
        from web_search_engine_spark.plans.search import batch_score

        c0 = common.tree_cpu_s()
        t0 = time.perf_counter()
        with self.tracer.span("query.construct", path=path, n=len(queries)):
            if path == "blocks":
                df = batch_score(cat, queries, mode, TOPK)
            else:
                df = score_queries(rel, cat.doc_stats(), cat.n_docs, cat.avgdl,
                                   queries, mode, TOPK, lexicon=cat.lexicon())
        with self.tracer.span("query.execute", path=path, n=len(queries)):
            rows = df.collect()
        wall = time.perf_counter() - t0
        return wall, common.tree_cpu_s() - c0, canon(rows)

    def pair(self, queries, mode, cat, rel, label) -> dict:
        """-> {path: (wall s, CPU s)} of the same call through both paths."""
        self.used += [q for _, q in queries]
        out, rows = {}, {}
        for path in ("blocks", "relational"):
            wall, cpu, rows[path] = self.call(path, queries, mode, cat, rel)
            out[path] = (wall, cpu)
        self.verify(rows["blocks"] == rows["relational"],
                    f"{label}: batch_score and score_queries rows differ")
        return out

    def warm_up(self, cat, queries, single) -> None:
        """One untimed, untraced set, then one single query OR and AND,
        through both paths (their rows are still checked): the first
        Spark-path calls of a JVM, and the first of each kind, ran up to
        twice as long as later ones."""
        from web_search_engine_spark.operators.blocks import blocks_to_postings

        on, self.tracer.enabled = self.tracer.enabled, False
        used = len(self.used)
        rel = blocks_to_postings(cat.blocks(), codec=cat.codec).cache()
        try:
            self.pair(queries, "OR", cat, rel, "warm-up OR set")
            for mode in ("OR", "AND"):
                self.pair([single], mode, cat, rel, f"warm-up {mode} single")
        finally:
            rel.unpersist()
            self.tracer.enabled = on
        del self.used[used:]

    # -- the workload -------------------------------------------------------

    def execute(self) -> dict:
        from web_search_engine_spark.operators.blocks import blocks_to_postings
        from web_search_engine_spark.sources.catalog import IndexCatalog
        from web_search_engine_spark.streaming import incremental
        from web_search_engine_spark.streaming.incremental import SOURCE_SCHEMA

        run = self.run
        sets = gen.query_sets(self.vocab, SETS_SEED, 64, SET_SIZE)
        single_qs = gen.query_sets(self.vocab, SINGLES_SEED, 1, SINGLES)[0]
        c0 = common.tree_cpu_s()
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            spark = run.spark(eventlog=run.trace)
        session_s = time.perf_counter() - t0
        setup_cpu = common.tree_cpu_s() - c0
        try:
            self.base_index(spark)
            c0 = common.tree_cpu_s()
            t0 = time.perf_counter()
            cat = IndexCatalog(spark, self.index)
            setup_s = session_s + time.perf_counter() - t0
            setup_cpu += common.tree_cpu_s() - c0
            self.check_stats(cat, "base index")
            self.warm_up(cat, sets[-1], single_qs[0])

            appends, sets_timed = [], []
            kinds: dict[str, list] = {}  # "<path> <mode>" -> [(wall s, CPU s)]
            cycle_start = time.perf_counter()
            c = 0
            while c == 0 or time.perf_counter() - cycle_start < run.seconds:
                bpdf, bsdl = gen.corpus(
                    self.vocab, BATCH_DOCS, run.seed * 1000 + c + 1,
                    first_doc=BATCH_KEY_BASE + c * BATCH_DOCS,
                )
                self.input_bytes += int(bpdf["content"].str.len().sum())
                batch = spark.createDataFrame(bpdf, SOURCE_SCHEMA)
                t0 = time.perf_counter()
                n_new = incremental.append_batch(spark, batch, self.index, batch_id=c)
                appends.append(time.perf_counter() - t0)
                self.verify(n_new == BATCH_DOCS, f"append {c} added {n_new} docs")
                self.expect_docs += BATCH_DOCS
                self.expect_sum_dl += bsdl
                cat.refresh()
                self.check_stats(cat, f"append {c}")

                with self.tracer.span("bench.relational_cache"):
                    rel = blocks_to_postings(cat.blocks(), codec=cat.codec).cache()
                    rel.count()
                try:
                    for i in range(SETS):
                        sets_timed.append(self.pair(
                            sets[SETS * c + i], "OR", cat, rel, f"cycle {c} OR set {i}"))
                    for q in single_qs:
                        for mode in ("OR", "AND"):
                            timed = self.pair([q], mode, cat, rel, f"cycle {c} {mode} single")
                            for path, t in timed.items():
                                kinds.setdefault(f"{path} {mode}", []).append(t)
                finally:
                    rel.unpersist()
                c += 1
            if run.trace:
                self.overhead_ms = self.untraced_singles(cat)
            self.index_figures()
        finally:
            spark.stop()

        run.note(common.timing_line("append_s", "s", appends))
        run.note(f"append_docs_per_s={BATCH_DOCS / statistics.median(appends):.3f} 1/s")
        calls = [t for ts in kinds.values() for t in ts]
        run.note(common.timing_line("query_call_s", "s", [wall for wall, _ in calls]))
        for kind, ts in kinds.items():
            run.note(common.timing_line(f"query_call_s {kind}", "s", [wall for wall, _ in ts])
                     + f"; CPU p50={statistics.median(cpu for _, cpu in ts):.4f} s")
        single_cpu_ms = 1000.0 * sum(cpu for _, cpu in calls) / len(calls)
        run.note(f"single_cpu_ms={single_cpu_ms:.4f} ms, mean over {len(calls)} calls")
        qps = {p: statistics.median(SET_SIZE / t[p][0] for t in sets_timed)
               for p in ("blocks", "relational")}
        bulk_cpu_ms = 1000.0 * sum(cpu for t in sets_timed for _, cpu in t.values()) / (
            SET_SIZE * 2 * len(sets_timed))
        run.note(f"batch_blocks_qps={qps['blocks']:.3f} 1/s "
                 f"batch_relational_qps={qps['relational']:.3f} 1/s n={len(sets_timed)}; "
                 f"bulk_cpu_ms={bulk_cpu_ms:.4f} ms per query")
        run.note(f"setup_wall_s={setup_s:.4f} s (session start {session_s:.4f} s) "
                 f"setup_cpu_s={setup_cpu:.4f} s")
        run.note(f"error_rate={self.failed / max(1, self.attempted):.6f} "
                 f"({self.failed}/{self.attempted}) {'; '.join(self.failures)}")
        out = {
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                "setup_s": (setup_cpu, "s"),
                "single_cpu_ms": (single_cpu_ms, "ms"),
                "bulk_cpu_ms": (bulk_cpu_ms, "ms"),
            },
        }
        if run.trace:
            self.tracer.dump(run.trace_file)
            out["layers"] = self.layers(session_s)
        return out

    def index_figures(self) -> None:
        import pyarrow.dataset as pads

        lex = pads.dataset(os.path.join(self.index, "lexicon")).to_table(
            columns=["term", "df", "nblocks"])
        self.nblocks = dict(zip(lex.column("term").to_pylist(),
                                lex.column("nblocks").to_pylist()))
        self.index_stats = {
            "index.postings": float(sum(lex.column("df").to_pylist())),
            "index.blocks": float(sum(self.nblocks.values())),
        }
        total = 0
        for table in ("blocks", "docs_meta", "lexicon"):
            b = dir_bytes(os.path.join(self.index, table))
            self.index_stats[f"index.bytes.{table}"] = float(b)
            total += b
        self.index_stats["index.bytes_per_input_byte"] = total / self.input_bytes
        self.run.note(f"index_bytes_per_input_byte={total / self.input_bytes:.6f} "
                      f"({total} index bytes / {self.input_bytes} corpus bytes)")

    def layers(self, session_s) -> dict:
        run = self.run
        spans = self.tracer.spans
        log = sp.read_event_log(run.eventlog)
        jobs = sp.attribute_jobs(spans, log)
        selfs = sp.self_times(spans)
        layers = dict(self.index_stats)
        layers["session.start_s"] = session_s

        def per_span(name, spans_of):
            n = max(1, len(spans_of))
            counts = [sp.spark_counts(jobs.get(s["id"], []), log) for s in spans_of]
            for key in ("jobs", "stages", "tasks", "executor_cpu_s"):
                layers[f"{name}.{key}"] = sum(c[key] for c in counts) / n
            layers[f"{name}.task_skew"] = max((c["task_skew"] for c in counts), default=0.0)
            return counts

        base = sp.by_name(spans, "build.build_index")
        base_ids = {b["id"] for b in base}
        assign = [s for s in sp.by_name(spans, "build.assign_ids") if s["parent"] in base_ids]
        merge = [s for s in sp.by_name(spans, "build.lexicon_merge") if s["parent"] in base_ids]
        layers["build.assign_ids_s"] = sum(sp.durations(assign, "build.assign_ids"))
        layers["build.write_s"] = sum(selfs[s["id"]] for s in base)
        layers["build.lexicon_merge_s"] = sum(sp.durations(merge, "build.lexicon_merge"))
        per_span("build.assign_ids", assign)
        per_span("build.write", base)
        per_span("build.lexicon_merge", merge)

        app = sp.by_name(spans, "append.append")
        layers["append.append_s"] = statistics.median(sp.durations(app, "append.append"))
        app_merge = [s for s in sp.by_name(spans, "build.lexicon_merge")
                     if s["parent"] not in base_ids]
        layers["append.lexicon_merge_s"] = statistics.median(
            sp.durations(app_merge, "build.lexicon_merge"))
        per_span("append.append", app)

        layers["catalog.term_dfs_ms"] = 1000.0 * _mean(sp.durations(spans, "catalog.term_dfs"))
        layers["catalog.refresh_ms"] = 1000.0 * _mean(sp.durations(spans, "catalog.refresh"))

        cons = sp.by_name(spans, "query.construct")
        exe = sp.by_name(spans, "query.execute")
        layers["query.construct_ms"] = 1000.0 * _mean(sp.durations(cons, "query.construct"))
        layers["query.execute_s"] = _mean(sp.durations(exe, "query.execute"))
        per_span("query.construct", cons)
        layers["query.probe_jobs_per_call"] = layers["query.construct.jobs"]
        ecounts = per_span("query.execute", exe)
        layers["query.shuffle_bytes_per_call"] = _mean([c["shuffle_bytes"] for c in ecounts])
        layers["query.python_stage_s"] = _mean([c["python_stage_s"] for c in ecounts])
        layers["blocks.candidate_blocks_per_query"] = self.candidate_blocks()
        layers["trace.spans"] = float(len(spans))
        layers["trace.overhead_ms"] = self.overhead_ms
        return layers

    def candidate_blocks(self) -> float:
        return _mean([sum(self.nblocks.get(w, 0) for w in set(q.split())) for q in self.used])

    def untraced_singles(self, cat) -> float:
        """Median of single-query calls with span wrappers on minus the same
        calls with them off, interleaved on the last snapshot (the event log
        is on for both, so its cost is not in the difference)."""
        from web_search_engine_spark.operators.blocks import blocks_to_postings

        rel = blocks_to_postings(cat.blocks(), codec=cat.codec).cache()
        rel.count()
        timed = {True: [], False: []}
        try:
            for mode in ("OR", "AND"):
                for path in ("blocks", "relational"):
                    for on in (True, False):
                        self.tracer.enabled = on
                        timed[on].append(self.call(path, [("q", self.used[0])], mode, cat, rel)[0])
        finally:
            self.tracer.enabled = True
            rel.unpersist()
        self.run.note(common.timing_line("query_call_s traced", "s", timed[True]))
        self.run.note(common.timing_line("query_call_s untraced", "s", timed[False]))
        return 1000.0 * (statistics.median(timed[True]) - statistics.median(timed[False]))


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def run_refresh(run: common.Run) -> dict:
    try:
        return Refresh(run).execute()
    finally:
        common.stop_spark()
