"""serve_hot and serve_cold: POST /search against ``plans.serve.make_server``
running in its own process.

Load comes from one process, with at most ``nproc`` threads, each holding
at most one connection. A run is ``ROUNDS`` rounds, each a window of every
phase below in turn, so that a slow spell of a shared host falls on all
phases alike:

* Nominal (open loop): requests released on a fixed schedule, evenly
  spaced at the workload's nominal rate (``NOMINAL``, at or below a
  quarter of the lowest closed-loop capacity measured on a 4-vCPU host),
  and timed from when each was due, so queueing behind a stall counts.
  Gives the report lines ``serve_p50_ms`` / ``serve_p90_ms`` and the
  generator lag. At serve_cold's rate a run holds only a few such
  samples.
* Single (closed loop, one client): each request sent when the last one
  returned, so none waits behind another. Gives the median latency a
  lone user sees (report line) and the gated ``single_cpu_ms``: CPU
  time of the server process (every thread) per request.
* Saturated (closed loop, ``nproc / 2`` clients): completed requests per
  second, the median over the rounds' windows (report line), and the
  gated ``bulk_cpu_ms``: server CPU time per request under that load.
  The server handles requests under one interpreter lock, so two clients
  keep it busy.

The gated figures are CPU time rather than wall time, which followed the
host's CPU steal (see ``run.py``). ``setup_s`` is likewise the server
process's CPU time from its start until it has answered its first query,
median of ``SETUP_SAMPLES`` spawns; the spawn's wall time is a report
line.

A traced run replaces the saturated window by a traced single window
(server spans on) and reports the difference of the two single phases'
median latencies as the tracing overhead.

The hot workload serves one fixed pool of 48 queries (a query-log head)
in passes, each pass the whole pool in an order drawn from ``--seed``.
Every run then sends nearly the same mix, and its cost does not swing
with which heavy queries a seed happens to draw. The cold workload
draws fresh tail words from ``--seed`` for every request, with query
lengths in passes for the same reason.

Every response is checked against the exhaustive cursor DAAT result
(``SearchEngine.search(..., use_wand=False)``) of the same query, under the
6-dp rounded score / doc_id tie contract. For the hot pool it is computed
once per version of the code and cached beside the fixture; for cold
queries it is computed in this process once the server has stopped.
"""

from __future__ import annotations

import http.client
import json
import os
import queue
import statistics
import subprocess
import sys
import threading
import time

import numpy as np

import common
import fixture
import gen
import spans as sp

HOT_HEAD = 2000  # hot words: the 2,000 most frequent ranks
# hot pool: 4 queries of each length 1..12, 48 in all. A fixed pool, not
# one drawn per seed: with per-seed pools of this size the nominal p50
# ranged from 16 to 1,900 ms across seeds, following which heavy
# many-word queries a seed drew.
HOT_PER_LENGTH = 4
HOT_POOL_SEED = 7
TAIL_START = 10_000  # cold words: ranks 10k..100k, uniformly
# A chosen mix, not taken from a query log: one query in three is AND, so
# every run times the AND kernels (taat_and) beside the OR ones.
AND_SHARE = 1 / 3
SETUP_SAMPLES = 3
ROUNDS = 8
TOPK = 10

# Open-loop rate of the nominal phase (1/s). Closed-loop capacity with 2
# clients on a 4-vCPU host, over 10 runs each at 1-23% CPU steal, was
# 67-132/s on serve_hot and 6.5-19/s on serve_cold; each rate is at or
# below a quarter of the lowest of these.
NOMINAL = {"serve_hot": 15.0, "serve_cold": 1.5}
# Share of --seconds spent in each phase: nominal, single, saturated (a
# traced run splits the last two between its single phases).
SHARES = {"serve_hot": (0.2, 0.4, 0.4), "serve_cold": (0.2, 0.45, 0.35)}

SERVER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "server.py")


class Server:
    """One ``server.py`` process, started and ready to serve."""

    def __init__(self, index_dir: str, trace_path: str):
        self.proc = subprocess.Popen(
            [sys.executable, SERVER, index_dir, trace_path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, bufsize=1,
        )
        line = self.proc.stdout.readline().split()
        if not line or line[0] != "READY":
            self.close()
            raise RuntimeError(f"search server failed to start: {line!r}")
        self.port, self.open_s = int(line[1]), float(line[2])

    def command(self, cmd: str) -> str:
        """Send one command; -> what the server added to its ``OK``."""
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        reply = self.proc.stdout.readline().split()
        if reply[:1 + len(cmd.split())] != ["OK", *cmd.split()]:
            raise RuntimeError(f"search server did not acknowledge {cmd!r}: {reply!r}")
        return " ".join(reply[1 + len(cmd.split()):])

    def cpu_s(self) -> float:
        """CPU seconds the server process has used since it started."""
        return float(self.command("CPU"))

    def close(self) -> None:
        if self.proc.stdin and not self.proc.stdin.closed:
            self.proc.stdin.close()
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def post(port: int, rec: dict) -> None:
    """Send one request described by ``rec`` and store the outcome in it."""
    body = json.dumps({"query": rec["query"], "mode": rec["mode"], "topk": TOPK})
    rec["send"] = time.perf_counter()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
        try:
            conn.request("POST", "/search", body, {
                "Content-Type": "application/json", "X-Request-Id": str(rec["rid"]),
            })
            resp = conn.getresponse()
            data = resp.read()
        finally:
            conn.close()
        rec["status"] = resp.status
        rec["results"] = json.loads(data).get("results") if resp.status == 200 else None
    except (OSError, http.client.HTTPException, ValueError) as e:
        rec["status"], rec["results"], rec["error"] = None, None, repr(e)
    rec["done"] = time.perf_counter()


def open_loop(port: int, stream, rate: float, n: int, workers: int) -> list[dict]:
    """Release ``n`` requests from ``stream`` on a schedule evenly spaced
    at ``rate``; return their records once all have completed."""
    pending: queue.Queue = queue.Queue()

    def work():
        while (rec := pending.get()) is not None:
            post(port, rec)

    threads = [threading.Thread(target=work) for _ in range(workers)]
    for t in threads:
        t.start()
    records = []
    t0 = time.perf_counter() + 0.02
    try:
        for i in range(n):
            due = t0 + i / rate
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            rec = next(stream)
            rec.update(due=due, dispatch=time.perf_counter())
            records.append(rec)
            pending.put(rec)
    finally:
        for _ in threads:
            pending.put(None)
        for t in threads:
            t.join()
    return records


def latencies_ms(records: list[dict]) -> list[float]:
    """From-due latency; a failed request counts as missing every limit."""
    return [
        (r["done"] - r["due"]) * 1000.0 if r["status"] == 200 else float("inf")
        for r in records
    ]


def closed_loop(port: int, stream, seconds: float, workers: int) -> tuple[list[dict], float]:
    """``workers`` clients back to back until ``seconds`` have passed;
    -> (records, seconds from the start until the last one completed)."""
    records: list[dict] = []
    t0 = time.perf_counter()
    end = t0 + seconds

    def work():
        for rec in stream:
            if time.perf_counter() >= end:
                return
            rec["due"] = rec["dispatch"] = time.perf_counter()
            post(port, rec)
            records.append(rec)

    threads = [threading.Thread(target=work) for _ in range(workers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records, time.perf_counter() - t0


def canonical(hits: list[tuple[int, float]]) -> list[tuple[int, float]]:
    return sorted(((int(d), round(float(s), 6)) for d, s in hits), key=lambda x: (-x[1], x[0]))


def same_topk(got: list, want: list) -> bool:
    """Equal under the rounded-score / doc_id contract; docs tied on the
    rounded score at the k-th place may differ, their scores may not."""
    if len(got) != len(want):
        return False
    if not want:
        return True
    last = want[-1][1]
    head = [x for x in want if x[1] != last]
    return got[: len(head)] == head and [s for _, s in got[len(head):]] == [
        s for _, s in want[len(head):]
    ]


def with_modes(queries: list[str], rng: np.random.Generator) -> list[tuple[str, str]]:
    modes = rng.random(len(queries)) < AND_SHARE
    return [(q, "AND" if m else "OR") for q, m in zip(queries, modes)]


def daat(engine, pairs) -> dict:
    """Exhaustive DAAT top-k of each (query, mode) in canonical form."""
    return {
        (q, m): canonical(engine.search(q, m, TOPK, use_wand=False)) for q, m in pairs
    }


def hot_pool(index_dir: str, vocab: gen.Vocabulary) -> tuple[list, dict]:
    """The fixed hot pool and its DAAT results, cached per checkout."""
    path = os.path.join(common.CACHE, f"hot-pool-{fixture.SERVE_DOCS}.json")
    if not os.path.exists(path):
        from web_search_engine_spark.plans.search import SearchEngine

        pool = with_modes(
            gen.hot_queries(vocab, HOT_POOL_SEED, HOT_PER_LENGTH, HOT_HEAD),
            np.random.default_rng([HOT_POOL_SEED, 5]),
        )
        want = daat(SearchEngine(index_dir), pool)
        with open(path + ".tmp", "w") as f:
            json.dump([[q, m, want[(q, m)]] for q, m in pool], f)
        os.rename(path + ".tmp", path)
    with open(path) as f:
        rows = json.load(f)
    return [(q, m) for q, m, _ in rows], {(q, m): [tuple(x) for x in w] for q, m, w in rows}


class Streams:
    """Seeded request stream of one serve workload."""

    def __init__(self, workload: str, seed: int, vocab: gen.Vocabulary, index_dir: str):
        self.rng = np.random.default_rng([seed, 4])
        self.next_rid = 0
        self.hot = workload == "serve_hot"
        self.want: dict = {}
        if self.hot:
            self.pool, self.want = hot_pool(index_dir, vocab)
        else:
            # far more than a run sends; words never repeat
            self.pool = with_modes(gen.cold_queries(vocab, seed, 6000, TAIL_START), self.rng)
        self.pos = 0
        self.order: list[int] = []
        self.lock = threading.Lock()

    def __iter__(self):
        return self

    def __next__(self) -> dict:
        with self.lock:
            if self.hot:
                if not self.order:
                    self.order = list(self.rng.permutation(len(self.pool)))
                q, mode = self.pool[self.order.pop()]
            else:
                if self.pos == len(self.pool):
                    raise StopIteration
                q, mode = self.pool[self.pos]
                self.pos += 1
            self.next_rid += 1
            return {"rid": self.next_rid, "query": q, "mode": mode}

    def warm_up(self) -> list[dict]:
        """Hot: every pool query once; cold: a few queries."""
        if not self.hot:
            return [next(self) for _ in range(8)]
        out = []
        for q, mode in self.pool:
            self.next_rid += 1
            out.append({"rid": self.next_rid, "query": q, "mode": mode})
        return out

    def working_set(self) -> int:
        used = self.pool if self.hot else self.pool[: self.pos]
        return len({w for q, _ in used for w in q.split()})


def check(records: list[dict], index_dir: str, want: dict) -> int:
    """Number of records whose response is missing or differs from the
    exhaustive DAAT result (``want``, completed here for queries it lacks)."""
    distinct = sorted({(r["query"], r["mode"]) for r in records} - set(want))
    if distinct:
        from web_search_engine_spark.plans.search import SearchEngine

        engine = SearchEngine(index_dir)
        # one OR search first reads every needed row group in a single pass
        engine.search(" ".join(sorted({w for q, _ in distinct for w in q.split()})), "OR", 1)
        want = {**want, **daat(engine, distinct)}
    bad = 0
    for r in records:
        got = None if r["results"] is None else canonical(
            (x["doc_id"], x["score"]) for x in r["results"]
        )
        if got is None or not same_topk(got, want[(r["query"], r["mode"])]):
            bad += 1
    return bad


def run_serve(run: common.Run) -> dict:
    rate = NOMINAL[run.workload]
    index_dir = fixture.serve_index(run)
    vocab = gen.Vocabulary(common.VOCAB_SIZE)
    stream = Streams(run.workload, run.seed, vocab, index_dir)
    records: list[dict] = []

    setup, setup_cpu, opens = [], [], []
    server = None
    try:
        for i in range(SETUP_SAMPLES):
            if server is not None:
                server.close()
            last = i == SETUP_SAMPLES - 1
            t0 = time.perf_counter()
            server = Server(index_dir, run.trace_file if run.trace and last else "-")
            first = next(stream)
            post(server.port, first)
            setup.append(time.perf_counter() - t0)
            setup_cpu.append(server.cpu_s())
            opens.append(server.open_s)
            first["due"] = first["send"]
            records.append(first)

        warm = stream.warm_up()
        for rec in warm:
            post(server.port, rec)
            rec["due"] = rec["send"]
        records += warm

        share_nominal, share_single, share_saturated = SHARES[run.workload]
        if run.trace:
            # untraced and traced single windows of equal length
            share_single = share_saturated = (share_single + share_saturated) / 2
        # nominal requests per round, spread evenly over the rounds
        total = max(ROUNDS, round(rate * run.seconds * share_nominal))
        sizes = [total // ROUNDS + (i < total % ROUNDS) for i in range(ROUNDS)]
        single_s = run.seconds * share_single / ROUNDS
        saturated_s = run.seconds * share_saturated / ROUNDS
        clients = max(1, run.nproc // 2)
        nominal, single, traced, saturated, rates = [], [], [], [], []
        cpu = {"single": 0.0, "saturated": 0.0}
        for n in sizes:
            nominal += open_loop(server.port, stream, rate, n, run.nproc)
            c0 = server.cpu_s()
            single += closed_loop(server.port, stream, single_s, 1)[0]
            c1 = server.cpu_s()
            cpu["single"] += c1 - c0
            if run.trace:
                server.command("TRACE ON")
                traced += closed_loop(server.port, stream, saturated_s, 1)[0]
                server.command("TRACE OFF")
            else:
                recs, took = closed_loop(server.port, stream, saturated_s, clients)
                cpu["saturated"] += server.cpu_s() - c1
                saturated += recs
                rates.append(len(recs) / took)
        records += nominal + single + traced + saturated
    finally:
        if server is not None:
            server.close()

    failed = check(records, index_dir, stream.want)
    lat = [x for x in latencies_ms(single) if x != float("inf")]
    nominal_lat = [x for x in latencies_ms(nominal) if x != float("inf")]
    lag = [(r["dispatch"] - r["due"]) * 1000.0 for r in nominal]
    single_cpu_ms = 1000.0 * cpu["single"] / len(single)
    bulk_cpu_ms = 1000.0 * cpu["saturated"] / len(saturated) if saturated else 0.0
    from web_search_engine_spark.plans.search import _TERM_CACHE_SIZE

    run.note(f"serve: vocabulary={vocab.size} words, working set={stream.working_set()} "
             f"words vs term cache {_TERM_CACHE_SIZE}")
    run.note(common.timing_line(f"serve_latency_ms@{rate:g}/s", "ms", nominal_lat))
    run.note(f"serve_p50_ms={statistics.median(nominal_lat):.4f} ms "
             f"serve_p90_ms={common.percentile(nominal_lat, 90):.4f} ms n={len(nominal_lat)}")
    run.note(common.timing_line("single_client_latency_ms", "ms", lat)
             + f"; server CPU {single_cpu_ms:.4f} ms per request")
    if rates:
        run.note(f"serve_saturated_qps={statistics.median(rates):.3f} 1/s with {clients} "
                 f"clients, median of {len(rates)} windows; server CPU {bulk_cpu_ms:.4f} ms "
                 "per request; " + common.timing_line("latency_ms", "ms", latencies_ms(saturated)))
    run.note(common.timing_line("setup_wall_s", "s", setup))
    run.note(common.timing_line("setup_cpu_s", "s", setup_cpu))
    run.note(f"error_rate={failed / len(records):.6f} ({failed}/{len(records)})")
    out = {
        "attempted": len(records),
        "failed": failed,
        "metrics": {
            "setup_s": (statistics.median(setup_cpu), "s"),
            "single_cpu_ms": (single_cpu_ms, "ms"),
            "bulk_cpu_ms": (bulk_cpu_ms, "ms"),
        },
    }
    if run.trace:
        out["layers"] = serve_layers(run, single, traced, opens, lag)
    return out


def serve_layers(run, untraced, traced, opens, lag) -> dict:
    """Per-layer figures from the server's spans of the traced phase."""
    with open(run.trace_file) as f:
        spans = json.load(f)["spans"]
    searches = sp.by_name(spans, "search.search")
    n = max(1, len(searches))
    fetches = sp.by_name(spans, "search.fetch")
    decodes = sp.by_name(spans, "wand.decode")
    kernels = [s for s in spans if s["name"].startswith("wand.") and s["name"] != "wand.decode"]
    terms = sum(s["attrs"].get("terms", 0) for s in searches)
    misses = sum(s["attrs"]["misses"] for s in fetches)
    server_ms = {int(s["request"]): (s["end"] - s["start"]) * 1000.0
                 for s in searches if s["request"] is not None}
    overhead = [
        (r["done"] - r["send"]) * 1000.0 - server_ms[r["rid"]]
        for r in traced if r["status"] == 200 and r["rid"] in server_ms
    ]

    def p50(rs):
        return statistics.median(x for x in latencies_ms(rs) if x != float("inf"))

    layers = {
        "search.open_s": statistics.median(opens),
        "search.fetch_ms": 1000.0 * sum(sp.durations(spans, "search.fetch")) / n,
        "search.term_cache_hit_ratio": 1.0 - misses / terms if terms else 0.0,
        "search.block_rows_fetched": sum(s["attrs"]["rows"] for s in fetches) / n,
        "wand.decode_ms": 1000.0 * sum(sp.durations(spans, "wand.decode")) / n,
        "wand.postings_decoded": sum(s["attrs"]["postings"] for s in decodes) / n,
        "wand.score_ms": 1000.0 * sum(s["end"] - s["start"] for s in kernels) / n,
        "wand.postings_scored": sum(s["attrs"]["postings"] for s in kernels) / n,
        "serve.http_overhead_ms": statistics.median(overhead) if overhead else 0.0,
        "serve.generator_lag_ms": common.percentile(lag, 90),
        "trace.overhead_ms": p50(traced) - p50(untraced),
        "trace.spans": float(len(spans)),
    }
    from hooks import WAND_KERNELS

    for k in WAND_KERNELS:
        calls = len(sp.by_name(spans, f"wand.{k}"))
        layers[f"wand.kernel_share.{k}"] = calls / len(kernels) if kernels else 0.0
    run.note(f"trace: {len(spans)} spans, {len(searches)} searches; untraced p50 "
             f"{p50(untraced):.3f} ms, traced p50 {p50(traced):.3f} ms")
    return layers
