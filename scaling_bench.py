"""Scaling-efficiency evidence (north rule: N -> 4N executors >= 0.8).

No real cluster exists in this sandbox, so the same index-build job runs
at two parallelism levels (local[8] vs local[32]) on identical input, as
BASELINE.json prescribes.

INTERLEAVED methodology (round 3): the sandbox VM's available CPU
throughput drifts 2-3x between measurement windows minutes apart, so
timing all local[8] trials and then all local[32] trials (round 1-2
method) compares two different machines. Instead the driver keeps ONE
warm child process per parallelism level (fresh JVM each, never running
concurrently) and alternates timed trials L,H,L,H,... — both levels
sample the same noise window. Best-of per level is reported, plus the
per-round pairwise efficiencies (each L/H pair is seconds apart).

Writes/updates BENCH.md with the throughput table. Usage:
    python scaling_bench.py [--docs 120000] [--trials 3] [--mode e2e]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

_CHILD = """
import sys, tempfile, shutil, time
from web_search_engine_spark.plans.build_index import build_index
from web_search_engine_spark.session import get_spark

cores, n_docs, num_shards, mode = (
    int(sys.argv[1]), int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
src_dir = f"/tmp/wse_scale_src_{n_docs}"  # corpus parquet, shared across runs
# shuffle + index output on tmpfs: a single virtio disk does not scale
# with cores and would mask compute scaling (126G /dev/shm available)
import os
_extra = {}
if os.environ.get("WSE_EVENTLOG_DIR"):
    # per-level event logs for stage/task forensics (idle vs CPU
    # inflation); parse with scripts/parse_evlog.py
    os.makedirs(os.environ["WSE_EVENTLOG_DIR"], exist_ok=True)
    _extra = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": os.environ["WSE_EVENTLOG_DIR"],
    }
if os.environ.get("WSE_AQE") == "0":
    # A/B knob: AQE's per-exchange materialization barriers serialize
    # query stages; measure what they cost the build at high parallelism
    _extra["spark.sql.adaptive.enabled"] = "false"
spark = get_spark(
    f"scale-{cores}", master=f"local[{cores}]", shuffle_partitions=cores,
    extra_conf={
        **_extra,
        "spark.local.dir": "/dev/shm/wse_shuffle",
        # the 431MB/64-file corpus packs into ~5 splits at the 128MB
        # default, capping every pre-shuffle scan stage (range-partition
        # sampling, the offsets count, the exchange write) at ~5 tasks —
        # measured as a ~50s parallelism-1..5 phase at the head of every
        # local[16] trial (round 4). Identical conf at BOTH levels; on a
        # real cluster the input would be sized to the executor count.
        # WSE_MAX_SPLIT_MB A/B knob: at 16 MB the 64 x 3.4 MB files pack
        # into ~18 splits — only ~1.1 waves of map tasks at 16 cores, so
        # the tokenize stage tail idles half the cores; smaller splits
        # give multiple balanced waves per core at both levels.
        "spark.sql.files.maxPartitionBytes": str(
            int(os.environ.get("WSE_MAX_SPLIT_MB", "16")) * 1024 * 1024
        ),
        "spark.sql.files.openCostInBytes": str(1 * 1024 * 1024),
    },
)
import os
if not os.path.exists(src_dir + "/_SUCCESS"):
    from web_search_engine_spark.sources.corpus import generate_corpus_pdf_fast
    pdf = generate_corpus_pdf_fast(n_docs, seed=42)
    spark.createDataFrame(pdf).repartition(64).write.mode("overwrite").parquet(src_dir)
src = spark.read.parquet(src_dir)

if mode == "e2e":
    def trial():
        # full from-scratch index build (4 Spark actions)
        out = tempfile.mkdtemp(prefix=f"wse_scale_{cores}_", dir="/dev/shm")
        t0 = time.perf_counter()
        build_index(spark, src, out, codec="varbyte", num_shards=num_shards,
                    resume=False)
        dt = time.perf_counter() - t0
        shutil.rmtree(out, ignore_errors=True)
        return dt
else:
    # datapath: the dominant stage as ONE action — tokenize (pandas_udf)
    # -> postings (two-phase hash agg) -> hash shuffle -> varbyte block
    # encode -> partitioned parquet write; source rows pre-cached (as in
    # the resident build), no driver-side metadata jobs in the window.
    from web_search_engine_spark.operators.blocks import build_block_index
    from web_search_engine_spark.operators.postings import (
        assign_doc_ids_counted, build_postings, with_tokens)
    docs, n, handle = assign_doc_ids_counted(src, ["repo", "path"])
    docs = docs.cache(); docs.count(); handle.unpersist()
    shard_size = max(1, -(-n_docs // num_shards))
    def trial():
        out = tempfile.mkdtemp(prefix=f"wse_dp_{cores}_", dir="/dev/shm")
        t0 = time.perf_counter()
        blocks = build_block_index(
            build_postings(with_tokens(docs, "content")),
            codec="varbyte", shard_size=shard_size, shards_hint=num_shards)
        blocks.write.mode("overwrite").partitionBy("shard").parquet(out)
        dt = time.perf_counter() - t0
        shutil.rmtree(out, ignore_errors=True)
        return dt

# protocol: parent sends RUN\\n -> run one trial, reply TRIAL <sec>;
# QUIT\\n -> exit. First RUN after start doubles as JIT/worker warmup
# (parent discards it).
print("READY", flush=True)
for line in sys.stdin:
    cmd = line.strip()
    if cmd == "RUN":
        print(f"TRIAL {trial():.3f}", flush=True)
    elif cmd == "QUIT":
        break
spark.stop()
"""


def _cpu_stat() -> tuple[int, int]:
    """(steal_jiffies, total_jiffies) from /proc/stat — the sandbox is a
    VM whose host STEALS a large, time-varying share of its vCPUs
    (observed 40%+ during 32-thread trials). An 8-thread job can still
    get 8 real cores; a 32-thread job cannot, so steal suppresses the
    measured high-parallelism throughput specifically. Sampling it per
    trial lets the report separate job scaling from host contention."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:9]]  # user nice sys idle iowait irq sirq steal
    return vals[7], sum(vals)


class _Level:
    """One warm child process pinned at a parallelism level."""

    def __init__(
        self,
        cores: int,
        n_docs: int,
        num_shards: int,
        mode: str,
        extra_env: dict | None = None,
    ):
        self.cores = cores
        env = dict(
            os.environ, PYTHONPATH=os.path.dirname(os.path.abspath(__file__))
        )
        env.update(extra_env or {})
        self.proc = subprocess.Popen(
            [sys.executable, "-c", _CHILD, str(cores), str(n_docs),
             str(num_shards), mode],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=subprocess.PIPE, text=True, env=env, bufsize=1,
        )
        self._expect("READY")

    def _expect(self, tag: str) -> tuple[str, list[str]]:
        extras = []
        while True:
            line = self.proc.stdout.readline()
            if not line:
                err = self.proc.stderr.read()
                raise RuntimeError(
                    f"child local[{self.cores}] died:\n{err[-3000:]}"
                )
            if line.startswith("BUILD_TIMING"):
                extras.append(line.strip())
                continue
            if line.startswith(tag):
                return line.strip(), extras

    def run_trial(self) -> tuple[float, float, dict[str, float]]:
        """-> (wall_sec, steal_frac, per-action walls when
        WSE_BUILD_TIMINGS=1 in the child env, else {})."""
        s0, t0 = _cpu_stat()
        self.proc.stdin.write("RUN\n")
        self.proc.stdin.flush()
        line, extras = self._expect("TRIAL")
        dt = float(line.split()[1])
        s1, t1 = _cpu_stat()
        steal = (s1 - s0) / max(1, t1 - t0)
        stages = {}
        for e in extras:  # "BUILD_TIMING <label> <sec>"
            _tag, label, sec = e.split()
            stages[label] = stages.get(label, 0.0) + float(sec)
        return dt, steal, stages

    def close(self) -> None:
        try:
            self.proc.stdin.write("QUIT\n")
            self.proc.stdin.flush()
            self.proc.wait(timeout=60)
        except Exception:
            self.proc.kill()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=120_000)
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--low", type=int, default=8)
    ap.add_argument("--high", type=int, default=32)
    ap.add_argument("--mode", default="e2e", choices=["e2e", "datapath"])
    ap.add_argument("--warmups", type=int, default=2)
    ap.add_argument(
        "--stage-timings", action="store_true",
        help="WSE_BUILD_TIMINGS=1 in the children: per-action walls "
        "(count/blocks/docs_meta/lexicon) reported per pair, so a miss "
        "decomposes to the stage that does not scale",
    )
    args = ap.parse_args()

    env = {"WSE_BUILD_TIMINGS": "1"} if args.stage_timings else None
    low = _Level(args.low, args.docs, 16, args.mode, extra_env=env)
    high = _Level(args.high, args.docs, 16, args.mode, extra_env=env)
    try:
        # discarded warmups (JIT + python worker pools + page cache — a
        # long-lived cluster executor is warm; one build does not fully
        # stabilize them: with --warmups 1 the first timed round's high
        # side consistently read ~1.5-2x its later rounds)
        for w in range(args.warmups):
            print(
                f"warmup {w} local[{args.low}]: {low.run_trial()[0]:.1f}s",
                flush=True,
            )
            print(
                f"warmup {w} local[{args.high}]: {high.run_trial()[0]:.1f}s",
                flush=True,
            )
        ncpu = os.cpu_count() or 32
        lows, highs, pair_eff, adj_eff = [], [], [], []
        stage_pairs: list[dict] = []
        ratio = args.high / args.low
        for t in range(args.trials):
            tl, sl, stl = low.run_trial()
            th, sh, sth = high.run_trial()
            lows.append(tl)
            highs.append(th)
            eff = (tl / th) / ratio
            pair_eff.append(eff)
            # cores the host actually let each trial have: steal removes
            # ~steal*ncpu vCPUs from the box for the trial's duration
            el = min(args.low, ncpu * (1 - sl))
            eh = min(args.high, ncpu * (1 - sh))
            aeff = (tl / th) / (eh / el)
            adj_eff.append(aeff)
            print(
                f"round {t}: local[{args.low}] {tl:.1f}s (steal {sl:.0%}) | "
                f"local[{args.high}] {th:.1f}s (steal {sh:.0%}) | "
                f"pair efficiency {eff:.3f} raw, {aeff:.3f} steal-adjusted",
                flush=True,
            )
            if stl and sth:
                stage_pairs.append({"low": stl, "high": sth})
                for label in stl:
                    if label in sth and sth[label] > 0:
                        seff = (stl[label] / sth[label]) / ratio
                        print(
                            f"  stage {label}: {stl[label]:.1f}s -> "
                            f"{sth[label]:.1f}s  eff {seff:.3f}",
                            flush=True,
                        )
    finally:
        low.close()
        high.close()

    best_l, best_h = min(lows), min(highs)
    tput_low = args.docs / best_l
    tput_high = args.docs / best_h
    eff_best = (tput_high / tput_low) / ratio
    eff_median = sorted(pair_eff)[len(pair_eff) // 2]
    adj_median = sorted(adj_eff)[len(adj_eff) // 2]
    summary = {
        "mode": args.mode,
        "docs": args.docs,
        f"local[{args.low}]_sec": round(best_l, 2),
        f"local[{args.high}]_sec": round(best_h, 2),
        f"throughput_{args.low}": round(tput_low, 1),
        f"throughput_{args.high}": round(tput_high, 1),
        "core_ratio": ratio,
        "scaling_efficiency": round(eff_best, 3),
        "pairwise_efficiencies": [round(e, 3) for e in pair_eff],
        "median_pair_efficiency": round(eff_median, 3),
        "steal_adjusted_efficiencies": [round(e, 3) for e in adj_eff],
        "median_steal_adjusted_efficiency": round(adj_median, 3),
    }
    if stage_pairs:
        summary["stage_pairs"] = [
            {
                side: {k: round(v, 2) for k, v in d.items()}
                for side, d in p.items()
            }
            for p in stage_pairs
        ]
    print(json.dumps(summary))
    if args.mode != "e2e":
        return

    pairs = ", ".join(f"{e:.3f}" for e in pair_eff)
    adj_pairs = ", ".join(f"{e:.3f}" for e in adj_eff)
    steal_note = "; ".join(
        f"round {t}: {lows[t]:.0f}s/{highs[t]:.0f}s" for t in range(args.trials)
    )
    section = f"""
## Scaling evidence (N -> {ratio:.0f}N cores, same input)

Full index build (tokenize pandas_udf -> postings -> varbyte blocks +
lexicon + doc stats, 16 shards) over {args.docs:,} deterministic
synthetic source files (seed 42). Methodology: one warm child process
per parallelism level (fresh JVM each, never concurrent),
{args.warmups} untimed warmup build(s) each, then {args.trials}
INTERLEAVED timed rounds
(L,H,L,H,... — the sandbox VM's CPU throughput drifts 2-3x between
windows minutes apart, so only same-window pairs are comparable);
shuffle dirs + output on tmpfs so the single sandbox disk does not mask
compute scaling. /proc/stat CPU-steal is sampled during every trial:
the host steals a time-varying share of the 32 vCPUs (observed 40%+),
which leaves an 8-thread trial its full 8 cores but physically denies a
32-thread trial its 32 — so raw pair efficiency under-reports the
job's scaling; the steal-adjusted number divides by the core ratio the
host actually granted (min(N, 32*(1-steal)) per trial).

| parallelism | best wall sec | docs/s |
|---|---|---|
| local[{args.low}] | {best_l:.1f} | {tput_low:,.0f} |
| local[{args.high}] | {best_h:.1f} | {tput_high:,.0f} |

(round walls: {steal_note})

**Scaling efficiency (throughput ratio / core ratio): {eff_best:.3f}
best-of; per-round raw pairs {pairs} (median {eff_median:.3f});
steal-adjusted pairs {adj_pairs} (median {adj_median:.3f})**
(north-rule target >= 0.8). Reference single-node baseline: 32.4k docs/s
tokenize+runs stage alone, 5.2k docs/s end-to-end (BASELINE.md).
"""
    try:
        existing = open("BENCH.md").read()
        head, rest = existing.split("\n## Scaling evidence", 1)
        head = head.rstrip()
        # preserve every section AFTER the replaced scaling section
        nxt = rest.find("\n## ")
        tail = rest[nxt:] if nxt >= 0 else ""
    except FileNotFoundError:
        head, tail = "# BENCH — engine benchmark evidence\n", ""
    with open("BENCH.md", "w") as f:
        f.write(head + "\n" + section.rstrip() + "\n" + tail)
    print("wrote BENCH.md")


if __name__ == "__main__":
    main()
