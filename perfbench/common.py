"""Shared run context: paths inside the checkout, Spark session settings,
statistics helpers and the run-environment record."""

from __future__ import annotations

import hashlib
import math
import os
import re
import shutil
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def code_id() -> str:
    """Hash of every .py file of the engine package and of the benchmark.

    Cached fixtures (serving index, hot-pool DAAT answers, refresh base
    index) live under a directory named by it, so code that builds,
    encodes or scores differently never serves or checks against a
    fixture that other code made."""
    h = hashlib.sha256()
    for top in ("web_search_engine_spark", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                    with open(path, "rb") as fh:
                        h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


CACHE = os.path.join(WORK, "cache", code_id())

# Zipf vocabulary shared by every workload: 100k words, so the tail
# beyond rank 10k (90k words) is more than 10x the engine's 8,192-term
# serving cache.
VOCAB_SIZE = 100_000


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    """Per-run settings and scratch space (wiped at the start of a run)."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.nproc = nproc()
        self.dir = os.path.join(WORK, "run")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.tmp = os.path.join(self.dir, "tmp")
        os.makedirs(self.tmp)
        # Python, the JVM and Spark keep every scratch file in the checkout
        os.environ["TMPDIR"] = self.tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        self.eventlog = os.path.join(self.dir, "eventlog")
        self.trace_file = os.path.join(WORK, "traces", f"{workload}-seed{seed}.json")
        self.report: list[str] = []

    def spark_conf(self, eventlog: bool) -> dict:
        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(self.dir, "spark-local"),
            # compiler threads kept alive for tree_cpu_s
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} "
                                             "-XX:-UseDynamicNumberOfCompilerThreads",
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if eventlog:
            os.makedirs(self.eventlog, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.eventlog,
                "spark.eventLog.compress": "false",
            })
        return conf

    def spark(self, eventlog: bool):
        from web_search_engine_spark.session import get_spark

        return get_spark(
            f"perfbench-{self.workload}", master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc, extra_conf=self.spark_conf(eventlog),
        )

    def note(self, line: str) -> None:
        """One human-readable report line (printed before the result)."""
        self.report.append(line)


_TICK = os.sysconf("SC_CLK_TCK")
# HotSpot's JIT compiler threads ("C1 CompilerThread0", ...)
_JIT_THREAD = re.compile(r"C\d CompilerThre")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of one /proc stat file, None if gone."""
    try:
        with open(path) as f:
            text = f.read()
    except OSError:  # the process or thread ended while we looked
        return None
    return text[text.index("(") + 1:text.rindex(")")], text.rsplit(")", 1)[1].split()


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it, including children already reaped by their
    parents: for refresh_batch, this Python driver, the Spark JVM and its
    Python workers.

    The JVM's JIT compiler threads are left out. Spark generates new
    classes for every query, and how much of them HotSpot compiles during
    a call depends on timing: those threads used 44% of the CPU of the
    timed calls in one run, and leaving them out cut the spread of
    ``single_cpu_ms`` over five runs from 0.25 to 0.08. They stay alive
    (``-XX:-UseDynamicNumberOfCompilerThreads`` in ``Run.spark_conf``),
    so no compiler thread's CPU leaves the sum."""
    root = os.getpid()
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(f"/proc/{name}/stat")):
            comm, fields = st
            pid = int(name)
            parent[pid] = int(fields[1])
            ticks[pid] = sum(int(x) for x in fields[11:15])  # utime..cstime
            if comm == "java":
                for tid in os.listdir(f"/proc/{name}/task"):
                    th = _stat(f"/proc/{name}/task/{tid}/stat")
                    if th and _JIT_THREAD.match(th[0]):
                        ticks[pid] -= int(th[1][11]) + int(th[1][12])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / _TICK


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, q in (0, 100]."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def supported_percentile(n: int) -> float:
    """Highest of the usual percentiles with at least ten samples above it."""
    best = 50.0
    for q in (75.0, 90.0, 95.0, 99.0, 99.9):
        if n * (100.0 - q) >= 1000.0 - 1e-6:
            best = q
    return best


def timing_line(name: str, unit: str, values: list[float]) -> str:
    """``name: median, highest supported percentile, sample count``."""
    if not values:
        return f"{name}: no samples"
    q = supported_percentile(len(values))
    tail = f"p{q:g}={percentile(values, q):.4f} {unit} " if q > 50 else ""
    return f"{name}: p50={statistics.median(values):.4f} {unit} {tail}n={len(values)}"


def environment() -> dict:
    """nproc, load average, pyspark and Python versions and commit, recorded
    with every run (run.py adds the CPU steal over the run)."""
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
            # never report the commit of a repository enclosing the checkout
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    return {
        "nproc": nproc(),
        "loadavg": os.getloadavg(),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "commit": commit,
    }


def stop_spark() -> None:
    """Stop the active SparkContext, if any, and the JVM gateway process,
    and wait for the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=120)
