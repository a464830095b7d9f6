"""Tiny-size smoke test of the benchmark.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload, untraced and traced, at a few thousand documents in
a temporary work directory, and checks that the last output line names
every metric of BENCHMARK.json with its unit and that every correctness
check passed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


# one process per run, as the real benchmark does (a PySpark JVM is not
# relaunched inside one process); sizes shrunk to a few thousand docs
TINY = """
import sys
sys.path[:0] = [{here!r}, {root!r}]
import common, fixture, refresh, run, serveload
common.WORK = {work!r}
common.CACHE = {work!r} + "/cache"
fixture.SERVE_DOCS = 3000
refresh.BASE_DOCS = 1000
refresh.BATCH_DOCS = 200
serveload.ROUNDS = 1
sys.exit(run.main(sys.argv[1:]))
"""


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    return str(tmp_path_factory.mktemp("perfbench"))


def _run(work: str, workload: str, trace: int) -> dict:
    code = TINY.format(here=HERE, root=os.path.dirname(HERE), work=work)
    proc = subprocess.run(
        [sys.executable, "-c", code, "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_spec_matches_code():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.LAYERS


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_prints_every_metric(work, workload, trace):
    res = _run(work, workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    for m in res["metrics"].values():
        assert isinstance(m["value"], float)
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())
