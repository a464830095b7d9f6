"""The benchmark's span hooks (perfbench/hooks.py) replace engine
functions by name at run time. Every name they wrap must still exist,
and the engine must call the serving kernels through the operators.wand
module globals at call time, or a wrapper installed after import records
nothing. No Spark session."""

import os

from tests.oracle import OracleIndex
from tests.test_serving_kernels import _docs, _write_index

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench")


def test_hooks_wrap_existing_names_and_record_kernel_spans(tmp_path, monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    import hooks
    from spans import Tracer

    from web_search_engine_spark.plans.search import SearchEngine

    tracer = Tracer(enabled=True)
    wrap = tracer.wrap

    def restorable_wrap(owner, attr, name, count=None):
        # set the target to itself first, so teardown puts it back
        monkeypatch.setattr(owner, attr, getattr(owner, attr))
        wrap(owner, attr, name, count)

    monkeypatch.setattr(tracer, "wrap", restorable_wrap)
    hooks.install_search_hooks(tracer)
    hooks.install_spark_hooks(tracer)

    d = _write_index(str(tmp_path / "idx"), OracleIndex(_docs()))
    eng = SearchEngine(d)
    assert eng.search("w00 w01", "OR", 10)
    assert eng.search("w00 w01", "AND", 10)
    names = {s["name"] for s in tracer.spans}
    assert {
        "search.search", "search.fetch", "wand.decode", "wand.taat_or", "wand.taat_and",
    } <= names
