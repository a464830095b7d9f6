"""Spark-free checks of the index build's decision rules and of the
package's environment-knob surface."""

import ast
import pathlib

import web_search_engine_spark
import web_search_engine_spark.plans.build_index as B

PACKAGE = pathlib.Path(web_search_engine_spark.__file__).parent

# Every WSE_* environment variable the package reads. Adding a knob
# therefore takes a visible edit to this list.
PINNED_KNOBS = {
    "WSE_BUILD_TIMINGS",
    "WSE_EXPECTED_ROW_BYTES",
    "WSE_READER_CHECK",
    "WSE_VERIFY_DOC_IDS",
}


def test_dl_source_rule_threshold():
    t = B._DL_AUTO_MIN_DOCS
    assert B._dl_source(t - 1) == "tokenize"
    assert B._dl_source(t) == "postings"
    assert B._dl_source(0) == "tokenize"


def test_dl_agg_rule_threshold():
    # partial only while it still shrinks the exchange 2x:
    # 2 * P * docs <= |postings|
    p, docs = 8, 1000
    edge = B._DL_AGG_MIN_REDUCTION * p * docs
    assert B._dl_agg(docs, edge, p) == "partial"
    assert B._dl_agg(docs, edge - 1, p) == "repartition"
    # no postings count: parallelism alone decides
    wide = B._DL_AGG_WIDE_PARALLELISM
    assert B._dl_agg(docs, None, wide - 1) == "partial"
    assert B._dl_agg(docs, None, wide) == "repartition"


def test_dl_join_rule_threshold():
    t = B._DL_BROADCAST_MAX_DOCS
    assert B._dl_join(t) == "broadcast"
    assert B._dl_join(t + 1) == "shuffle"


def test_write_parallelism_rule():
    docs_per, bytes_per = B._DOCS_PER_WRITE_TASK, B._BYTES_PER_WRITE_TASK
    # floor: one task per pending shard
    assert B._write_parallelism(32, 3, 10, 0) == 3
    # docs term: one task per _DOCS_PER_WRITE_TASK docs, rounded up
    assert B._write_parallelism(32, 1, 5 * docs_per, 0) == 5
    assert B._write_parallelism(32, 1, 5 * docs_per + 1, 0) == 6
    # bytes term for few large documents
    assert B._write_parallelism(32, 1, 10, 7 * bytes_per) == 7
    # cap: the session's parallelism
    assert B._write_parallelism(4, 3, 100 * docs_per, 0) == 4


def _env_reads(path: pathlib.Path) -> set[str]:
    """String names passed to os.environ.get / os.environ[...] /
    os.getenv in one module."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        key = None
        if isinstance(node, ast.Call) and node.args:
            f = ast.unparse(node.func)
            if f in ("os.environ.get", "os.getenv", "environ.get"):
                key = node.args[0]
        elif isinstance(node, ast.Subscript):
            if ast.unparse(node.value) in ("os.environ", "environ"):
                key = node.slice
        if isinstance(key, ast.Constant) and isinstance(key.value, str):
            names.add(key.value)
    return names


def test_knob_set_is_pinned():
    found = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for name in _env_reads(path):
            if name.startswith("WSE_"):
                found.setdefault(name, []).append(str(path.relative_to(PACKAGE)))
    assert set(found) == PINNED_KNOBS, found
    build_path = {
        n for n, files in found.items()
        if {"plans/build_index.py", "operators/blocks.py"} & set(files)
    }
    assert build_path == {"WSE_BUILD_TIMINGS"}
